"""The streaming workloads: the production PnL and forecast jobs fed from
one JSON-lines file source carrying both topics.

- stream_steady: an open-loop generator process (generator.py) writes the
  reference traffic on the producer's 0.2 s schedule while `pnl_job` and
  `forecasts_job` run concurrently. The generator starts LIVE_WARMUP_S
  before the window opens, so the jobs reach their steady trigger rhythm
  (and the JVM its compiled code) on live traffic first. An event's
  latency runs from its due time to the commit of the first sink epoch
  carrying it; only events due inside the window are sampled.
- stream_backlog: the whole tape is written before the session starts,
  with rising modification times, and `pnl_job` drains it through a
  `maxFilesPerTrigger` cap. An event's latency runs from the start of the
  drain (the end of the warm-up batch) to the commit of its epoch.

A set-up is: write the tape's warm-up slice (stream_backlog: the whole
tape), build the session (`session.get_spark`, which launches the JVM),
start the jobs on fresh checkpoint and sink directories and let each
commit the warm-up slice as its first epoch (stream_steady: then the
live warm-up). After the window Spark and
its JVM stop, and every sink row is checked exactly against references
computed outside Spark (check.py).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

import check
import layers
from procstat import RssSampler
from tape import ROUND_US, SPECS, round_file, round_text, rounds, write_round

HERE = Path(__file__).resolve().parent
ROUND_S = ROUND_US / 1e6
# stream_backlog's tape holds this many rounds (5000 trades each) per
# second of --seconds, rounded up to whole capped batches: about half of
# what a 4-core box drains per second, so the drain (3 batches at 16 s)
# leaves room in the run for the set-up and the verification of 160k
# events.
BACKLOG_ROUNDS_PER_S = 1.5
# stream_steady's live traffic before the window opens: a trigger's time
# falls by a third over its first ~10 s of live epochs, then levels off
LIVE_WARMUP_S = 10.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile; refuses one with under 10 samples beyond."""
    n = len(xs)
    if n * (1 - q) < 10:
        raise ValueError(f"p{q * 100:g} needs 10 samples beyond it, "
                         f"have {n} samples")
    return sorted(xs)[max(0, math.ceil(q * n) - 1)]


def start_jobs(spark, d: Path, files_per_trigger: int | None,
               forecasts: bool) -> dict:
    from kafka_flink_processing_spark.sources.kafka import parse_topic
    from kafka_flink_processing_spark.streaming.jobs import (
        forecasts_job,
        pnl_job,
    )

    reader = spark.readStream.schema("topic string, value string")
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    raw = reader.json(str(d / "src"))
    prices = parse_topic(raw.filter(raw.topic == "prices"), "prices")
    trades = parse_topic(raw.filter(raw.topic == "trades"), "trades")
    out, ckpt = str(d / "out"), str(d / "ckpt")
    jobs = {"pnl": pnl_job(trades, prices, out, ckpt)}
    if forecasts:
        jobs["forecast"] = forecasts_job(prices, out, ckpt)
    return jobs


def shutdown_jvm() -> None:
    """Stop the gateway JVM pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class StreamRun:
    """One run of a streaming workload; owns its processes."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: Path):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.work = work
        self.dir = work / "stream"
        self.spec = SPECS[workload]
        self.backlog = self.spec.files_per_trigger is not None
        if self.backlog:   # whole batches of the capped source
            cap = self.spec.files_per_trigger
            self.n_window = cap * max(1, math.ceil(
                seconds * BACKLOG_ROUNDS_PER_S / cap))
            self.n_live = 0
        else:
            self.n_window = max(1, round(seconds / ROUND_S))
            self.n_live = round(LIVE_WARMUP_S / ROUND_S)
        # the first round due inside the window
        self.first_window = self.spec.warmup_rounds + self.n_live
        self.n_rounds = self.first_window + self.n_window
        self.sinks = check.SINKS[:2] if self.backlog else check.SINKS
        self.gen: subprocess.Popen | None = None
        self.spark = None
        self.queries: dict = {}
        self.rss = RssSampler(os.getpid())

    def close(self) -> None:
        """Stop everything this run started, waiting for each to end."""
        for q in self.queries.values():
            q.stop()
        self.queries = {}
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutdown_jvm()
        if self.gen is not None and self.gen.poll() is None:
            self.gen.kill()
        if self.gen is not None:
            self.gen.wait()
        self.rss.stop()

    def start(self) -> None:
        from kafka_flink_processing_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        self.queries = start_jobs(self.spark, self.dir,
                                  self.spec.files_per_trigger,
                                  forecasts=not self.backlog)

    def progress(self) -> dict:
        return {name: [json.loads(p.json) for p in q.recentProgress]
                for name, q in self.queries.items()}

    def execute(self) -> dict:
        src = self.dir / "src"
        src.mkdir(parents=True)
        self.rss.start()
        return self.drain(src) if self.backlog else self.steady(src)

    def steady(self, src: Path) -> dict:
        w0 = self.spec.warmup_rounds
        self.gen = subprocess.Popen(
            [sys.executable, str(HERE / "generator.py"),
             "--workload", self.workload, "--seed", str(self.seed),
             "--first", str(w0), "--rounds",
             str(self.n_live + self.n_window),
             "--src", str(src), "--log", str(self.work / "generator.json")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.rss.exclude.add(self.gen.pid)

        t0 = time.time()
        for r, evs in enumerate(rounds(self.workload, self.seed, w0)):
            write_round(str(src), r, round_text(evs).encode())
        self.start()
        for q in self.queries.values():
            q.processAllAvailable()

        app_id = self.spark.sparkContext.applicationId
        if self.gen.stdout.readline().strip() != "ready":
            raise RuntimeError("generator failed before the window")
        t_start = time.time() + 0.05
        self.gen.stdin.write(f"start {t_start!r}\n")
        self.gen.stdin.flush()
        t_open = t_start + self.n_live * ROUND_S
        setup_s = t_open - t0
        end = t_open + self.n_window * ROUND_S
        time.sleep(max(0.0, end - time.time()))
        if self.gen.wait(timeout=60) != 0:
            raise RuntimeError("generator exited with an error")
        for q in self.queries.values():
            q.processAllAvailable()
        drained = time.time()
        progress = self.progress()
        self.close()
        with open(self.work / "generator.json") as f:
            gen = json.load(f)
        return {"setup_s": setup_s, "open": t_open, "end": end,
                "drained": drained, "progress": progress, "app_id": app_id,
                "due": dict(enumerate(gen["due"], start=gen["first"])),
                "gen": gen}

    def drain(self, src: Path) -> dict:
        t0 = time.time()
        base_ns = time.time_ns() - self.n_rounds * 10**9
        for r, evs in enumerate(rounds(self.workload, self.seed,
                                       self.n_rounds)):
            write_round(str(src), r, round_text(evs).encode(),
                        mtime_ns=base_ns + r * 10**9)
        t_written = time.time()
        self.start()
        q = self.queries["pnl"]
        q.processAllAvailable()
        drained = time.time()
        app_id = self.spark.sparkContext.applicationId
        progress = self.progress()
        self.close()
        starts = {p["batchId"]: layers.progress_time(p)
                  for p in progress["pnl"]}
        if 1 not in starts:
            raise RuntimeError("the backlog drain took a single batch")
        t_open = starts[1]
        setup_s = t_open - t0
        # every window round is due when the drain starts
        due = {r: t_open for r in range(self.spec.warmup_rounds,
                                        self.n_rounds)}
        return {"setup_s": setup_s, "open": t_open, "end": drained,
                "drained": drained, "progress": progress, "app_id": app_id,
                "due": due, "written": t_written}


def verify_and_measure(run: StreamRun, res: dict
                       ) -> tuple[dict, dict, int, int]:
    w0 = run.spec.warmup_rounds
    tape = rounds(run.workload, run.seed, run.n_rounds)
    events = [e for evs in tape for e in evs]
    problems = check.tape_problems(events)
    file_batch = layers.source_batches(str(run.dir / "ckpt" / "pnl"))
    if run.backlog:
        problems += check.batch_order_problems(
            [file_batch.get(round_file(r)) for r in range(run.n_rounds)],
            w0)
    t0 = time.perf_counter()
    pnl_rows = check.expected_pnl(events)
    replay_s = time.perf_counter() - t0
    want = check.expected(events, pnl_rows)

    out = run.dir / "out"
    bad: set = set()
    first_diffs = []
    got = {}
    for sink in run.sinks:
        got[sink] = check.read_sink(str(out / sink), sink)
        b, msg = check.compare(sink, want[sink], got[sink][1])
        bad |= b
        if msg:
            first_diffs.append(msg)
    for msg in problems[:1] + first_diffs:
        print("MISMATCH " + msg, file=sys.stderr)

    due = res["due"]
    round_of = {(e.ts, e.hub): e.round for e in events}
    window_keys = {k for k, r in round_of.items() if r >= run.first_window}

    def latencies(sink: str) -> list[float]:
        commits, _rows, keys = got[sink]
        first: dict = {}
        for epoch, ks in keys.items():
            for k in ks:
                first[k] = min(first.get(k, math.inf), commits[epoch])
        return [(first[k] - due[round_of[k]]) * 1e3
                for k in want[sink] if k in window_keys and k in first]

    pnl_lat = latencies("positions_pnl")
    t_open, t_close = res["open"], res["end"]
    window_rss = [b for t, b in run.rss.samples if t_open <= t < t_close]
    attempted = len(events)
    failed = len(bad) + len(problems)
    e2e = {
        "setup_s": res["setup_s"],
        "rss_mb": statistics.median(window_rss) / 2**20,
        "latency_mean_ms": statistics.fmean(pnl_lat),
    }
    report = {
        "workload": run.workload, "seed": run.seed,
        "window_s": t_close - t_open,
        "events": len(events), "window_events": len(window_keys),
        "drain_after_window_s": res["drained"] - t_close,
        "pnl_latency_samples": len(pnl_lat),
        "peak_rss_mb": max(b for _t, b in run.rss.samples) / 2**20,
        "failed_frac": failed / attempted,
        "failed_window_events": len(bad & window_keys),
        "first_mismatch": (problems[:1] + first_diffs)[:1],
    }
    pcts = {"pnl": pnl_lat}
    if run.backlog:
        report["drain_events_per_s"] = len(window_keys) / (t_close - t_open)
    else:
        pcts["forecast"] = latencies("forecasts")
        report["forecast_latency_samples"] = len(pcts["forecast"])
        gen = res["gen"]
        report["generator_late_ms_max"] = max(
            (w - d) * 1e3 for d, w in zip(gen["due"], gen["written"]))
    for job, lat in pcts.items():
        for q in (0.50, 0.95, 0.99):
            name = f"{job}_latency_p{round(q * 100)}_ms"
            try:
                report[name] = percentile(lat, q)
            except ValueError as exc:
                report[name] = f"not reported: {exc}"
    if not run.trace:
        return e2e, report, attempted, failed

    report["e2e_traced"] = e2e
    prog = {name: layers.in_window(res["progress"].get(name, []),
                                   t_open, t_close)
            for name in ("pnl", "forecast")}
    events_of = {round_file(r): len(evs) for r, evs in enumerate(tape)}
    if run.backlog:
        written = {round_file(r): res["written"] for r in range(len(tape))}
        late_ms = [0.0]
    else:
        gen = res["gen"]
        written = {round_file(r): 0.0 for r in range(w0)}
        written.update({round_file(gen["first"] + i): t
                        for i, t in enumerate(gen["written"])})
        late_ms = [(w - d) * 1e3 for d, w in zip(gen["due"], gen["written"])]
    backlog = layers.backlog(prog["pnl"], file_batch, events_of, written)
    layer = layers.unused(layers.BATCH_METRICS)
    layer.update(layers.source_metrics(prog["pnl"]))
    layer["source.backlog_events_max"] = float(max(backlog, default=0))
    layer["generator.late_ms_max"] = max(late_ms)
    layer.update(layers.engine_metrics("pnl", prog["pnl"]))
    layer.update(layers.engine_metrics("forecast", prog["forecast"]))
    layer.update(layers.state_metrics(prog["pnl"]))
    layer["netting.replay_events_per_s"] = len(events) / replay_s
    layer.update(layers.sink_metrics(str(out), run.sinks, t_open,
                                     res["drained"], len(window_keys)))
    layer.update(layers.executor_metrics(
        str(run.work / "eventlog" / res["app_id"]), t_open, res["drained"]))
    half = len(backlog) // 2
    report["backlog_max_first_half"] = max(backlog[:half], default=0)
    report["backlog_max_second_half"] = max(backlog[half:], default=0)
    for name, ps in prog.items():
        gap = layers.unexplained_ms(ps)
        total = sum(p["durationMs"]["triggerExecution"] for p in ps)
        report[f"{name}_trigger_unexplained_ms_total"] = sum(gap)
        report[f"{name}_trigger_unexplained_share"] = \
            sum(gap) / total if total else 0.0
    return layer, report, attempted, failed


def run(workload: str, seed: int, seconds: int, trace: bool,
        work: Path) -> tuple[dict, dict, int, int]:
    r = StreamRun(workload, seed, seconds, trace, work)
    try:
        res = r.execute()
    finally:
        r.close()
    t = time.perf_counter()
    metrics, report, attempted, failed = verify_and_measure(r, res)
    report["verify_s"] = time.perf_counter() - t
    return metrics, report, attempted, failed
