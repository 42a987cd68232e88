"""Per-layer metrics of a traced run, read from Spark's own records after
the fact: each query's progress reports (`StreamingQuery.recentProgress`),
the file source's batch log in the checkpoint, the sink directories and
the application event log (enabled at launch by the benchmark).
"""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime

STREAM_UNITS = {
    "source.latest_offset_ms": "ms", "source.get_batch_ms": "ms",
    "source.rows_per_batch": "rows", "source.backlog_events_max": "events",
    "generator.late_ms_max": "ms",
    **{f"{job}.{name}": unit
       for job in ("pnl", "forecast")
       for name, unit in (("trigger_ms_p50", "ms"),
                          ("query_planning_ms", "ms"),
                          ("wal_commit_ms", "ms"),
                          ("commit_offsets_ms", "ms"),
                          ("add_batch_ms", "ms"), ("batches", "count"))},
    "state.rows_total": "rows", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.update_ms": "ms",
    "netting.replay_events_per_s": "events/s",
    "sink.rows": "rows", "sink.bytes": "bytes", "sink.files": "files",
    "sink.rows_per_event": "rows/event",
}
BATCH_UNITS = {
    **{f"plan.build_s.{tag}": "s" for tag in ("cold", "warm")},
    **{f"exec.{fam}_s.{tag}": "s"
       for fam in ("pnl", "dedup")
       for tag in ("cold", "warm")},
    **{f"catalyst.{ph}_ms": "ms"
       for ph in ("analysis", "optimization", "planning")},
}
EXECUTOR_UNITS = {
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes", "spill.disk_bytes": "bytes",
}
UNITS = {**STREAM_UNITS, **BATCH_UNITS, **EXECUTOR_UNITS}
STREAM_METRICS = tuple(STREAM_UNITS)
BATCH_METRICS = tuple(BATCH_UNITS)


def unused(names: tuple[str, ...]) -> dict[str, float]:
    """The metrics of layers a workload does not run, reported as 0."""
    return dict.fromkeys(names, 0.0)


def progress_time(p: dict) -> float:
    ts = p["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


def in_window(progress: list[dict], t0: float, t1: float) -> list[dict]:
    return [p for p in progress
            if p["numInputRows"] > 0 and t0 <= progress_time(p) < t1]


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def engine_metrics(prefix: str, triggers: list[dict]) -> dict[str, float]:
    """Micro-batch engine split of one query's triggers."""
    def dur(name: str) -> list[float]:
        return [p["durationMs"].get(name, 0) for p in triggers]
    return {
        f"{prefix}.trigger_ms_p50": _median(dur("triggerExecution")),
        f"{prefix}.query_planning_ms": _median(dur("queryPlanning")),
        f"{prefix}.wal_commit_ms": _median(dur("walCommit")),
        f"{prefix}.commit_offsets_ms": _median(dur("commitOffsets")),
        f"{prefix}.add_batch_ms": _median(dur("addBatch")),
        f"{prefix}.batches": float(len(triggers)),
    }


def unexplained_ms(triggers: list[dict]) -> list[float]:
    """triggerExecution minus the sum of its named parts, per trigger."""
    out = []
    for p in triggers:
        d = dict(p["durationMs"])
        total = d.pop("triggerExecution", 0)
        out.append(total - sum(d.values()))
    return out


def source_metrics(triggers: list[dict]) -> dict[str, float]:
    return {
        "source.latest_offset_ms": _median(
            [p["durationMs"].get("latestOffset", 0) for p in triggers]),
        "source.get_batch_ms": _median(
            [p["durationMs"].get("getBatch", 0) for p in triggers]),
        "source.rows_per_batch": _median(
            [p["numInputRows"] for p in triggers]),
    }


def state_metrics(triggers: list[dict]) -> dict[str, float]:
    ops = [p["stateOperators"][0] for p in triggers if p["stateOperators"]]
    last = ops[-1] if ops else {}
    return {
        "state.rows_total": float(last.get("numRowsTotal", 0)),
        "state.memory_bytes": float(last.get("memoryUsedBytes", 0)),
        "state.commit_ms": _median([o.get("commitTimeMs", 0) for o in ops]),
        "state.update_ms": _median(
            [o.get("allUpdatesTimeMs", 0) for o in ops]),
    }


def source_batches(checkpoint: str) -> dict[str, int]:
    """File path -> batch id, from the file source's metadata log."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def backlog(triggers: list[dict], file_batch: dict[str, int],
            file_events: dict[str, int], file_written: dict[str, float]
            ) -> list[int]:
    """Events written to the source but not yet taken, at the start of
    each trigger: written by then minus taken by earlier batches."""
    taken_by: dict[int, int] = {}
    for path, b in file_batch.items():
        taken_by[b] = taken_by.get(b, 0) + file_events.get(path, 0)
    out = []
    for p in triggers:
        t = progress_time(p)
        written = sum(n for f, n in file_events.items()
                      if file_written.get(f, float("inf")) <= t)
        taken = sum(n for b, n in taken_by.items() if b < p["batchId"])
        out.append(written - taken)
    return out


def sink_metrics(out_dir: str, sinks: tuple[str, ...], t0: float,
                 t1: float, window_events: int) -> dict[str, float]:
    """Rows, bytes and files of the sink epochs committed in [t0, t1]."""
    import pyarrow.parquet as pq

    rows = size = files = 0
    for sink in sinks:
        d = os.path.join(out_dir, sink)
        for name in os.listdir(d):
            ok = os.path.join(d, name, "_SUCCESS")
            if not os.path.exists(ok):
                continue
            if not t0 <= os.stat(ok).st_mtime_ns / 1e9 <= t1:
                continue
            for f in os.listdir(os.path.join(d, name)):
                if f.endswith(".parquet"):
                    path = os.path.join(d, name, f)
                    files += 1
                    size += os.path.getsize(path)
                    rows += pq.read_metadata(path).num_rows
    return {"sink.rows": float(rows), "sink.bytes": float(size),
            "sink.files": float(files),
            "sink.rows_per_event": rows / max(window_events, 1)}


def executor_metrics(path: str, t0: float, t1: float) -> dict[str, float]:
    """Task totals from one application's event log, over tasks that
    finished in [t0, t1]."""
    run_ms = cpu_ns = gc_ms = shuffle = spill = 0
    with open(path) as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            finish = ev["Task Info"]["Finish Time"] / 1000
            m = ev.get("Task Metrics")
            if m is None or not t0 <= finish <= t1:
                continue
            run_ms += m["Executor Run Time"]
            cpu_ns += m["Executor CPU Time"]
            gc_ms += m["JVM GC Time"]
            shuffle += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            spill += m["Disk Bytes Spilled"]
    return {"executor.run_s": run_ms / 1e3, "executor.cpu_s": cpu_ns / 1e9,
            "executor.gc_s": gc_ms / 1e3,
            "shuffle.write_bytes": float(shuffle),
            "spill.disk_bytes": float(spill)}
