"""The batch_queries workload: registered queries over the sf0.1 tables
kept in perfbench/data/sf0.1, each forced through the noop sink.

A cycle clears the artifact memos and the Spark cache as bench.py's
`clear_warm_state` does, then makes one cold pass over QUERIES and one
warm pass. Each query's latency is its wall time: the registered
function (plan build, plus whatever it computes eagerly) and the noop
write.

A set-up builds the session (`session.get_spark`, which launches the JVM),
loads the registry, warms the JVM and the Python worker pools the way
bench.py does, and runs one untimed cycle, so the JIT has compiled the
queries' own operators before the window (the first cycle runs about
half again as long as the later ones). The window is a fixed number of
cycles, --seconds / CYCLE_S of them, at least one. After it every query
runs once more, untimed, and its rows are checked exactly: against its
DuckDB `oracle_sql` over the same tables, or for the PnL query against
`operators/netting.py::replay` over `derive_market`'s inputs.

The tables are fixed, so the seed does not change the inputs.
"""

import os
import statistics
import sys
import time
from pathlib import Path

from procstat import RssSampler

DATA = Path(__file__).resolve().parent / "data" / "sf0.1"
# family -> queries: the PnL fold (ROADMAP 3b) and the n-gram dedup,
# whose artifact memo is built in the cold pass and probed in the warm one
# (ROADMAP 3c); two of the six slowest 4-core paths of ROADMAP item 1
FAMILIES = {
    "pnl": ("pnl_positions_fold",),
    "dedup": ("dedup_ngram_jaccard",),
}
QUERIES = tuple(q for qs in FAMILIES.values() for q in qs)
PHASES = ("analysis", "optimization", "planning")
# seconds one warm-JIT cycle takes on a 4-core box; a fixed number of
# cycles keeps the work, and so the JVM's heap growth, the same in every run
CYCLE_S = 9.0


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def setup(spark) -> None:
    """Registry, JVM and Python worker pools warm, as bench.py warms them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_flink_processing_spark.plans.registry import (
        QUERIES as REGISTRY,
    )
    from kafka_flink_processing_spark.plans.registry import _ensure_loaded

    _ensure_loaded()
    force(REGISTRY["latest_per_key"].spark(spark, str(DATA)))

    @F.pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    warm = spark.range(0, 32 * 1024, 1, 32)
    force(warm.select(_noop("id")))
    force(warm.groupBy((F.col("id") % 32).alias("g"))
              .applyInPandas(lambda pdf: pdf, schema="id long"))
    force(warm.mapInPandas(lambda it: it, schema="id long"))


def clear_warm_state(spark) -> None:
    from kafka_flink_processing_spark.operators.cluster import (
        clear_cluster_caches,
    )
    from kafka_flink_processing_spark.operators.dedup import (
        clear_dedup_caches,
    )
    clear_dedup_caches()
    clear_cluster_caches()
    spark.catalog.clearCache()


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of the query's plan, from
    its QueryExecution tracker (traced runs only: forcing the physical
    plan here plans the query once more than the write does)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def timed_pass(spark, trace: bool) -> list[dict]:
    from kafka_flink_processing_spark.plans.registry import (
        QUERIES as REGISTRY,
    )

    out = []
    for name in QUERIES:
        t0 = time.perf_counter()
        df = REGISTRY[name].spark(spark, str(DATA))
        t1 = time.perf_counter()
        phases = catalyst_ms(df) if trace else {}
        t2 = time.perf_counter()
        force(df)
        t3 = time.perf_counter()
        out.append({"query": name, "build_s": t1 - t0, "exec_s": t3 - t2,
                    "wall_s": (t1 - t0) + (t3 - t2), "phases": phases})
    return out


def cycle(spark, trace: bool) -> tuple[list[dict], list[dict]]:
    clear_warm_state(spark)
    cold = timed_pass(spark, trace)
    return cold, timed_pass(spark, trace)


def collect(spark) -> dict:
    """Every query's rows, as pandas frames."""
    from kafka_flink_processing_spark.plans.registry import (
        QUERIES as REGISTRY,
    )

    return {name: REGISTRY[name].spark(spark, str(DATA)).toPandas()
            for name in QUERIES}


def verify(got: dict) -> tuple[int, list[str]]:
    """Compare every query's rows exactly with its reference; returns the
    number of failed queries and their messages."""
    import check_batch

    from kafka_flink_processing_spark.plans.registry import (
        QUERIES as REGISTRY,
    )

    con = check_batch.duck(DATA)
    failed, msgs = 0, []
    try:
        for name in QUERIES:
            if name in FAMILIES["pnl"]:
                want = check_batch.expected_pnl(con)
            else:
                want = con.execute(REGISTRY[name].oracle).df()
            msg = check_batch.compare(name, want, got[name])
            if msg:
                failed += 1
                msgs.append(msg)
                print("MISMATCH " + msg, file=sys.stderr)
    finally:
        con.close()
    return failed, msgs


def run(_workload: str, _seed: int, seconds: int, trace: bool,
        work: Path) -> tuple[dict, dict, int, int]:
    import layers
    from stream import shutdown_jvm

    from kafka_flink_processing_spark.session import get_spark

    rss = RssSampler(os.getpid()).start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench-batch_queries")
        setup(spark)
        cycle(spark, False)
        setup_s = time.perf_counter() - t0
        app_id = spark.sparkContext.applicationId

        t_open = time.time()
        cycles = [cycle(spark, trace)
                  for _ in range(max(1, round(seconds / CYCLE_S)))]
        t_close = time.time()
        got = collect(spark)
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        rss.stop()
    t = time.perf_counter()
    failed, msgs = verify(got)
    verify_s = time.perf_counter() - t

    runs = [r for cold, warm in cycles for r in cold + warm]
    lat = [r["wall_s"] * 1e3 for r in runs]
    window_rss = [b for t, b in rss.samples if t_open <= t < t_close]
    e2e = {
        "setup_s": setup_s,
        "rss_mb": statistics.median(window_rss) / 2**20,
        "latency_mean_ms": statistics.fmean(lat),
    }
    report = {
        "workload": "batch_queries", "queries": len(QUERIES),
        "cycles": len(cycles),
        "batch_cold_s": statistics.median(
            sum(r["wall_s"] for r in cold) for cold, _ in cycles),
        "batch_warm_s": statistics.median(
            sum(r["wall_s"] for r in warm) for _, warm in cycles),
        "query_s": [{r["query"]: [round(r["wall_s"], 4), round(w["wall_s"], 4)]
                     for r, w in zip(cold, warm)} for cold, warm in cycles],
        "peak_rss_mb": max(b for _t, b in rss.samples) / 2**20,
        "failed_frac": failed / len(QUERIES),
        "first_mismatch": msgs[:1], "verify_s": verify_s,
    }
    if not trace:
        return e2e, report, len(QUERIES), failed

    report["e2e_traced"] = e2e
    layer = layers.unused(layers.STREAM_METRICS)
    # per pass, the median over the cycles
    for i, tag in enumerate(("cold", "warm")):
        passes = [c[i] for c in cycles]
        layer[f"plan.build_s.{tag}"] = statistics.median(
            sum(r["build_s"] for r in p) for p in passes)
        for fam, qs in FAMILIES.items():
            layer[f"exec.{fam}_s.{tag}"] = statistics.median(
                sum(r["exec_s"] for r in p if r["query"] in qs)
                for p in passes)
        # build + exec add up to each query's wall time by construction;
        # what the traced run adds on top is the forced planning
        report[f"catalyst_forced_s.{tag}"] = statistics.median(
            sum(sum(r["phases"].values()) for r in p) for p in passes) / 1e3
    for ph in PHASES:
        layer[f"catalyst.{ph}_ms"] = statistics.fmean(
            r["phases"][ph] for r in runs)
    layer.update(layers.executor_metrics(
        str(work / "eventlog" / app_id), t_open, t_close))
    return layer, report, len(QUERIES), failed
