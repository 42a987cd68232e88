"""Benchmark of the streaming jobs and the registered batch queries.

    python3 perfbench/run.py --workload stream_steady --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Workloads (perfbench/DESIGN.md):

- stream_steady: the reference traffic offered live by an open-loop
  generator to `pnl_job` and `forecasts_job` (stream.py);
- batch_queries: registered queries over perfbench/data/sf0.1, cold
  and warm passes, each query forced through the noop sink (batch.py);
- stream_backlog: `pnl_job` draining a pre-written tape over a book of
  10^4 accounts through a `maxFilesPerTrigger` cap (stream.py). Not in
  BENCHMARK.json: the current code fails its verification (DESIGN.md,
  "Known defect"), so it is kept runnable to show that failure.

Every run builds its own session, measures after the set-up, stops Spark
and its JVM, and checks every output exactly against references computed
outside Spark. --trace 1 also enables Spark's event log and reports the
per-layer metrics (layers.py) instead of the end-to-end ones.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`; the line before it is a JSON `report` with the
details. The exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402

WORKLOADS = ("stream_steady", "batch_queries", "stream_backlog")
UNITS = {"setup_s": "s", "rss_mb": "MB", "latency_mean_ms": "ms"}


def configure_env(work: Path, trace: bool) -> None:
    """Keep every file Spark, the JVMs and the workers write inside `work`
    (a JVM's perf-data file would go to /tmp, so it is off); with `trace`,
    have Spark write its event log there too."""
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if trace:
        (work / "eventlog").mkdir()
        for conf in ("spark.eventLog.enabled=true",
                     f"spark.eventLog.dir=file://{work / 'eventlog'}",
                     "spark.eventLog.compress=false",
                     "spark.eventLog.rolling.enabled=false"):
            args += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "kafka_flink_processing_spark").is_dir():
        print("run from the repository root (kafka_flink_processing_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    work = root / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    configure_env(work, bool(a.trace))
    try:
        if a.workload == "batch_queries":
            import batch as workload
        else:
            import stream as workload
        metrics, report, attempted, failed = workload.run(
            a.workload, a.seed, a.seconds, bool(a.trace), work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = layers.UNITS if a.trace else UNITS
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
