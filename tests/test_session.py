"""The Python workers of get_spark's session: they run the driver's
interpreter and start without preloaded extras."""

from __future__ import annotations

import sys

import pandas as pd

from pyspark.sql.functions import pandas_udf


def test_workers_run_the_driver_interpreter_plainly(spark):
    @pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        import sys as wsys
        google = any(m.startswith("google.") for m in wsys.modules)
        return pd.Series([f"{wsys.executable}|{google}"] * len(x))

    seen = {r[0] for r in spark.range(4).select(probe("id")).collect()}
    assert len(seen) == 1
    exe, google = seen.pop().split("|")
    assert exe == sys.executable
    # no module beneath the `google` namespace is loaded (the bare
    # namespace itself can come from the spark-core jar on the worker's
    # path once some library probes for it)
    assert google == "False"
