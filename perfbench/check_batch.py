"""Output verification of the batch queries, as exact as the oracle gate:
the same row count, the same column names, the same numeric kind per
column (signed, unsigned, float) and, with rows and columns sorted, equal
values (NaN equals NaN, null equals null).

References, both computed outside Spark over the same parquet tables:
- a query's DuckDB `oracle_sql`;
- for the PnL queries, `operators/netting.py::replay` per hub over the
  trades and ticks `plans/stateful.py::derive_market` documents, derived
  here in DuckDB.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd

from kafka_flink_processing_spark.operators.netting import (
    PRICE,
    TRADE,
    replay,
    sort_key,
)
from kafka_flink_processing_spark.schemas import TESTDATA_TABLES

PNL_COLUMNS = ("ts", "account", "hub", "position_mw", "avg_price_mwh",
               "last_price_mwh", "realized_pnl", "unrealized_pnl",
               "total_pnl")
# derive_market's mapping of `events` onto the two topics
_TRADES = """
  SELECT event_id AS trade_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts,
         'ACC' || CAST(user_id % 3 + 1 AS VARCHAR) AS account,
         'HUB' || CAST(user_id % 4 AS VARCHAR) AS hub,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN 'BUY' ELSE 'SELL' END AS side,
         CASE event_id % 4 WHEN 0 THEN 5 WHEN 1 THEN 10
                           WHEN 2 THEN 25 ELSE 50 END AS mw,
         value AS price_mwh
  FROM events WHERE event_type IN ('purchase', 'signup', 'error')
"""
_PRICES = """
  SELECT event_id AS trade_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts,
         'HUB' || CAST(user_id % 4 AS VARCHAR) AS hub, value AS price_mwh
  FROM events WHERE event_type IN ('view', 'click')
"""


def duck(data: Path):
    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = data / f"{t}.parquet"
        if path.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
    return con


def expected_pnl(con) -> pd.DataFrame:
    """The spec fold over derive_market's inputs; a tick's event id is its
    tie-break at equal (hub, ts), as in the queries' tagged union."""
    by_hub: dict[str, list[dict]] = defaultdict(list)
    for rec in con.execute(_TRADES).df().to_dict("records"):
        rec["kind"] = TRADE
        by_hub[rec["hub"]].append(rec)
    for rec in con.execute(_PRICES).df().to_dict("records"):
        rec["kind"] = PRICE
        by_hub[rec["hub"]].append(rec)
    rows = []
    for recs in by_hub.values():
        recs.sort(key=sort_key)
        rows += replay(recs)
    out = pd.DataFrame(rows, columns=list(PNL_COLUMNS))
    out["ts"] = pd.to_datetime(out["ts"], unit="us")
    return out


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(np.asarray(v).tolist())
                if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns),
                          kind="mergesort").reset_index(drop=True)


def _equal(a: pd.Series, b: pd.Series) -> np.ndarray:
    if pd.api.types.is_float_dtype(a):
        x, y = a.to_numpy(), b.to_numpy(dtype="float64")
        return (x == y) | (np.isnan(x) & np.isnan(y))
    return ((a.to_numpy() == b.to_numpy())
            | (a.isna().to_numpy() & b.isna().to_numpy()))


def compare(name: str, want: pd.DataFrame, got: pd.DataFrame) -> str | None:
    """None when `got` equals `want` exactly, else a message naming the
    first difference."""
    if len(want) != len(got):
        return f"{name}: {len(want)} expected rows, {len(got)} returned"
    if sorted(want.columns) != sorted(got.columns):
        return (f"{name}: expected columns {sorted(want.columns)}, "
                f"got {sorted(got.columns)}")
    for c in want.columns:
        kinds = {want[c].dtype.kind, got[c].dtype.kind}
        if kinds <= {"i", "u", "f"} and len(kinds) > 1:
            return (f"{name}: column {c} is {got[c].dtype}, expected "
                    f"{want[c].dtype}")
    w, g = normalize(want), normalize(got)
    bad = np.zeros(len(w), dtype=bool)
    for c in w.columns:
        bad |= ~_equal(g[c], w[c])
    if not bad.any():
        return None
    i = int(np.argmax(bad))
    return (f"{name}: {int(bad.sum())} of {len(w)} sorted rows differ; "
            f"first: expected {tuple(w.iloc[i])}, got {tuple(g.iloc[i])}")
