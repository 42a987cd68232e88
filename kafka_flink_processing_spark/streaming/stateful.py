"""Streaming stateful operators (W1/W2) via applyInPandasWithState.

The reference keeps per-hub keyed state in Flink (ListState ring buffers,
ForecastsJob.java:77-81; ValueState+MapState, PnlAndExposureJob.java:107-110)
and processes records in arrival order with no watermarks (SURVEY.md §2.6).
Structured Streaming equivalent: groupBy(key).applyInPandasWithState with
explicit state schemas; records are processed in (ts, kind, trade_id) order
WITHIN each micro-batch (the engine's documented refinement of the
reference's arrival-order nondeterminism), and state carries across batches.
applyInPandasWithState is the engine's only streaming state API; the one
variant that needs timers (book-expiry TTL, streaming_pnl_ttl) uses its
event-time timeout.

The arithmetic is shared with the batch operators (same Python float fold
for PnL via netting.HubFold; the SMA averages sum oldest->newest exactly
like Spark's window-frame fold), so single-batch streaming output is
bit-identical to the batch plans — asserted in tests/test_streaming.py.

Scale: state per key is O(1) for SMA (<=20 floats) and O(#accounts) for PnL;
shuffle on the key only — identical exchange structure to the batch path and
to Flink's keyBy.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_flink_processing_spark.operators.netting import (
    PRICE,
    TRADE,
    HubFold,
)
from kafka_flink_processing_spark.shipping import ensure_shipped

# ---------------------------------------------------------------------------
# W1 streaming: rolling SMA forecast (reference ForecastsJob.java:76-88)
# ---------------------------------------------------------------------------

_SMA_OUT = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("hub", T.StringType()),
    T.StructField("price_mwh", T.DoubleType()),
    T.StructField("sma5", T.DoubleType()),
    T.StructField("sma20", T.DoubleType()),
    T.StructField("forecast_next", T.DoubleType()),
])
_SMA_STATE = T.StructType([T.StructField("buf", T.ArrayType(T.DoubleType()))])


def _in_order(pdfs: Iterator[pd.DataFrame],
              order: list[str]) -> pd.DataFrame | None:
    """One group's micro-batch rows as ONE frame in the documented total
    order, or None when the call carries no rows (a timed-out group).
    Arrow hands a group over in chunks of at most
    spark.sql.execution.arrow.maxRecordsPerBatch rows; sorting chunk by
    chunk would fold a large group out of event-time order."""
    chunks = list(pdfs)
    if not chunks:
        return None
    return pd.concat(chunks, ignore_index=True).sort_values(
        order, kind="mergesort")


def _sma_fn(key: tuple, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    buf: list[float] = list(state.get[0]) if state.exists else []
    hub = key[0]
    pdf = _in_order(pdfs, ["ts", "seq"])
    out: list[dict[str, Any]] = []
    for ts, px in zip(pdf["ts"], pdf["price_mwh"]):
        buf.append(float(px))
        if len(buf) > 20:              # addAndTrim, ForecastsJob.java:77-81
            del buf[0]
        sma5 = sum(buf[-5:]) / min(len(buf), 5)
        sma20 = sum(buf) / len(buf)
        out.append({"ts": ts, "hub": hub, "price_mwh": px, "sma5": sma5,
                    "sma20": sma20, "forecast_next": sma5})
    state.update((buf,))
    yield pd.DataFrame(out, columns=[f.name for f in _SMA_OUT.fields])


def streaming_sma_forecast(prices: DataFrame,
                           key_col: str = "hub",
                           ts_col: str = "ts",
                           value_col: str = "price_mwh",
                           seq_col: str | None = None) -> DataFrame:
    """prices: streaming DF with (ts, hub, price_mwh[, seq tie-breaker])."""
    ensure_shipped(prices.sparkSession)
    df = prices.select(
        F.col(ts_col).alias("ts"), F.col(key_col).alias("hub"),
        F.col(value_col).alias("price_mwh"),
        (F.col(seq_col) if seq_col else F.lit(0)).cast("long").alias("seq"))
    return (df.groupBy("hub")
              .applyInPandasWithState(_sma_fn, _SMA_OUT, _SMA_STATE,
                                      "append", GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# W2 streaming: PnL/position fold (reference PnlAndExposureJob.java:106-144)
# ---------------------------------------------------------------------------

_PNL_OUT = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("account", T.StringType()),
    T.StructField("hub", T.StringType()),
    T.StructField("position_mw", T.IntegerType()),
    T.StructField("avg_price_mwh", T.DoubleType()),
    T.StructField("last_price_mwh", T.DoubleType()),
    T.StructField("realized_pnl", T.DoubleType()),
    T.StructField("unrealized_pnl", T.DoubleType()),
    T.StructField("total_pnl", T.DoubleType()),
])
_PNL_COLS = [f.name for f in _PNL_OUT.fields]
# accounts dict serialized to JSON: applyInPandasWithState state schemas are
# flat structs; #accounts per hub is small and bounded (reference MapState)
_PNL_STATE = T.StructType([
    T.StructField("last_price", T.DoubleType()),
    T.StructField("accounts_json", T.StringType()),
])
# streaming_pnl_ttl adds each account's last trade (epoch ms) to the book
_PNL_TTL_STATE = T.StructType(_PNL_STATE.fields + [
    T.StructField("last_trade_json", T.StringType()),
])


def _restore_fold(state: GroupState) -> HubFold:
    if not state.exists:
        return HubFold()
    last_price, accounts_json = state.get[:2]
    return HubFold(last_price, json.loads(accounts_json))


def _fold(fold: HubFold, pdfs: Iterator[pd.DataFrame]
          ) -> tuple[list[dict], pd.DataFrame | None]:
    """Fold one hub's micro-batch into `fold`: the emitted rows, and the
    rows in fold order (None for a call without rows)."""
    pdf = _in_order(pdfs, ["ts", "kind", "trade_id"])
    out: list[dict[str, Any]] = []
    if pdf is not None:
        for rec in pdf.to_dict("records"):
            out.extend(fold.process(rec))
    return out, pdf


def _book(fold: HubFold) -> tuple[float | None, str]:
    last_price, accounts = fold.snapshot()
    return last_price, json.dumps(accounts, sort_keys=True)


def _pnl_fn(key: tuple, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    fold = _restore_fold(state)
    out, _pdf = _fold(fold, pdfs)
    state.update(_book(fold))
    yield pd.DataFrame(out, columns=_PNL_COLS)


def _tagged_union(trades: DataFrame, prices: DataFrame) -> DataFrame:
    t = trades.select(
        "ts", "hub", "account", "side", F.col("mw").cast("long").alias("mw"),
        "price_mwh", F.col("trade_id").cast("long").alias("trade_id"),
        F.lit(TRADE).alias("kind"))
    tick_seq = (F.col("tick_id") if "tick_id" in prices.columns
                else F.lit(0)).cast("long")
    p = prices.select(
        "ts", "hub", F.lit(None).cast("string").alias("account"),
        F.lit(None).cast("string").alias("side"),
        F.lit(None).cast("long").alias("mw"), "price_mwh",
        tick_seq.alias("trade_id"), F.lit(PRICE).alias("kind"))
    return t.unionByName(p)


def streaming_pnl(trades: DataFrame, prices: DataFrame) -> DataFrame:
    """Two-input keyed co-processing as tagged union + stateful fold.

    trades: (trade_id, ts, account, hub, side, mw, price_mwh) stream
    prices: (ts, hub, price_mwh) stream
    """
    ensure_shipped(trades.sparkSession)
    return (_tagged_union(trades, prices)
            .groupBy("hub")
            .applyInPandasWithState(_pnl_fn, _PNL_OUT, _PNL_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


def _pnl_ttl_fn(ttl_ms: int):
    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        fold = _restore_fold(state)
        last_trade: dict[str, int] = (json.loads(state.get[2])
                                      if state.exists else {})
        out, pdf = _fold(fold, pdfs)
        if pdf is not None:
            trades = pdf[pdf["kind"] == TRADE]
            for acct, ts in zip(trades["account"], trades["ts"]):
                last_trade[acct] = int(pd.Timestamp(ts).value // 1_000_000)
        # evict AFTER the fold: a tick in this batch still fans out an
        # account that expires at this batch's watermark
        wm = state.getCurrentWatermarkMs()
        pending: list[int] = []
        for acct in [a for a, st in fold.accounts.items() if st.pos == 0]:
            expiry = last_trade[acct] + ttl_ms
            if expiry <= wm:
                del fold.accounts[acct], last_trade[acct]
            else:
                pending.append(expiry)
        state.update(_book(fold) + (json.dumps(last_trade, sort_keys=True),))
        if pending:
            # a group times out once its timestamp is strictly BELOW the
            # watermark; the expiry is due at watermark >= expiry
            state.setTimeoutTimestamp(min(pending) - 1)
        yield pd.DataFrame(out, columns=_PNL_COLS)
    return fn


def streaming_pnl_ttl(trades: DataFrame, prices: DataFrame, ttl_ms: int,
                      watermark_delay: str = "0 seconds") -> DataFrame:
    """streaming_pnl with book-expiry TTL: an account that is FLAT
    (position 0) and has not traded for ttl_ms of EVENT time is evicted
    from the hub's book, so it stops fanning out on every price tick and
    its state is freed; accounts with open positions are never evicted.
    An evicted account that trades again restarts from a zero fold.

    This deliberately DIVERGES from the reference after the TTL (the
    Flink job never evicts; its state grows forever —
    PnlAndExposureJob.java:107-110). Eviction runs after each group's
    fold against the batch watermark, and through the event-time timeout
    for hubs without rows in a batch, including the no-data batch that
    ends an availableNow drain. tools/stream_fuzz.py::_pnl_ttl_spec is
    the executable spec."""
    ensure_shipped(trades.sparkSession)
    return (_tagged_union(trades, prices)
            .withWatermark("ts", watermark_delay)
            .groupBy("hub")
            .applyInPandasWithState(_pnl_ttl_fn(int(ttl_ms)), _PNL_OUT,
                                    _PNL_TTL_STATE, "append",
                                    GroupStateTimeout.EventTimeTimeout))
