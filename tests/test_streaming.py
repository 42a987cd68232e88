"""Batch <-> streaming parity (SURVEY.md §5.2 item 5): the streaming
stateful operators must produce exactly the batch plans' output on the same
input — single-batch runs are bit-identical; multi-batch runs carry state
across micro-batches correctly."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from kafka_flink_processing_spark.operators.pnl import pnl_positions
from kafka_flink_processing_spark.operators.windows import rolling_sma_forecast
from kafka_flink_processing_spark.plans.stateful import derive_market
from kafka_flink_processing_spark.streaming.jobs import forecasts_job, pnl_job
from kafka_flink_processing_spark.streaming.sinks import run_available_now
from kafka_flink_processing_spark.streaming.stateful import (
    streaming_pnl,
    streaming_sma_forecast,
)

pytestmark = pytest.mark.slow  # integration tier (see pytest.ini)

SF = "/root/testdata/sf0.001"


def _stream_from(spark, df, tmpdir, n_files=1, order_col="ts"):
    """Materialize a batch DF as n parquet files (split by order_col so later
    files hold later data) and open a file-source stream over them."""
    src = f"{tmpdir}/src"
    if n_files == 1:
        df.coalesce(1).write.mode("overwrite").parquet(src)
    else:
        df = df.withColumn("__ord", F.col(order_col).cast("double"))
        cuts = df.approxQuantile("__ord", [i / n_files for i in range(1, n_files)], 0.0)
        import os
        os.makedirs(src, exist_ok=True)
        lo = None
        for i, hi in enumerate(list(cuts) + [None]):
            part = df
            if lo is not None:
                part = part.filter(F.col("__ord") > lo)
            if hi is not None:
                part = part.filter(F.col("__ord") <= hi)
            part.drop("__ord").coalesce(1).write.mode("overwrite") \
                .parquet(f"{src}/f{i}")
            lo = hi
        src = f"{src}/f*"
    return spark.readStream.schema(df.drop("__ord").schema).option(
        "maxFilesPerTrigger", 1).parquet(src)


def _rowset(rows):
    return {tuple(sorted(r.asDict().items())) for r in rows}


@pytest.fixture(scope="module")
def market(spark):
    trades, prices = derive_market(spark, SF)
    return trades.cache(), prices.cache()


def test_streaming_sma_matches_batch(spark, market, tmp_path):
    _, prices = market
    prices = prices.withColumn("seq", F.lit(0).cast("long"))
    stream = _stream_from(spark, prices, str(tmp_path))
    fc = streaming_sma_forecast(stream, seq_col="seq")
    run_available_now(fc, "sma_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT ts, hub, price_mwh, sma5, sma20, forecast_next "
                    "FROM sma_out")
    want = (rolling_sma_forecast(
        prices.select("ts", "hub", "price_mwh", "seq"),
        ["hub"], ["ts", "seq"], "price_mwh")
        .select("ts", "hub", "price_mwh", "sma5", "sma20", "forecast_next"))
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_streaming_pnl_matches_batch_single_batch(spark, market, tmp_path):
    trades, prices = market
    ts_stream = _stream_from(spark, trades, f"{tmp_path}/t")
    px_stream = _stream_from(spark, prices, f"{tmp_path}/p")
    pnl = streaming_pnl(ts_stream, px_stream)
    run_available_now(pnl, "pnl_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT * FROM pnl_out")
    want = pnl_positions(trades, prices)
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_streaming_pnl_state_carries_across_batches(spark, market,
                                                    tmp_path):
    """Split BOTH inputs at the same time cut, 1 file per trigger: the
    last price and the account book must survive the micro-batch
    boundary — output equals the batch replay exactly."""
    trades, prices = market
    # ONE cut shared by both sources (per-source median cuts would let a
    # later-ts price precede an earlier-ts trade across the batch
    # boundary, which genuinely reorders the fold — not a state bug)
    allts = (trades.select("ts").unionByName(prices.select("ts"))
             .withColumn("o", F.col("ts").cast("double")))
    cut = allts.approxQuantile("o", [0.5], 0.0)[0]

    def split_stream(df, base):
        o = F.col("ts").cast("double")
        df.filter(o <= cut).coalesce(1).write.parquet(f"{base}/f0")
        df.filter(o > cut).coalesce(1).write.parquet(f"{base}/f1")
        return (spark.readStream.schema(df.schema)
                .option("maxFilesPerTrigger", 1).parquet(f"{base}/f*"))

    ts_stream = split_stream(trades, f"{tmp_path}/t")
    px_stream = split_stream(prices, f"{tmp_path}/p")
    pnl = streaming_pnl(ts_stream, px_stream)
    run_available_now(pnl, "pnl_mb_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT * FROM pnl_mb_out")
    want = pnl_positions(trades, prices)
    assert got.count() == want.count()
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_streaming_sma_state_carries_across_batches(spark, market, tmp_path):
    """Split prices at the time median into 2 files, force 1 file per
    micro-batch: the ring buffer must survive the batch boundary, giving
    exactly the batch result."""
    _, prices = market
    one_hub = prices.filter(F.col("hub") == "HUB0") \
                    .withColumn("seq", F.lit(0).cast("long"))
    stream = _stream_from(spark, one_hub, str(tmp_path), n_files=2,
                          order_col="ts")
    fc = streaming_sma_forecast(stream, seq_col="seq")
    run_available_now(fc, "sma_mb_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT ts, hub, sma5, sma20 FROM sma_mb_out")
    want = rolling_sma_forecast(one_hub, ["hub"], ["ts", "seq"], "price_mwh") \
        .select("ts", "hub", "sma5", "sma20")
    assert got.count() == want.count()
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_forecasts_job_end_to_end(spark, market, tmp_path):
    """ForecastsJob analogue: stream -> stateful SMA -> exactly-once parquet
    sink; output files match the batch computation."""
    _, prices = market
    prices = prices.withColumn("seq", F.lit(0).cast("long"))
    stream = _stream_from(spark, prices, str(tmp_path))
    q = forecasts_job(stream, f"{tmp_path}/out", f"{tmp_path}/ckpt",
                      seq_col="seq")
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(f"{tmp_path}/out/forecasts/epoch=*")
    want = (rolling_sma_forecast(
        prices.select("ts", "hub", "price_mwh", "seq"),
        ["hub"], ["ts", "seq"], "price_mwh")
        .select("ts", "hub", "sma5", "sma20", "forecast_next"))
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_pnl_job_writes_both_tables(spark, market, tmp_path):
    trades, prices = market
    ts_stream = _stream_from(spark, trades, f"{tmp_path}/t")
    px_stream = _stream_from(spark, prices, f"{tmp_path}/p")
    q = pnl_job(ts_stream, px_stream, f"{tmp_path}/out", f"{tmp_path}/ckpt")
    q.processAllAvailable()
    q.stop()
    pnl = spark.read.parquet(f"{tmp_path}/out/positions_pnl/epoch=*")
    exp = spark.read.parquet(f"{tmp_path}/out/price_exposure/epoch=*")
    assert pnl.count() == exp.count() > 0
    # exposure is the P4 projection of the fold rows (pnl01 = position)
    joined = exp.select("ts", "account", "hub", "pnl01", "notional_usd")
    sample = joined.limit(5).collect()
    for r in sample:
        assert r.notional_usd is not None


@pytest.mark.parametrize("job", ["pnl_job", "forecasts_job"])
def test_job_folds_large_group_in_event_time_order(spark, tmp_path, job):
    """A hub with more than spark.sql.execution.arrow.maxRecordsPerBatch
    rows in one micro-batch reaches the stateful function as several
    Arrow chunks. The files hold the rows newest first (and the price
    that opens the tape after the trades), so folding chunk by chunk
    would replay them out of event-time order; the job output must still
    equal the batch plan's."""
    import datetime as dt

    def t(s):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    n = 200
    prices = spark.createDataFrame(
        [(t(10 * i), "H", 50.0 + (7 * i) % 13, i) for i in range(n)],
        "ts timestamp, hub string, price_mwh double, tick_id long")
    trades = spark.createDataFrame(
        [(i, t(10 * i + 5), f"ACC{i % 5}", "H",
          "BUY" if i % 3 else "SELL", 5 * (1 + i % 4), 40.0 + i / 100)
         for i in range(n)],
        "trade_id long, ts timestamp, account string, hub string, "
        "side string, mw long, price_mwh double")

    def newest_first(df, base):
        df.orderBy(F.col("ts").desc()).coalesce(1).write.parquet(base)
        return spark.readStream.schema(df.schema).parquet(base)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        px = newest_first(prices, f"{tmp_path}/p")
        if job == "pnl_job":
            q = pnl_job(newest_first(trades, f"{tmp_path}/t"), px,
                        f"{tmp_path}/out", f"{tmp_path}/ckpt")
            table = "positions_pnl"
            want = pnl_positions(trades, prices)
        else:
            q = forecasts_job(px, f"{tmp_path}/out", f"{tmp_path}/ckpt",
                              seq_col="tick_id")
            table = "forecasts"
            want = (rolling_sma_forecast(prices, ["hub"], ["ts", "tick_id"],
                                         "price_mwh")
                    .select("ts", "hub", "sma5", "sma20", "forecast_next"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set(key, old)
    got = spark.read.parquet(f"{tmp_path}/out/{table}/epoch=*")
    assert got.count() == want.count()
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_incremental_dedup_job_matches_batch_operator(spark):
    """Streaming ingest guard parity across MULTIPLE micro-batches: the
    emitted rows must equal (batch operator's cross dups) ∪ (within-epoch
    self-screen pairs), with per-pair values identical to the batch
    implementations; accepted docs = increment minus flagged ids."""
    from kafka_flink_processing_spark.operators.dedup import (
        incremental_minhash_dups,
        minhash_lsh_pairs,
    )
    from kafka_flink_processing_spark.sources.parquet import load_table
    from kafka_flink_processing_spark.streaming.jobs import (
        incremental_dedup_job,
    )

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    increment = docs.filter(F.col("doc_id") >= 400)

    want_cross = _rowset(incremental_minhash_dups(
        docs, batch_cond=F.col("doc_id") >= 400).collect())

    with tempfile.TemporaryDirectory(prefix="kfps_incdedup_") as td:
        stream = _stream_from(spark, increment, td, n_files=2,
                              order_col="doc_id")
        q = incremental_dedup_job(stream, corpus, f"{td}/out", f"{td}/ckpt",
                                  available_now=True)
        q.awaitTermination()
        dups = spark.read.option("basePath", f"{td}/out/dups") \
            .parquet(f"{td}/out/dups/epoch=*")
        accepted = spark.read.option("basePath", f"{td}/out/accepted") \
            .parquet(f"{td}/out/accepted/epoch=*")

        # within-epoch expectation: epoch membership is pure file
        # partitioning (dups.doc_id ∪ accepted.doc_id per epoch), so the
        # expected self-screen pairs are the batch pair-miner's output on
        # each epoch's member set, flagged (larger id, smaller id)
        members = (dups.select("epoch", "doc_id")
                   .unionByName(accepted.select("epoch", "doc_id"))
                   .distinct().collect())
        by_epoch: dict[int, set] = {}
        for r in members:
            by_epoch.setdefault(r.epoch, set()).add(r.doc_id)
        assert len(by_epoch) == 2  # genuinely multi-batch
        want_within = set()
        for ids in by_epoch.values():
            part = docs.filter(F.col("doc_id").isin(list(ids)))
            for r in minhash_lsh_pairs(part).collect():
                want_within.add(tuple(sorted(dict(
                    doc_id=max(r.doc_a, r.doc_b),
                    dup_of=min(r.doc_a, r.doc_b),
                    jaccard=r.jaccard).items())))

        got = _rowset(dups.select("doc_id", "dup_of", "jaccard").collect())
        assert got == want_cross | want_within
        flagged = {r.doc_id for r in dups.select("doc_id").collect()}
        inc_ids = {r.doc_id for r in increment.select("doc_id").collect()}
        acc_ids = {r.doc_id for r in accepted.select("doc_id").collect()}
        assert acc_ids == inc_ids - flagged


def test_decontamination_job_matches_batch_operator(spark):
    """Streaming decontamination parity: the per-doc screen has no
    within-batch interactions, so the union over micro-batch epochs must
    equal the batch contamination_screen_bloom rows exactly; accepted =
    increment minus flagged ids."""
    from kafka_flink_processing_spark.operators.dedup import (
        contamination_screen_bloom,
    )
    from kafka_flink_processing_spark.sources.parquet import load_table
    from kafka_flink_processing_spark.streaming.jobs import (
        decontamination_job,
    )

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % 13 == 0)
    increment = docs.filter(F.col("doc_id") % 13 != 0)

    want = _rowset(contamination_screen_bloom(
        docs, F.col("doc_id") % 13 == 0, n=4).collect())

    with tempfile.TemporaryDirectory(prefix="kfps_decon_") as td:
        stream = _stream_from(spark, increment, td, n_files=2,
                              order_col="doc_id")
        q, bloom = decontamination_job(stream, eval_docs, f"{td}/out",
                                       f"{td}/ckpt", n=4, available_now=True)
        q.awaitTermination()
        bloom.unpersist()  # the documented caller contract
        hits = spark.read.option("basePath", f"{td}/out/contaminated") \
            .parquet(f"{td}/out/contaminated/epoch=*")
        accepted = spark.read.option("basePath", f"{td}/out/accepted") \
            .parquet(f"{td}/out/accepted/epoch=*")
        assert hits.select("epoch").distinct().count() == 2  # multi-batch
        got = _rowset(hits.drop("epoch").collect())
        assert got == want
        flagged = {r.doc_id for r in hits.select("doc_id").collect()}
        inc_ids = {r.doc_id for r in increment.select("doc_id").collect()}
        acc_ids = {r.doc_id for r in accepted.select("doc_id").collect()}
        assert acc_ids == inc_ids - flagged


def test_checkpoint_restart_carries_sma_state_no_duplicates(spark, market,
                                                            tmp_path):
    """K2 exactly-once evidence, restart edition: drain batch 1 with a
    file sink + checkpoint, STOP, land more source files, start a FRESH
    query from the SAME checkpoint — the ring-buffer state must resume
    (not restart cold) and batch-1 rows must not re-emit. The combined
    sink output equals the batch plan over the full input exactly."""
    _, prices = market
    one_hub = prices.filter(F.col("hub") == "HUB0") \
                    .withColumn("seq", F.lit(0).cast("long"))
    o = F.col("ts").cast("double")
    cut = one_hub.select(o.alias("o")).approxQuantile("o", [0.5], 0.0)[0]
    src, out, ckpt = f"{tmp_path}/src", f"{tmp_path}/out", f"{tmp_path}/ckpt"
    one_hub.filter(o <= cut).coalesce(1).write.parquet(f"{src}/f0")

    def run_once():
        stream = (spark.readStream.schema(one_hub.schema)
                  .parquet(f"{src}/f*"))
        q = (streaming_sma_forecast(stream, seq_col="seq")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()                                     # batch 1
    n_first = spark.read.parquet(out).count()
    one_hub.filter(o > cut).coalesce(1).write.parquet(f"{src}/f1")
    run_once()                                     # restart from checkpoint
    got = spark.read.parquet(out).select("ts", "hub", "sma5", "sma20")
    want = (rolling_sma_forecast(one_hub, ["hub"], ["ts", "seq"],
                                 "price_mwh")
            .select("ts", "hub", "sma5", "sma20"))
    assert 0 < n_first < want.count()              # both runs contributed
    assert got.count() == want.count()             # no dup re-emission
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_checkpoint_restart_carries_pnl_state_no_duplicates(spark, market,
                                                            tmp_path):
    """Same restart contract for the PnL fold: the last price and the
    account book must restore from the checkpoint on a fresh query, so
    the resumed fold continues the book instead of re-founding it —
    output equals the batch replay over the full tape with no batch-1
    duplicates."""
    trades, prices = market
    allts = (trades.select("ts").unionByName(prices.select("ts"))
             .withColumn("o", F.col("ts").cast("double")))
    cut = allts.approxQuantile("o", [0.5], 0.0)[0]
    out, ckpt = f"{tmp_path}/out", f"{tmp_path}/ckpt"

    def stage(df, base, part):
        o = F.col("ts").cast("double")
        flt = o <= cut if part == 0 else o > cut
        df.filter(flt).coalesce(1).write.parquet(f"{base}/f{part}")

    stage(trades, f"{tmp_path}/t", 0)
    stage(prices, f"{tmp_path}/p", 0)

    def run_once():
        ts = spark.readStream.schema(trades.schema).parquet(
            f"{tmp_path}/t/f*")
        px = spark.readStream.schema(prices.schema).parquet(
            f"{tmp_path}/p/f*")
        q = (streaming_pnl(ts, px)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(out).count()
    stage(trades, f"{tmp_path}/t", 1)
    stage(prices, f"{tmp_path}/p", 1)
    run_once()
    got = spark.read.parquet(out)
    want = pnl_positions(trades, prices)
    assert 0 < n_first < want.count()
    assert got.count() == want.count()
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_pnl_ttl_evicts_long_flat_accounts(spark, tmp_path):
    """Book-expiry TTL (streaming_pnl_ttl): an account flat for > TTL of
    event time is evicted once the watermark passes, so later price ticks
    stop fanning out rows for it — the state-growth mitigation at
    account churn. Accounts with open positions are never evicted.

    Tape (hub H, TTL = 60 s, watermark delay 0):
      b1: A buys 5 then sells 5 (flat at 10:00:30 -> expiry 10:01:30),
          B buys 3 (open), tick 10:02 (A+B rows; watermark still 0)
      b2: tick 10:03 — watermark is now 10:02 > expiry, so A is evicted
          after this batch's fold
      b3: tick 10:04 — only B fans out
    """
    import datetime as dt

    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl_ttl,
    )

    def t(s):
        return dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(seconds=s)

    trades = spark.createDataFrame(
        [(1, t(0), "A", "H", "BUY", 5, 50.0),
         (2, t(30), "A", "H", "SELL", 5, 51.0),
         (3, t(60), "B", "H", "BUY", 3, 52.0)],
        "trade_id long, ts timestamp, account string, hub string, "
        "side string, mw long, price_mwh double")
    px_schema = "ts timestamp, hub string, price_mwh double"
    ticks = [(t(120), "H", 53.0), (t(180), "H", 54.0), (t(240), "H", 55.0)]

    trades.coalesce(1).write.parquet(f"{tmp_path}/t/f0")
    for i, row in enumerate(ticks):
        spark.createDataFrame([row], px_schema).coalesce(1) \
            .write.parquet(f"{tmp_path}/p/f{i}")

    ts = (spark.readStream.schema(trades.schema)
          .option("maxFilesPerTrigger", 1).parquet(f"{tmp_path}/t/f*"))
    px = (spark.readStream.schema(spark.createDataFrame([], px_schema)
                                  .schema)
          .option("maxFilesPerTrigger", 1).parquet(f"{tmp_path}/p/f*"))
    out = streaming_pnl_ttl(ts, px, ttl_ms=60_000)
    run_available_now(out, "pnl_ttl_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT * FROM pnl_ttl_out").collect()

    by_tick = {}
    for r in got:
        by_tick.setdefault(r.ts, set()).add(r.account)
    # trade emissions + the 10:02 tick fan out both accounts
    assert by_tick[t(120)] == {"A", "B"}
    # after eviction the 10:04 tick fans out B only; A is gone from state
    assert by_tick[t(240)] == {"B"}
    # B (open position) survives every tick
    for s in (120, 180, 240):
        assert "B" in by_tick[t(s)]
    # A emitted rows while in the book, none after eviction
    a_rows = [r for r in got if r.account == "A"]
    assert {r.ts for r in a_rows} <= {t(0), t(30), t(120), t(180)}
    assert t(240) not in {r.ts for r in a_rows}


def test_pnl_ttl_expiry_is_due_at_an_equal_watermark(spark, tmp_path):
    """An expiry is due once the watermark is >= it, equality included
    (tools/stream_fuzz.py::_pnl_ttl_spec), while a group timeout fires
    only strictly below the watermark. Tape (TTL = 60 s, delay 0):

      b1: on hub H, A buys 5 / sells 5 at 10:00:00 (flat, expiry
          10:01:00) and B buys 3 (open); a tick on hub G at 10:01:00
      b2: a tick on G only — the watermark is now EXACTLY 10:01:00, so
          H's timeout must fire and evict A although H has no rows
      b3: a tick on H — only B fans out
    """
    import datetime as dt

    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl_ttl,
    )

    def t(s):
        return dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(seconds=s)

    trades = spark.createDataFrame(
        [(1, t(0), "A", "H", "BUY", 5, 50.0),
         (2, t(0), "A", "H", "SELL", 5, 51.0),
         (3, t(0), "B", "H", "BUY", 3, 52.0)],
        "trade_id long, ts timestamp, account string, hub string, "
        "side string, mw long, price_mwh double")
    px_schema = "ts timestamp, hub string, price_mwh double"
    ticks = [(t(60), "G", 53.0), (t(70), "G", 54.0), (t(80), "H", 55.0)]

    trades.coalesce(1).write.parquet(f"{tmp_path}/t/f0")
    for i, row in enumerate(ticks):
        spark.createDataFrame([row], px_schema).coalesce(1) \
            .write.parquet(f"{tmp_path}/p/f{i}")
    ts = (spark.readStream.schema(trades.schema)
          .option("maxFilesPerTrigger", 1).parquet(f"{tmp_path}/t/f*"))
    px = (spark.readStream.schema(spark.createDataFrame([], px_schema)
                                  .schema)
          .option("maxFilesPerTrigger", 1).parquet(f"{tmp_path}/p/f*"))
    out = streaming_pnl_ttl(ts, px, ttl_ms=60_000)
    run_available_now(out, "pnl_ttl_eq_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT ts, account FROM pnl_ttl_eq_out "
                    "WHERE hub = 'H'").collect()
    assert {r.account for r in got if r.ts == t(80)} == {"B"}


def test_pnl_ttl_restart_fires_timeouts_at_drain_end(spark, tmp_path):
    """The drain-end NO-DATA microbatch (the r10 events_churn fuzz find,
    minimal committed form): an availableNow drain appends one no-data
    batch once the watermark has advanced, so a group timeout whose
    expiry the PHASE-1 watermark already covers fires at the END of
    phase 1 — NOT after phase 2's first input rows. Tape (TTL = 60 s,
    delay 0):

      phase 1 (one batch): A buys 5 / sells 5 (flat at 10:00:10, expiry
        10:01:10), B buys 3 (open), tick 10:01:40 — the batch's own
        watermark is still 0, so A fans out on that tick; then the
        drain-end no-data batch runs with wm = 10:01:40 > expiry, the
        hub's timeout fires and EVICTS A.
      phase 2 (restart from the checkpoint): tick 10:01:50 — if eviction
        only ran after input rows, A would fan out here one last time;
        the drain-end semantics say it must NOT. B always does.
    """
    import datetime as dt

    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl_ttl,
    )

    def t(s):
        return dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(seconds=s)

    trades = spark.createDataFrame(
        [(1, t(0), "A", "H", "BUY", 5, 50.0),
         (2, t(10), "A", "H", "SELL", 5, 51.0),
         (3, t(20), "B", "H", "BUY", 3, 52.0)],
        "trade_id long, ts timestamp, account string, hub string, "
        "side string, mw long, price_mwh double")
    px_schema = "ts timestamp, hub string, price_mwh double"
    out, ckpt = f"{tmp_path}/out", f"{tmp_path}/ckpt"

    def run_once():
        ts = (spark.readStream.schema(trades.schema)
              .parquet(f"{tmp_path}/t/f*"))
        px = (spark.readStream
              .schema(spark.createDataFrame([], px_schema).schema)
              .parquet(f"{tmp_path}/p/f*"))
        q = (streaming_pnl_ttl(ts, px, ttl_ms=60_000)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    trades.coalesce(1).write.parquet(f"{tmp_path}/t/f0")
    spark.createDataFrame([(t(100), "H", 53.0)], px_schema) \
        .coalesce(1).write.parquet(f"{tmp_path}/p/f0")
    run_once()                                   # phase 1 + no-data batch
    spark.createDataFrame([], trades.schema) \
        .coalesce(1).write.parquet(f"{tmp_path}/t/f1")
    spark.createDataFrame([(t(110), "H", 54.0)], px_schema) \
        .coalesce(1).write.parquet(f"{tmp_path}/p/f1")
    run_once()                                   # phase 2 from checkpoint

    got = spark.read.parquet(out).collect()
    by_tick = {}
    for r in got:
        by_tick.setdefault(r.ts, set()).add(r.account)
    # phase-1 tick: watermark hadn't advanced yet, A still in the book
    assert by_tick[t(100)] == {"A", "B"}
    # phase-2 tick: A was evicted by the phase-1 drain-end no-data batch
    assert by_tick[t(110)] == {"B"}
