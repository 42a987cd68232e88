"""Self-tests of the benchmark's checker and generator.

    python3 -m pytest perfbench -q -p no:cacheprovider

The checkers must report a one-ulp change, a dropped row and an
out-of-order tape or file order; the generator must keep its schedule
while nothing consumes what it writes (an open loop).
"""

from __future__ import annotations

import copy
import json
import math
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import check_batch  # noqa: E402
import pandas as pd  # noqa: E402
from stream import percentile  # noqa: E402
from tape import (  # noqa: E402
    HUBS,
    PRICE,
    ROUND_US,
    SPECS,
    TRADE,
    Event,
    render,
    rounds,
)


@pytest.fixture(scope="module")
def steady():
    events = [e for evs in rounds("stream_steady", 7, 60) for e in evs]
    return events, check.expected(events, check.expected_pnl(events))


def _bad(want, got):
    return {sink: check.compare(sink, want[sink], got[sink])
            for sink in check.SINKS}


def test_clean_output_passes(steady):
    events, want = steady
    assert check.tape_problems(events) == []
    assert all(not bad for bad, _ in _bad(want, copy.deepcopy(want)).values())


@pytest.mark.parametrize("sink", check.SINKS)
def test_one_ulp_is_a_failure(steady, sink):
    _events, want = steady
    got = copy.deepcopy(want)
    key = sorted(got[sink])[-1]
    row = list(got[sink][key][0])
    row[-1] = math.nextafter(row[-1], math.inf)
    got[sink][key][0] = tuple(row)
    bad, msg = check.compare(sink, want[sink], got[sink])
    assert bad == {key}
    assert "first difference" in msg


@pytest.mark.parametrize("sink", check.SINKS)
def test_dropped_row_is_a_failure(steady, sink):
    _events, want = steady
    got = copy.deepcopy(want)
    key = sorted(got[sink])[len(got[sink]) // 2]
    got[sink][key].pop()
    bad, _msg = check.compare(sink, want[sink], got[sink])
    assert bad == {key}


def test_swapped_same_hub_events_are_a_failure(steady):
    events, _want = steady
    hub = events[0].hub
    i, j = [k for k, e in enumerate(events) if e.hub == hub][:2]
    swapped = list(events)
    swapped[i], swapped[j] = swapped[j], swapped[i]
    assert check.tape_problems(swapped)


def test_every_event_has_an_expected_row(steady):
    events, want = steady
    keys = set().union(*(set(rows) for rows in want.values()))
    assert {(e.ts, e.hub) for e in events} == keys


def test_backlog_tape_is_ordered_and_fills_the_book():
    spec = SPECS["stream_backlog"]
    tape = rounds("stream_backlog", 3, spec.warmup_rounds + 2)
    events = [e for evs in tape for e in evs]
    assert check.tape_problems(events) == []
    opened = {(e.account, e.hub) for evs in tape[:spec.warmup_rounds]
              for e in evs if e.kind == TRADE}
    assert len(opened) == spec.accounts * len(HUBS)


def test_backlog_file_order_problems():
    assert check.batch_order_problems([0, 0, 1, 1, 2], 2) == []
    assert check.batch_order_problems([0, 0, 2, 1, 2], 2)
    assert check.batch_order_problems([0, 1, 1], 2)
    assert check.batch_order_problems([0, 0, None], 2)


@pytest.fixture(scope="module")
def frame():
    return pd.DataFrame({
        "ts": pd.to_datetime([1, 2, 3], unit="us"),
        "hub": ["HUB0", "HUB1", "HUB0"],
        "n": [1, 2, 3],
        "x": [0.1, 0.2, float("nan")],
    })


def test_batch_clean_output_passes(frame):
    got = frame.iloc[::-1][["x", "n", "hub", "ts"]]
    assert check_batch.compare("q", frame, got) is None


def test_batch_one_ulp_is_a_failure(frame):
    got = frame.copy()
    got.loc[1, "x"] = math.nextafter(got.loc[1, "x"], math.inf)
    assert "1 of 3 sorted rows differ" in check_batch.compare("q", frame, got)


def test_batch_dropped_row_is_a_failure(frame):
    assert check_batch.compare("q", frame, frame.iloc[:2]) is not None


def test_batch_numeric_kind_change_is_a_failure(frame):
    got = frame.astype({"n": "float64"})
    assert "column n" in check_batch.compare("q", frame, got)


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(200)]
    assert percentile(xs, 0.95) == 189.0
    with pytest.raises(ValueError):
        percentile(xs[:199], 0.95)


def test_generator_keeps_schedule_while_consumer_stalls(tmp_path):
    n = 10
    src = tmp_path / "src"
    src.mkdir()
    log = tmp_path / "gen.json"
    gen = subprocess.Popen(
        [sys.executable, str(HERE / "generator.py"), "--workload",
         "stream_steady", "--seed", "1", "--first", "0", "--rounds", str(n),
         "--src", str(src), "--log", str(log)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert gen.stdout.readline().strip() == "ready"
        start = time.time() + 0.1
        gen.stdin.write(f"start {start!r}\n")
        gen.stdin.flush()
        # the consumer is stalled: nothing reads src while the schedule runs
        time.sleep(n * ROUND_US / 1e6 + 0.3)
        assert gen.wait(timeout=10) == 0
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    rec = json.loads(log.read_text())
    late = [w - d for d, w in zip(rec["due"], rec["written"])]
    assert len(late) == n and len(list(src.glob("round-*.json"))) == n
    assert max(late) < 0.05
    assert rec["due"][-1] - rec["due"][0] == pytest.approx(
        (n - 1) * ROUND_US / 1e6)


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "streaming_pnl sorts each Arrow chunk of a hub's micro-batch on its "
    "own, so a hub whose batch spans more than "
    "spark.sql.execution.arrow.maxRecordsPerBatch rows is folded out of "
    "event-time order"))
def test_pnl_fold_keeps_order_across_arrow_chunks(tmp_path):
    from kafka_flink_processing_spark.session import get_spark
    from kafka_flink_processing_spark.sources.kafka import parse_topic
    from kafka_flink_processing_spark.streaming.jobs import pnl_job

    evs = [Event(0, PRICE, 0, "PJM-WEST", 50.0)]
    evs += [Event(0, TRADE, 20 * (i + 1), "PJM-WEST", 40.0 + i / 100, i + 1,
                  f"ACC{i % 7}", "BUY" if i % 3 else "SELL", 5)
            for i in range(300)]
    (tmp_path / "src").mkdir()
    (tmp_path / "src" / "round-0000000.json").write_text(
        "".join(render(e) + "\n" for e in evs))
    spark = get_spark("perfbench-tests")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        raw = (spark.readStream.schema("topic string, value string")
               .json(str(tmp_path / "src")))
        q = pnl_job(parse_topic(raw.filter(raw.topic == "trades"), "trades"),
                    parse_topic(raw.filter(raw.topic == "prices"), "prices"),
                    str(tmp_path / "out"), str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = check.expected(evs, check.expected_pnl(evs))["positions_pnl"]
    _commits, got, _keys = check.read_sink(
        str(tmp_path / "out" / "positions_pnl"), "positions_pnl")
    bad, msg = check.compare("positions_pnl", want, got)
    assert not bad, msg
