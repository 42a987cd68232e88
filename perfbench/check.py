"""Output verification: the expected sink rows of a tape, computed outside
Spark, and an exact comparison against what the jobs wrote.

References:
- positions_pnl: `operators/netting.py::replay`, the executable spec of
  the PnL fold, over each hub's events in (ts, kind, trade_id) order;
- price_exposure: its formula over the expected PnL rows
  (pnl01 = position_mw, notional_usd = position_mw * last_price_mwh);
- forecasts: a per-hub ring buffer of the last 20 prices, averaged
  oldest to newest (sma5 over the last 5, forecast_next = sma5).

Rows are grouped by the event that produced them, keyed `(ts, hub)`
(unique per event on a valid tape), and compared exactly: a one-ulp
difference, a missing or an extra row all fail the event.
"""

from __future__ import annotations

import os
from collections import defaultdict, deque

from kafka_flink_processing_spark.operators.netting import replay, sort_key

from tape import PRICE, Event

BASE_EPOCH_US = 1_704_067_200_000_000   # 2024-01-01T00:00:00Z, the tape's day
SINKS = ("positions_pnl", "price_exposure", "forecasts")
COLUMNS = {
    "positions_pnl": ("ts", "account", "hub", "position_mw", "avg_price_mwh",
                      "last_price_mwh", "realized_pnl", "unrealized_pnl",
                      "total_pnl"),
    "price_exposure": ("ts", "account", "hub", "position_mw",
                       "last_price_mwh", "pnl01", "notional_usd"),
    "forecasts": ("ts", "hub", "sma5", "sma20", "forecast_next"),
}

Rows = dict[tuple[int, str], list[tuple]]


def tape_problems(events: list[Event]) -> list[str]:
    """Ordering hazards: event time must rise strictly through the tape
    (which also keeps any (hub, ts) from repeating, since the prices
    payload has no tick id)."""
    out = []
    for prev, cur in zip(events, events[1:]):
        if cur.ts <= prev.ts:
            out.append(f"tape ts does not rise: {prev} then {cur}")
    return out


def batch_order_problems(batches: list[int | None], warmup: int
                         ) -> list[str]:
    """A capped source must take the tape's files in order: `batches[r]`
    is the batch that took round r's file (None if none did); the warm-up
    rounds must make batch 0, and batch ids must never fall."""
    out = []
    for r, b in enumerate(batches):
        if b is None:
            out.append(f"round {r}: no batch took its file")
        elif (b == 0) != (r < warmup):
            out.append(f"round {r}: taken by batch {b}, warm-up is "
                       f"rounds 0..{warmup - 1} = batch 0")
    taken = [b for b in batches if b is not None]
    for r, (prev, cur) in enumerate(zip(taken, taken[1:])):
        if cur < prev:
            out.append(f"files out of order: batch {prev} then {cur}")
    return out


def _record(e: Event) -> dict:
    if e.kind == PRICE:
        return {"kind": e.kind, "ts": e.ts, "hub": e.hub,
                "price_mwh": e.price_mwh}
    return {"kind": e.kind, "ts": e.ts, "hub": e.hub, "trade_id": e.trade_id,
            "account": e.account, "side": e.side, "mw": e.mw,
            "price_mwh": e.price_mwh}


def _group(sink: str, rows: list[tuple]) -> Rows:
    """Group one sink's rows by the key (ts, hub) of their event."""
    hub_at = COLUMNS[sink].index("hub")
    out: Rows = defaultdict(list)
    for row in rows:
        out[(row[0], row[hub_at])].append(row)
    return out


def expected_pnl(events: list[Event]) -> list[tuple]:
    by_hub: dict[str, list[dict]] = defaultdict(list)
    for e in events:
        by_hub[e.hub].append(_record(e))
    rows = []
    for recs in by_hub.values():
        recs.sort(key=sort_key)
        rows += [tuple(r[c] for c in COLUMNS["positions_pnl"])
                 for r in replay(recs)]
    return rows


def expected_exposure(pnl_rows: list[tuple]) -> list[tuple]:
    return [(ts, acct, hub, pos, last, float(pos), pos * last)
            for ts, acct, hub, pos, _avg, last, *_ in pnl_rows]


def expected_forecasts(events: list[Event]) -> list[tuple]:
    bufs: dict[str, deque] = defaultdict(lambda: deque(maxlen=20))
    rows = []
    for e in sorted((e for e in events if e.kind == PRICE),
                    key=lambda e: e.ts):
        buf = bufs[e.hub]
        buf.append(e.price_mwh)
        vals = list(buf)
        s5 = 0.0
        for v in vals[-5:]:
            s5 += v
        s20 = 0.0
        for v in vals:
            s20 += v
        sma5 = s5 / len(vals[-5:])
        rows.append((e.ts, e.hub, sma5, s20 / len(vals), sma5))
    return rows


def expected(events: list[Event], pnl: list[tuple]) -> dict[str, Rows]:
    """Expected rows of every sink; `pnl` is `expected_pnl(events)`."""
    return {"positions_pnl": _group("positions_pnl", pnl),
            "price_exposure": _group("price_exposure",
                                     expected_exposure(pnl)),
            "forecasts": _group("forecasts", expected_forecasts(events))}


def compare(sink: str, want: Rows, got: Rows) -> tuple[set, str | None]:
    """Event keys whose rows differ, and a message naming the first."""
    bad = set()
    first = None
    for key in sorted(set(want) | set(got)):
        w = sorted(want.get(key, []))
        g = sorted(got.get(key, []))
        if w == g:
            continue
        bad.add(key)
        if first is None:
            diff = next(((a, b) for a, b in zip(w, g) if a != b), None)
            if diff is None:
                diff = (w[len(g):len(g) + 1] or None,
                        g[len(w):len(w) + 1] or None)
            first = (f"{sink}: event {key}: {len(w)} expected rows, "
                     f"{len(g)} written; first difference: expected "
                     f"{diff[0]}, got {diff[1]}")
    return bad, first


def _pylist(col) -> list:
    """A column's values as Python objects (the numpy route is many times
    faster than pyarrow's to_pylist, and exact; nulls need to_pylist)."""
    if col.null_count:
        return col.to_pylist()
    return col.to_numpy().tolist()


def read_sink(sink_dir: str, sink: str) -> tuple[dict[int, float], Rows,
                                                  dict[int, list]]:
    """Committed epochs of one sink: commit time (mtime of the epoch's
    _SUCCESS), rows grouped by event key, and event keys per epoch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    commits: dict[int, float] = {}
    rows: Rows = defaultdict(list)
    keys: dict[int, list] = {}
    if not os.path.isdir(sink_dir):
        return commits, rows, keys
    for name in os.listdir(sink_dir):
        if not name.startswith("epoch="):
            continue
        d = os.path.join(sink_dir, name)
        ok = os.path.join(d, "_SUCCESS")
        if not os.path.exists(ok):
            continue
        epoch = int(name.split("=", 1)[1])
        commits[epoch] = os.stat(ok).st_mtime_ns / 1e9
        parts = [os.path.join(d, f) for f in os.listdir(d)
                 if f.endswith(".parquet")]
        cols = COLUMNS[sink]
        hub_at = cols.index("hub")
        epoch_keys = set()
        for part in parts:
            t = pq.read_table(part)
            ts = t.column("ts").cast(pa.timestamp("us")).cast(pa.int64())
            data = [_pylist(ts)] + [_pylist(t.column(c)) for c in cols[1:]]
            for row in zip(*data):
                row = (row[0] - BASE_EPOCH_US,) + row[1:]
                key = (row[0], row[hub_at])
                rows[key].append(row)
                epoch_keys.add(key)
        keys[epoch] = sorted(epoch_keys)
    return commits, rows, keys
