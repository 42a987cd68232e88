"""Smoke pin for tools/stream_fuzz.py — the streaming-parity fuzzer.

The full sweep (10 corpora x 11 engines across two families) is a manual
tool run, recorded in COVERAGE.md per round; this smoke keeps the harness
itself from rotting: one tiny event corpus through one stateful engine and
one windowed-aggregation engine, plus one text corpus through the
decontamination job engine. A refactor that breaks corpus staging, the
split-stream cutter, the rowset/NaN normalization, or an engine adapter
fails HERE in CI instead of silently on the next manual sweep.
"""

from __future__ import annotations

import pytest

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import stream_fuzz  # noqa: E402

pytestmark = pytest.mark.slow  # integration tier (see pytest.ini)


def test_event_engines_smoke(spark):
    # events_sparse is the smallest corpus (3 rows); pnl exercises the
    # stateful fold adapter, tumbling the complete-mode windowed drain,
    # and pnl_ttl_finite the _pnl_ttl_spec replay machinery (batch
    # reconstruction, watermark/timer model, dict-bag compare) — the one
    # engine whose oracle is pure Python rather than the batch plan, so
    # a spec-side refactor break fails in CI, not on the next sweep
    results = dict(stream_fuzz.run_corpus(
        spark, "events_sparse", seed=7,
        engines=["pnl", "tumbling", "pnl_ttl_finite"],
        tag="smoke"))
    assert results == {"pnl": True, "tumbling": True,
                       "pnl_ttl_finite": True}


def test_doc_engines_smoke(spark):
    # decon is the cheaper doc engine (no per-epoch pair-miner replay)
    results = dict(stream_fuzz.run_doc_corpus(
        spark, "edge_ascii", seed=7, engines=["decon"]))
    assert results == {"decon": True}


def test_nan_normalization_distinguishes_only_nan():
    class Row:
        def __init__(self, **kw):
            self._kw = kw

        def asDict(self):
            return dict(self._kw)

    nan = float("nan")
    a = stream_fuzz._rowset([Row(x=nan, y=1.0)])
    b = stream_fuzz._rowset([Row(x=nan, y=1.0)])
    c = stream_fuzz._rowset([Row(x=2.0, y=1.0)])
    assert a == b          # identical NaN rows compare equal
    assert a != c          # real differences still surface
    assert stream_fuzz._rowset([Row(x=0.0)]) \
        == stream_fuzz._rowset([Row(x=-0.0)])  # +/-0.0 already equal
