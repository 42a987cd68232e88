"""Deterministic event tape for the streaming workloads.

The tape follows the reference producer (producer.py, mirrored by
`sources/generators.py`): rounds every 0.2 s; a price tick per hub as a
random walk (init U(15,75), step U(-0.3,0.3) + N(0,0.8) + diurnal * 0.05,
floored at 5, rounded to 2 dp); trades with a uniform account, hub, side
and mw in {5,10,25,50} priced at the hub's level + U(-1,1).

Every event carries a unique event-time `ts` (integer microseconds from
2024-01-01T00:00:00): a round's ticks take the first microseconds after
its boundary, its trades follow at 20 us steps, so `ts` rises strictly
through the tape and `(hub, ts)` never repeats. A round is written as
one JSON-lines file of `{"topic": ..., "value": <payload string>}`
records, so both topics come from one file source and file order equals
event-time order.

The first `warmup_rounds` rounds (the warm-up slice) open one position
for every (account, hub) pair, in place of their random trades, so the
book is full before the measurement window and every tick in the window
fans out to the whole book of its hub.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass

HUBS = ("PJM-WEST", "ERCOT-HOUSTON", "NYISO-ZONEJ", "CAISO-NP15")
MW_CHOICES = (5, 10, 25, 50)
ROUND_US = 200_000          # producer.py:111, one emission round per 0.2 s
TRADE_STEP_US = 20          # spacing of the trades inside a round
TRADE = 0                   # kind tags, as in operators/netting.py
PRICE = 1


@dataclass(frozen=True)
class Spec:
    """Traffic shape of one workload."""
    accounts: int
    trade_p: float          # Bernoulli probability of a trade per round
    trades_per_round: int   # trades per round when one is drawn
    tick_every: int         # a tick round every `tick_every` rounds
    hubs_per_tick: int      # hubs ticking in a tick round (cycling)
    warmup_rounds: int
    files_per_trigger: int | None = None   # the source's maxFilesPerTrigger

    def pairs(self) -> list[tuple[int, str]]:
        return [(a, h) for a in range(self.accounts) for h in HUBS]

    def account_name(self, i: int) -> str:
        return f"ACC{i + 1}" if self.accounts <= 9 else f"A{i:05d}"


SPECS = {
    # the reference: 4 hubs every 0.2 s, Bernoulli(0.5) trade, 3 accounts
    # (BASELINE.md:15-16: ~20 ticks/s + ~2.5 trades/s)
    "stream_steady": Spec(accounts=3, trade_p=0.5, trades_per_round=1,
                          tick_every=1, hubs_per_tick=4, warmup_rounds=25),
    # a pre-written backlog over a book of 10^4 accounts (ROADMAP 3a's
    # decision point), trades drawn like the producer's (uniform account,
    # hub, side, mw). A file is one round of 5000 trades; one hub ticks
    # every 4th round, so a tick's fan-out (10^4 rows) adds half the trade
    # rows. The warm-up slice (8 rounds, one position per (account, hub))
    # is one maxFilesPerTrigger batch, as is every later batch.
    "stream_backlog": Spec(accounts=10_000, trade_p=1.0,
                           trades_per_round=5000, tick_every=4,
                           hubs_per_tick=1, warmup_rounds=8,
                           files_per_trigger=8),
}


@dataclass(frozen=True)
class Event:
    round: int
    kind: int
    ts: int                 # event time, microseconds
    hub: str
    price_mwh: float
    trade_id: int = 0
    account: str = ""
    side: str = ""
    mw: int = 0


def iso(ts_us: int) -> str:
    day_us = 86_400_000_000
    if not 0 <= ts_us < day_us:
        raise ValueError(f"tape ts {ts_us} leaves its base day")
    sec, us = divmod(ts_us, 1_000_000)
    h, rem = divmod(sec, 3600)
    m, s = divmod(rem, 60)
    return f"2024-01-01T{h:02d}:{m:02d}:{s:02d}.{us:06d}"


def render(ev: Event) -> str:
    """One JSON-lines record; the payload is a JSON string like a Kafka
    value (floats print with repr, which JSON reads back exactly)."""
    if ev.kind == PRICE:
        payload = (f'{{\\"ts\\":\\"{iso(ev.ts)}\\",\\"hub\\":\\"{ev.hub}\\",'
                   f'\\"price_mwh\\":{ev.price_mwh!r}}}')
        return f'{{"topic":"prices","value":"{payload}"}}'
    payload = (f'{{\\"trade_id\\":{ev.trade_id},\\"ts\\":\\"{iso(ev.ts)}\\",'
               f'\\"account\\":\\"{ev.account}\\",\\"hub\\":\\"{ev.hub}\\",'
               f'\\"side\\":\\"{ev.side}\\",\\"mw\\":{ev.mw},'
               f'\\"price_mwh\\":{ev.price_mwh!r}}}')
    return f'{{"topic":"trades","value":"{payload}"}}'


def rounds(workload: str, seed: int, n_rounds: int) -> list[list[Event]]:
    """The first `n_rounds` rounds of the workload's tape for `seed`."""
    spec = SPECS[workload]
    rng = random.Random(f"{workload}:{seed}")
    px = {h: rng.uniform(15.0, 75.0) for h in HUBS}
    pairs = spec.pairs()
    trade_id = 0
    tick_hub = 0
    out: list[list[Event]] = []
    for r in range(n_rounds):
        base = r * ROUND_US
        diurnal = math.sin((base // 3_600_000_000) * math.pi / 12) * 0.05
        evs: list[Event] = []
        if r % spec.tick_every == 0:
            for _ in range(spec.hubs_per_tick):
                h = HUBS[tick_hub % len(HUBS)]
                tick_hub += 1
                px[h] = max(5.0, px[h] + rng.uniform(-0.3, 0.3)
                            + rng.gauss(0.0, 0.8) + diurnal)
                evs.append(Event(r, PRICE, base + len(evs), h,
                                 round(px[h], 2)))
        fills: list[tuple[int, str]] = []
        if r < spec.warmup_rounds:
            fills += pairs[r::spec.warmup_rounds]
        elif rng.random() < spec.trade_p:
            fills += [(rng.randrange(spec.accounts), rng.choice(HUBS))
                      for _ in range(spec.trades_per_round)]
        if len(fills) * TRADE_STEP_US >= ROUND_US:
            raise ValueError("round overflows its 0.2 s slot")
        for i, (a, h) in enumerate(fills):
            trade_id += 1
            evs.append(Event(
                r, TRADE, base + (i + 1) * TRADE_STEP_US, h,
                round(px[h] + rng.uniform(-1.0, 1.0), 2), trade_id,
                spec.account_name(a), rng.choice(("BUY", "SELL")),
                rng.choice(MW_CHOICES)))
        out.append(evs)
    return out


def round_text(evs: list[Event]) -> str:
    return "".join(render(e) + "\n" for e in evs)


def round_file(r: int) -> str:
    return f"round-{r:07d}.json"


def write_round(src: str, r: int, data: bytes,
                mtime_ns: int | None = None) -> None:
    """Publish round `r` atomically: write a hidden temporary file (the
    file source skips names starting with '.'), then rename it. With
    `mtime_ns` the file gets that modification time, which is the order a
    capped file source takes files in."""
    tmp = os.path.join(src, "." + round_file(r) + ".tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    if mtime_ns is not None:
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.rename(tmp, os.path.join(src, round_file(r)))
