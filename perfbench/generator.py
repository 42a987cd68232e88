"""Open-loop load generator: a single-threaded process that writes tape
rounds into the stream source directory on a fixed schedule.

    python3 perfbench/generator.py --workload W --seed N --first R \
        --rounds K --src DIR --log FILE

It renders rounds R .. R+K-1 of the seeded tape, prints `ready`, then
waits for one line `start <unix time>` on stdin. Round R+i is due at
start + 0.2 * i; it is published into DIR atomically, so the file source
never sees a partial file. The schedule never waits for the consumer.
When done it writes the due and written times of every round to FILE as
JSON.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from tape import ROUND_US, round_text, rounds, write_round  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--rounds", type=int, required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()

    tape = rounds(a.workload, a.seed, a.first + a.rounds)[a.first:]
    texts = [round_text(evs).encode() for evs in tape]
    print("ready", flush=True)
    cmd = sys.stdin.readline().split()
    if len(cmd) != 2 or cmd[0] != "start":
        raise SystemExit(f"generator: expected 'start <t>', got {cmd!r}")
    start = float(cmd[1])

    due, written = [], []
    for i, text in enumerate(texts):
        t_due = start + i * ROUND_US / 1e6
        delay = t_due - time.time()
        if delay > 0:
            time.sleep(delay)
        write_round(a.src, a.first + i, text)
        due.append(t_due)
        written.append(time.time())
    with open(a.log, "w") as f:
        json.dump({"first": a.first, "due": due, "written": written}, f)


if __name__ == "__main__":
    main()
