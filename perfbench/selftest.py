"""Self-test of the benchmark's checks: each must pass on correct output
and report failure on a planted fault.

    python3 perfbench/selftest.py

Needs no Spark session; exits 0 when every case behaves.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from checks import check_live, check_query  # noqa: E402
from frames import INFO, PERIOD, VALID, FrameSpec  # noqa: E402
from loadgen import LIVE_REJECTS  # noqa: E402

RATE = 1000.0
N = 5 * PERIOD + 7


def live_output(spec: FrameSpec) -> tuple[list[list], list[tuple[str, str]]]:
    """What a correct pipeline acks and dead-letters for frames 0..N-1."""
    rows, dead = [], []
    for i in range(N):
        due_us = round(i * 1e6 / RATE)
        line = spec.line(i, due_us)
        if spec.cls[i % PERIOD] == VALID:
            rows.append([-1, spec.node[i % PERIOD], i, due_us, *spec.values(i)])
        else:
            dead.append((line, INFO))
    return rows, dead


def main() -> int:
    spec = FrameSpec(3, LIVE_REJECTS)
    rows, dead = live_output(spec)
    wrong_value = [list(r) for r in rows]
    wrong_value[0][4] += 0.01
    cases = [
        ("live: correct output", check_live(spec, N, RATE, rows, dead), False),
        ("live: dropped frame", check_live(spec, N, RATE, rows[1:], dead), True),
        ("live: duplicated frame", check_live(spec, N, RATE, rows + rows[-1:], dead), True),
        ("live: wrong value", check_live(spec, N, RATE, wrong_value, dead), True),
        ("live: missing dead-letter row", check_live(spec, N, RATE, rows, dead[1:]), True),
    ]

    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    cases += [
        ("query: equal result", check_query("q", oracle.iloc[::-1].copy(), oracle), False),
        ("query: one row missing", check_query("q", oracle.iloc[:2].copy(), oracle), True),
        ("query: one row differs", check_query("q", oracle.assign(v=[0.5, 1.5, 2.75]), oracle), True),
    ]

    bad = 0
    for name, errs, should_fail in cases:
        ok = bool(errs) == should_fail
        bad += not ok
        print(f"{'ok ' if ok else 'BAD'} {name}: {errs[0] if errs else 'no error'}")
    print(f"{len(cases) - bad}/{len(cases)} cases behave")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
