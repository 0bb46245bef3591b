"""Correctness checks of the benchmark, each against a computation made
apart from the program: the frame formulas of ``frames.py`` and the DuckDB
oracles compared by ``tests/oracle_harness.py``.  Every check returns a
list of error strings; an empty list means the output is correct.
"""

from __future__ import annotations

import json
from collections import Counter
from urllib.parse import parse_qs, urlsplit

from frames import INFO, PERIOD, VALID, FrameSpec

MAX_ERRS = 5


def posted_rows(url: str) -> list[list]:
    """The ``[dt, node, v...]`` rows of one emoncms bulk URL."""
    data = parse_qs(urlsplit(url).query)["data"][0]
    return json.loads(data)


def check_live(spec: FrameSpec, n_total: int, rate: float,
               rows: list[list], dead: list[tuple[str, str]]) -> list[str]:
    """``rows``: every ``[dt, node, seq, due_us, v...]`` row the poster
    acknowledged.  ``dead``: every ``(line, reject_reason)`` row of the
    dead letter.  Frames ``0 .. n_total-1`` were offered."""
    errs: list[str] = []
    seqs = Counter(int(r[2]) for r in rows)
    want = spec.seqs_of(VALID, n_total)
    dups = sorted(s for s, c in seqs.items() if c > 1)
    missing = sorted(want - seqs.keys())
    extra = sorted(seqs.keys() - want)
    if dups:
        errs.append(f"live: {len(dups)} frames acked more than once, e.g. {dups[:3]}")
    if missing:
        errs.append(f"live: {len(missing)} valid frames never acked, e.g. {missing[:3]}")
    if extra:
        errs.append(f"live: {len(extra)} acked frames were not valid frames, e.g. {extra[:3]}")
    for r in rows:
        seq = int(r[2])
        if seq not in want:
            continue
        node = spec.node[seq % PERIOD]
        due_us = round(seq * 1e6 / rate)
        if int(r[1]) != node or int(r[3]) != due_us or [float(v) for v in r[4:]] != spec.values(seq):
            errs.append(f"live: frame {seq} acked as {r[1:]}, sent node {node} "
                        f"due {due_us} values {spec.values(seq)}")
            if len(errs) >= MAX_ERRS:
                break
    dead_seqs = Counter()
    for line, reason in dead:
        if reason != INFO:
            errs.append(f"live: dead letter {line!r} has reason {reason!r}, want {INFO!r}")
        dead_seqs[int(line.split()[1])] += 1
    want_dead = spec.seqs_of(INFO, n_total)
    if dead_seqs.keys() != want_dead or any(c > 1 for c in dead_seqs.values()):
        lost = sorted(want_dead - dead_seqs.keys())
        errs.append(f"live: dead letter holds {sum(dead_seqs.values())} rows for "
                    f"{len(want_dead)} info frames; missing e.g. {lost[:3]}")
    return errs[:MAX_ERRS]


def check_query(name: str, spark_pdf, oracle_pdf) -> list[str]:
    """Row count, schema and value compare of the repository's oracle gate."""
    from tests.oracle_harness import compare

    return compare(spark_pdf, oracle_pdf, name)[:MAX_ERRS]
