#!/usr/bin/env python
"""Interleaved A/B of a session conf over streaming twins (r14, guide §1).

    python tools/ab_stream_conf.py --queries stream_upsert_rocksdb \
        --conf spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows=false \
        [--rounds 4] [--sf /root/testdata/sf0.1]

Alternates baseline (conf unset/previous value) and variant (conf set) runs
of each query IN ONE SESSION, A-B-B-A order per round pair, so host drift
hits both variants symmetrically — the r13 lesson that raw walls across
runs are not comparable on this box.  Streaming confs are read at stream
START, so session-level set/restore scopes each run exactly.  Each run
goes through ``registry.run`` (build, ``toPandas``, release), and the
line per query also prints the micro-batch count of every stream each
timed run started, from its run record.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--conf", required=True, action="append",
                    help="key=value applied in the variant runs (repeatable)")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from oem_gateway_spark import get_spark
    from oem_gateway_spark.suite import registry

    confs = dict(c.split("=", 1) for c in args.conf)
    names = [n.strip() for n in args.queries.split(",") if n.strip()]
    spark = get_spark(app_name="ab-stream-conf")
    spark.sparkContext.setLogLevel("ERROR")

    prev: dict[str, str | None] = {}
    for k in confs:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None

    def set_variant(on: bool) -> None:
        for k, v in confs.items():
            if on:
                spark.conf.set(k, v)
            elif prev[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev[k])

    def run(name: str) -> tuple[float, list[int]]:
        t0 = time.perf_counter()
        rec = registry.run(name, spark, args.sf)
        dt = time.perf_counter() - t0
        return round(dt, 3), [s["n_batches"] for s in rec.streams]

    for name in names:
        # warmup (uncounted, baseline conf)
        set_variant(False)
        run(name)
        res: dict[str, list[float]] = {"base": [], "variant": []}
        batches: dict[str, set[tuple[int, ...]]] = {"base": set(), "variant": set()}
        for i in range(args.rounds):
            order = ("base", "variant") if i % 2 == 0 else ("variant", "base")
            for which in order:
                set_variant(which == "variant")
                spark.sparkContext.setJobDescription(f"ab:{name}:{which}:{i}")
                dt, n = run(name)
                res[which].append(dt)
                batches[which].add(tuple(n))
        set_variant(False)
        b, v = res["base"], res["variant"]
        print(
            f"AB {name} base={b} min={min(b)} med={statistics.median(b)} | "
            f"variant={v} min={min(v)} med={statistics.median(v)} | "
            f"med_speedup={statistics.median(b) / statistics.median(v):.3f} | "
            f"batches base={sorted(batches['base'])} "
            f"variant={sorted(batches['variant'])}",
            flush=True,
        )


if __name__ == "__main__":
    main()
