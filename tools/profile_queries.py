#!/usr/bin/env python
"""Optimization harness: isolated per-query measurement + plan capture
(measure first, noop sink, labelled jobs).

    python tools/profile_queries.py --queries q_reachability,d_pagerank \
        [--sf /root/testdata/sf0.1] [--runs 3] [--plans-tag before]

For each query: capture .explain("formatted") to
plans/profile/<name>_<tag>.txt, then time ``runs`` noop-sink executions
and report each run plus the min.  Prints one summary line per query:

    PROFILE <name> min=<s> runs=[..]

Streaming twins materialize inside fn(); their reported wall includes the
micro-batch replay (same methodology as bench.py), and the captured plan
is the read-back side (same convention as tools/dump_plans.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-tag", default="")
    ap.add_argument(
        "--json-out", default="", help="append {name: min} JSON lines here"
    )
    args = ap.parse_args()

    from oem_gateway_spark import get_spark
    from oem_gateway_spark.operators.dedup import release_caches
    from oem_gateway_spark.suite import REGISTRY

    names = [n.strip() for n in args.queries.split(",") if n.strip()]
    unknown = set(names) - REGISTRY.keys()
    if unknown:
        sys.exit(f"not in registry: {sorted(unknown)}")

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    # Warmups: batch codegen, streaming machinery, RocksDB JNI (same as
    # tools/sweep.py — without them the first query pays the cold start).
    for warm in ("q1_pricing_summary", "stream_tumbling", "stream_upsert_rocksdb"):
        try:
            REGISTRY[warm].fn(spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            print(f"warmup {warm} skipped: {type(e).__name__}", flush=True)

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "profile",
    )
    results: dict[str, float] = {}
    for name in names:
        fn = REGISTRY[name].fn
        runs: list[float] = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}:run{i}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            if i == 0 and args.plans_tag:
                os.makedirs(plans_dir, exist_ok=True)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(
                    os.path.join(plans_dir, f"{name}_{args.plans_tag}.txt"), "w"
                ) as f:
                    f.write(plan)
            release_caches(df)
        spark.sparkContext.setJobDescription(None)
        results[name] = min(runs)
        print(f"PROFILE {name} min={min(runs)} runs={runs}", flush=True)
    if args.json_out:
        with open(args.json_out, "a") as f:
            f.write(json.dumps(results) + "\n")


if __name__ == "__main__":
    main()
