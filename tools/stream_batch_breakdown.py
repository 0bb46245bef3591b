#!/usr/bin/env python
"""Per-micro-batch durationMs breakdown for streaming twins.

    python tools/stream_batch_breakdown.py --queries stream_join_then_window

Runs each query through ``registry.run`` and prints, for every streaming
query its build ran (``RunRecord.streams``), the batch count, the most
stateful operators in one batch, and the summed durationMs phases.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from oem_gateway_spark import get_spark
    from oem_gateway_spark.suite.registry import run

    spark = get_spark(app_name="stream-breakdown")
    spark.sparkContext.setLogLevel("ERROR")

    for name in [n.strip() for n in args.queries.split(",") if n.strip()]:
        for qi, digest in enumerate(run(name, spark, args.sf).streams):
            progs = digest["progress"]
            durs: Counter = Counter()
            for p in progs:
                durs.update(p.get("durationMs") or {})
            total = sum(p.get("batchDuration", 0) for p in progs)
            print(
                f"BREAKDOWN {name}[q{qi}] batches={digest['n_batches']} "
                f"stateOps={digest['n_stateful_operators']} "
                f"batchDurationSum={total} "
                f"durationMs={dict(durs.most_common())}",
                flush=True,
            )


if __name__ == "__main__":
    main()
