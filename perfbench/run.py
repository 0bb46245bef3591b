"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload gateway_live --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout.  The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of ``BENCHMARK.json`` (``--trace 0``) or
every per-layer metric (``--trace 1``).  A traced run also writes its
spans to ``.perfbench/out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import OUT, ROOT, RssSampler, Tracer  # noqa: E402


class Context:
    """What a workload gets: its inputs' seed, the run length, the tracer,
    and the clocks that ``setup_s`` is measured with."""

    def __init__(self, seed: int, seconds: float, trace: bool, t_proc0: float):
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.t_proc0 = t_proc0
        self.gen_s = 0.0  # input generation, left out of setup_s
        self.t_setup = 0.0
        self.sampler = RssSampler()
        self.layers: dict[str, float] = {}
        self.spark = None

    @contextmanager
    def generating(self):
        """Time the benchmark's own input generation."""
        t = time.monotonic()
        try:
            yield
        finally:
            self.gen_s += time.monotonic() - t

    def start_spark(self):
        from oem_gateway_spark import get_spark

        t = time.monotonic()
        with self.tracer.span("session.get_spark", op="setup"):
            spark = get_spark(app_name="perfbench", extra_conf=harness.spark_conf())
        self.layers["session.get_spark_s"] = time.monotonic() - t
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark

    def setup_done(self, warmup_started: float) -> None:
        """The first timed operation may begin now."""
        self.t_setup = time.monotonic()
        self.layers["session.warmup_s"] = self.t_setup - warmup_started
        self.tracer.add("session.warmup", warmup_started, self.t_setup, op="setup")

    @property
    def setup_s(self) -> float:
        return self.t_setup - self.t_proc0 - self.gen_s


def main() -> int:
    t_proc0 = harness.process_start_monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("oem_gateway_spark") is None:
        print(f"perfbench: no oem_gateway_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(ROOT / "BENCHMARK.json") as fh:
        declared = json.load(fh)
    names = [w["name"] for w in declared["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    harness.prepare_environment()  # before the package reads its env knobs
    import live
    import querymix

    workloads = {"gateway_live": live.run, "query_mix": querymix.run}
    ctx = Context(args.seed, args.seconds, bool(args.trace), t_proc0)
    ctx.sampler.start()
    try:
        res = workloads[args.workload](ctx)
        end_to_end = dict(res["metrics"])
        end_to_end["setup_s"] = ctx.setup_s
        end_to_end["peak_rss_mb"] = ctx.sampler.stop()
        if args.trace:
            ctx.layers["session.jvm_old_gen_peak_mb"] = harness.jvm_old_gen_peak_mb(ctx.spark)
    finally:
        if ctx.spark is not None:
            harness.stop_spark(ctx.spark)

    kind = "per_layer" if args.trace else "end_to_end"
    values = {**{m["name"]: 0.0 for m in declared["per_layer"]}, **ctx.layers} if args.trace else end_to_end
    metrics = {}
    for m in declared[kind]:
        if m["name"] not in values:
            print(f"perfbench: {args.workload} did not measure {m['name']}", file=sys.stderr)
            return 3
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        ctx.tracer.write(OUT / f"spans-{tag}.jsonl")
    with open(OUT / f"result-{tag}.json", "w") as fh:
        json.dump({"end_to_end": end_to_end, "per_layer": ctx.layers,
                   "errors": res["errors"]}, fh, indent=1)
    for e in res["errors"]:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({"correct": not res["errors"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
