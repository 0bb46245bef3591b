"""``query_mix``: registry queries and state-store queries over seeded
tables, in timed passes.

A pass runs every query of ``MIX`` in order.  A registry query is the
builder call ``REGISTRY[name].fn``, a noop-sink action and
``release_caches``.  A state query runs one operator of
``streaming/state.py`` over the seeded events, replayed as a file stream
of ``STREAM_FILES`` files (one micro-batch each), with ``availableNow``, a
fresh checkpoint and the state-store provider it names, into a noop sink.
Two passes are warm-up, and the first of them collects each result for
the oracle check; the timed passes follow until the run length is spent,
at least three.
"""

from __future__ import annotations

import json
import shutil
import sys
import time

import tables
from checks import check_query
from harness import WORK, median, pct, stage_totals, wait_listener_bus

SF = 0.01
WARM_PASSES = 2
MIN_TIMED_PASSES = 3
# Relational (TPC-H style), gateway frame parse, dedup, similarity, text.
REGISTRY_QUERIES = [
    "q1_pricing_summary", "q6_forecast_revenue", "q12_late_shipments",
    "q14_promo_revenue", "q_semi_join", "q_rollup", "q_window_topk_per_group",
    "g_parse_serial", "g_rfm2pi_decode",
    "d_exact_dedup_groups",
    "s_cosine_topk",
    "t_text_stats",
]
# Each of these parses one frame line per lineitem row.
FRAME_QUERIES = ("g_parse_serial", "g_rfm2pi_decode")

PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
# name: (operator of streaming/state.py, state-store provider, the registry
# query whose batch oracle the result must equal).  The registry's own
# stream_* queries cannot be run here: they stage their inputs under a
# fixed directory outside the checkout.
STATE_QUERIES = {
    "state_tumbling_hdfs": ("tumbling_counts", HDFS, "stream_tumbling"),
    "state_session_rocksdb": ("session_counts", ROCKSDB, "stream_session"),
}
STREAM_FILES = 3
MIX = REGISTRY_QUERIES + list(STATE_QUERIES)


def run(ctx) -> dict:
    from oem_gateway_spark.operators.dedup import release_caches
    from oem_gateway_spark.streaming import state as ST
    from oem_gateway_spark.suite import REGISTRY

    data = str(WORK / "data")
    stream_dir = str(WORK / "events-stream")
    with ctx.generating():
        rows = tables.generate(data, ctx.seed, SF)
        tables.write_event_stream(data, stream_dir, STREAM_FILES)
    spark = ctx.start_spark()
    tr = ctx.tracer
    errors: list[str] = []
    failed = 0
    stream_schema = spark.read.parquet(stream_dir).schema

    def registry_query(q: str, op: str, collect: bool) -> dict:
        spark.sparkContext.setJobGroup(f"{op}/{q}", q)
        t0 = time.monotonic()
        with tr.span("suite.build", op=op, query=q):
            df = REGISTRY[q].fn(spark, data)
        t1 = time.monotonic()
        with tr.span("exec.act", op=op, query=q):
            if collect:
                out = df.toPandas()
            else:
                out = None
                df.write.format("noop").mode("overwrite").save()
            release_caches(df)
        return {"build": t1 - t0, "act": time.monotonic() - t1, "out": out,
                "group": f"{op}/{q}", "progress": []}

    def state_query(q: str, op: str, collect: bool) -> dict:
        operator, provider, _ = STATE_QUERIES[q]
        ckpt = WORK / "state" / f"{op}-{q}"
        t0 = time.monotonic()
        with tr.span("streaming.state_query", op=op, query=q):
            stream = (spark.readStream.schema(stream_schema)
                      .option("maxFilesPerTrigger", 1).parquet(stream_dir))
            writer = getattr(ST, operator)(stream).writeStream.outputMode("complete")
            writer = (writer.format("memory").queryName(f"{op}_{q}") if collect
                      else writer.format("noop"))
            spark.conf.set(PROVIDER_KEY, provider)
            try:
                sq = (writer.option("checkpointLocation", str(ckpt))
                      .trigger(availableNow=True).start())
            finally:
                spark.conf.set(PROVIDER_KEY, HDFS)
            sq.awaitTermination()
        act = time.monotonic() - t0
        if sq.exception() is not None:
            raise RuntimeError(str(sq.exception()))
        out = spark.table(f"{op}_{q}").toPandas() if collect else None
        shutil.rmtree(ckpt, ignore_errors=True)
        return {"build": 0.0, "act": act, "out": out, "group": str(sq.runId),
                "progress": [json.loads(p.json) for p in sq.recentProgress]}

    def one(q: str, op: str, collect: bool) -> dict | None:
        nonlocal failed
        try:
            if q in STATE_QUERIES:
                return state_query(q, op, collect)
            return registry_query(q, op, collect)
        except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
            failed += 1
            print(f"perfbench: {q} failed: {type(e).__name__}: {e}", file=sys.stderr)
            return None

    warm_start = time.monotonic()
    results = {}
    for p in range(WARM_PASSES):
        for q in MIX:
            rec = one(q, f"warm{p}", collect=(p == 0))
            if rec is not None and p == 0:
                results[q] = rec["out"]
    ctx.setup_done(warm_start)

    passes: list[dict] = []
    t_end = time.monotonic() + ctx.seconds
    while len(passes) < MIN_TIMED_PASSES or time.monotonic() < t_end:
        op = f"pass{len(passes)}"
        recs = {}
        t0 = time.monotonic()
        with tr.span("pass", op=op):
            for q in MIX:
                rec = one(q, op, collect=False)
                if rec is not None:
                    recs[q] = rec
        passes.append({"wall": time.monotonic() - t0, "queries": recs})

    errors += oracle_errors(results, data, REGISTRY)

    def secs(p: dict, q: str) -> float:
        return p["queries"][q]["build"] + p["queries"][q]["act"]

    walls = [p["wall"] for p in passes]
    per_query_ms = [1e3 * secs(p, q) for p in passes for q in p["queries"]]
    frame_s = [sum(secs(p, q) for q in FRAME_QUERIES if q in p["queries"]) for p in passes]
    metrics = {
        "queries_per_s": len(MIX) / median(walls),
        "ack_latency_p50_ms": pct(per_query_ms, 50),
        "ack_latency_p90_ms": pct(per_query_ms, 90),
        "frames_per_s": len(FRAME_QUERIES) * rows["lineitem"] / median(frame_s),
    }
    if tr.enabled:
        layer_figures(ctx, spark, passes)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return {"metrics": metrics, "errors": errors, "failed": failed,
            "attempted": len(MIX) * (WARM_PASSES + len(passes))}


def oracle_errors(results: dict, data: str, registry) -> list[str]:
    """Compare each collected result with its DuckDB oracle."""
    import duckdb

    errs: list[str] = []
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{WORK / 'tmp'}'")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for q, pdf in results.items():
        oracle = registry[STATE_QUERIES[q][2] if q in STATE_QUERIES else q].oracle
        errs += check_query(q, pdf, con.sql(oracle).df())
    con.close()
    return errs


def layer_figures(ctx, spark, passes: list[dict]) -> None:
    """Per-layer figures of the timed passes: medians over passes."""
    L = ctx.layers
    L["suite.build_s"] = median([sum(p["queries"][q]["build"] for q in REGISTRY_QUERIES
                                     if q in p["queries"]) for p in passes])
    L["exec.act_s"] = median([sum(r["act"] for r in p["queries"].values()) for p in passes])
    for q in MIX:
        recs = [p["queries"][q] for p in passes if q in p["queries"]]
        if q in REGISTRY_QUERIES:
            L[f"suite.build_s.{q}"] = median([r["build"] for r in recs])
        L[f"exec.act_s.{q}"] = median([r["act"] for r in recs])

    def state_ops(p: dict) -> list[list[dict]]:
        """Per state-query batch, its state operators."""
        return [ev.get("stateOperators") or [] for q in STATE_QUERIES if q in p["queries"]
                for ev in p["queries"][q]["progress"]]

    def peak(p: dict, q: str, key: str) -> float:
        """The largest per-batch total of ``key`` over one query's batches."""
        evs = p["queries"][q]["progress"] if q in p["queries"] else []
        return max((sum(o[key] for o in ev.get("stateOperators") or []) for ev in evs),
                   default=0)

    L["streaming.state_commit_ms_total"] = median(
        [sum(o["commitTimeMs"] for ops in state_ops(p) for o in ops) for p in passes])
    L["streaming.state_rows_total"] = median(
        [sum(peak(p, q, "numRowsTotal") for q in STATE_QUERIES) for p in passes])
    L["streaming.state_memory_mb"] = median(
        [sum(peak(p, q, "memoryUsedBytes") for q in STATE_QUERIES) / 2**20 for p in passes])

    wait_listener_bus(spark)
    per_pass: list[dict] = []
    for p in passes:
        tot: dict[str, float] = {}
        for rec in p["queries"].values():
            for key, v in stage_totals(spark, rec["group"]).items():
                tot[key] = tot.get(key, 0.0) + v
        per_pass.append(tot)
    for key in per_pass[0]:
        L[f"exec.{key}"] = median([t[key] for t in per_pass])
