"""Round-8 operators: plan shapes the registry lacked.

Each query's docstring names the NEW shape it adds (the r5 VERDICT #8
discipline — the 50-slot witness budget is the scarce resource, so new
registrations must buy coverage, not breadth):

- q_sequence_pattern    ORDER-SENSITIVE SEQUENTIAL PATTERN over rows
                        (MATCH_RECOGNIZE-lite): strict-adjacency regex
                        over per-key event sequences via a lag chain.
- q_null_safe_join      NULL-SAFE EQUALITY (<=>) as the join key: the
                        one join semantics where NULL matches NULL.
- q_binned_theta_join   PURE INEQUALITY (theta) join made scale-safe by
                        BINNING: |a-b| <= eps as an exploded equi-join
                        on bins, never a cross product.
- d_dedup_rewrite       corpus-global dedup followed by ORDER-PRESERVING
                        DOCUMENT REASSEMBLY (explode -> global keep-first
                        -> positional re-aggregation back to one row).
- u_sql_udf             Spark 4 SQL-language scalar UDF (CREATE FUNCTION
                        ... RETURN expr): the declarative UDF surface
                        that INLINES into the plan (vs the Python UDF
                        family, which ships rows to a worker).
- stream_upsert_latest  VERSIONED LWW REGISTER state over an
                        OUT-OF-ORDER replay — the only stateful twin
                        whose input is deliberately not time-ordered,
                        witnessing late-arrival REJECTION.
- q_multi_format_union  heterogeneous-format ingestion parity: the one
                        multi-DataSource plan (parquet + schema-explicit
                        CSV + JSON scans unioned), text round trips
                        hash-verified lossless.
- g_framelog_batch      Spark 4 BATCH Python DataSource (the streaming
                        half is sources/serial_source.py): archived
                        device-log replay, one InputPartition per
                        capture shard, full value-hash oracle.

Reference: the gateway (SURVEY.md ~l.120) has no analytics; these are
§2.6 engine-beyond-reference surface (g_framelog_batch additionally
replays the reference's own serial frame format, SURVEY §2.1 S1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oem_gateway_spark.catalog import load_table
from oem_gateway_spark.functions import hashing as H
from oem_gateway_spark.suite.registry import query, record

_DAY_MS = 86_400_000

# ---------------------------------------------------------- q_sequence_pattern


@query(
    "q_sequence_pattern",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
             lag(event_type, 1) OVER w AS t1,
             lag(event_id, 1)  OVER w AS id1,
             lag(event_type, 2) OVER w AS t2,
             lag(event_id, 2)  OVER w AS id2,
             lag(CAST(epoch_ms(ts) AS BIGINT), 2) OVER w AS ms2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(epoch_ms(ts) AS BIGINT),
                   event_id)
    )
    SELECT user_id, id2 AS view_id, id1 AS click_id,
           event_id AS purchase_id,
           CAST(ts_ms - ms2 AS BIGINT) AS span_ms
    FROM seq
    WHERE event_type = 'purchase' AND t1 = 'click' AND t2 = 'view'
      AND ts_ms - ms2 <= {_DAY_MS}
    """,
)
def q_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: find every STRICTLY ADJACENT view->click->
    purchase triple per user completing within one day.

    New plan shape: ORDER-SENSITIVE SEQUENTIAL PATTERN MATCHING over row
    sequences (a regex over ordered events).  The funnel/cohort family
    counts stage MEMBERSHIP (set semantics — a conversion counts however
    many events intervene); this is adjacency semantics, where an
    intervening 'error' breaks the match.  Spark has no MATCH_RECOGNIZE;
    the fixed-length pattern compiles to a LAG CHAIN — one shuffle on
    user_id, one partition-local sort, the pattern predicate evaluated
    rowwise in whole-stage codegen.  At 100 TB that is one exchange of
    (user, ts, type, id) and zero joins; variable-length patterns
    (A B* C) would extend this with the gaps-and-islands run-encoding
    (q_interval_union's shape), still windows-only.  Ties at equal ts
    order by event_id — one total order on both engines; span arithmetic
    is integer ms."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    ).select(
        "*",
        F.lag("event_type", 1).over(w).alias("t1"),
        F.lag("event_id", 1).over(w).alias("id1"),
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag("event_id", 2).over(w).alias("id2"),
        F.lag("ts_ms", 2).over(w).alias("ms2"),
    )
    return (
        seq.filter(
            (F.col("event_type") == "purchase")
            & (F.col("t1") == "click")
            & (F.col("t2") == "view")
            & (F.col("ts_ms") - F.col("ms2") <= _DAY_MS)
        )
        .select(
            "user_id",
            F.col("id2").alias("view_id"),
            F.col("id1").alias("click_id"),
            F.col("event_id").alias("purchase_id"),
            (F.col("ts_ms") - F.col("ms2")).alias("span_ms"),
        )
    )


# ----------------------------------------------------------- q_null_safe_join


@query(
    "q_null_safe_join",
    oracle="""
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 50 AS INT) END AS k
      FROM orders WHERE o_orderkey % 10 = 0
    ), r AS (
      SELECT p_partkey,
             CASE WHEN p_partkey % 89 = 0 THEN NULL
                  ELSE CAST(p_partkey % 50 AS INT) END AS k
      FROM part WHERE p_partkey % 10 = 0
    )
    SELECT l.k AS join_key,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l.o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT r.p_partkey) AS BIGINT) AS n_parts
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY l.k
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): rows
    with NULL keys MATCH each other instead of silently dropping — the
    record-linkage semantics for optional attributes (unknown == unknown
    counts as a candidate pair).

    New plan shape: NULL-SAFE EQUALITY AS THE SHUFFLE KEY.  Every other
    equi-join in the registry uses plain ``=``, whose NULL rows never
    leave the map side; ``<=>`` makes NULL a real key value — Catalyst
    plans a SortMergeJoin whose hash/sort key treats NULL as one bucket
    (EqualNullSafe carries the exchange, no coalesce rewrite needed).
    The scale hazard is specific to this shape: ALL null-keyed rows land
    in ONE partition, so a high-null-rate attribute needs the salted
    pattern (q_salted_join) applied to the null bucket only; here the
    null rate is ~1-2% by construction, the realistic optional-attribute
    regime.  Integer-derived keys; counts BIGINT both sides."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    lk = F.when(
        F.col("o_orderkey") % 97 == 0, F.lit(None).cast("int")
    ).otherwise((F.col("o_orderkey") % 50).cast("int"))
    rk = F.when(
        F.col("p_partkey") % 89 == 0, F.lit(None).cast("int")
    ).otherwise((F.col("p_partkey") % 50).cast("int"))
    lt = o.select("o_orderkey", lk.alias("k"))
    rt = p.select("p_partkey", rk.alias("k2"))
    return (
        lt.join(rt, lt.k.eqNullSafe(rt.k2))
        .groupBy(F.col("k").alias("join_key"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.countDistinct("p_partkey").alias("n_parts"),
        )
    )


# -------------------------------------------------------- q_binned_theta_join

_THETA_EPS = 50  # |value difference| <= 0.05, in exact milli-units


@query(
    "q_binned_theta_join",
    oracle=f"""
    WITH l AS (
      SELECT event_id, event_type,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS iv
      FROM events WHERE event_id % 3 = 0
    ), r AS (
      SELECT event_id, event_type,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS iv
      FROM events WHERE event_id % 3 = 1
    )
    SELECT l.event_type AS l_type, r.event_type AS r_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(abs(l.iv - r.iv)) AS BIGINT) AS sum_abs_mdiff
    FROM l JOIN r ON abs(l.iv - r.iv) <= {_THETA_EPS}
    GROUP BY l.event_type, r.event_type
    """,
)
def q_binned_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure inequality (theta) join — |value_l - value_r| <= eps across
    two disjoint event slices — rewritten as a BINNED EQUI-JOIN.

    New plan shape: NO equi key exists (q_range_join's range predicate
    rides an orderkey equi-join; q_cross_join_pairs is a bounded dim
    cross), so a naive plan is a BroadcastNestedLoopJoin — O(n*m)
    comparisons and a single-node bottleneck at any real scale.  The
    scale-safe rewrite: quantize each value to an integer bin of width
    eps, explode the LEFT side to its 3 adjacent bins (any pair within
    eps differs by at most one bin — integer arithmetic, so the
    guarantee is exact, no float-boundary leakage), equi-join on the
    bin, then apply the exact predicate.  One shuffle each side on the
    bin key, 3x left fan-out, zero cross product; work is
    O((n+m) + true_pairs + near_miss_pairs-within-one-bin) instead of
    O(n*m).  The DuckDB oracle runs the PLAIN theta join — same pairs
    by construction, which is precisely the claim under test.  Values
    quantized via the shared floor(x*1000+0.5) trick so both engines
    compare identical integers; output aggregated per (l_type, r_type)
    so the result stays kilobytes at any sf."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("iv"),
    )
    left = ev.filter(F.col("event_id") % 3 == 0).select(
        F.col("event_type").alias("l_type"), F.col("iv").alias("l_iv")
    )
    right = ev.filter(F.col("event_id") % 3 == 1).select(
        F.col("event_type").alias("r_type"), F.col("iv").alias("r_iv")
    )
    bin_l = F.floor(F.col("l_iv") / _THETA_EPS).cast("long")
    bin_r = F.floor(F.col("r_iv") / _THETA_EPS).cast("long")
    exploded = left.select(
        "l_type",
        "l_iv",
        F.explode(
            F.array(bin_l - 1, bin_l, bin_l + 1)
        ).alias("bin"),
    )
    rb = right.select("r_type", "r_iv", bin_r.alias("bin"))
    return (
        exploded.join(rb, "bin")
        .filter(F.abs(F.col("l_iv") - F.col("r_iv")) <= _THETA_EPS)
        .groupBy("l_type", "r_type")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.abs(F.col("l_iv") - F.col("r_iv"))).alias("sum_abs_mdiff"),
        )
    )


# ----------------------------------------------------------- d_dedup_rewrite

_SEG_WORDS = 8


@query(
    "d_dedup_rewrite",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {H.words_sql('text')} AS w FROM documents
    ), ix AS (
      SELECT doc_id, w,
             unnest(generate_series(0,
               CAST(ceil(len(w) / {_SEG_WORDS}.0) AS INT) - 1)) AS seg_id
      FROM toks WHERE len(w) > 0
    ), segs AS (
      SELECT doc_id, seg_id,
             array_to_string(list_slice(w, seg_id * {_SEG_WORDS} + 1,
                                        seg_id * {_SEG_WORDS} + {_SEG_WORDS}),
                             ' ') AS seg_text
      FROM ix
    ), ranked AS (
      SELECT doc_id, seg_id, seg_text,
             row_number() OVER (PARTITION BY seg_text
                                ORDER BY doc_id, seg_id) AS rn
      FROM segs
    ), rebuilt AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(seg_text, ' ' ORDER BY seg_id)) AS rewrite_fp
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ), totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs FROM segs GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(t.n_segs, 0) AS BIGINT) AS n_segs,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.rewrite_fp, md5('')) AS rewrite_fp
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def d_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global segment dedup followed by DOCUMENT REWRITE: drop
    every repeated {_SEG_WORDS}-word segment (first occurrence by
    (doc_id, seg_id) survives) and REASSEMBLE each document's surviving
    segments in original order — the Dolma/C4 paragraph-dedup step that
    actually EDITS the corpus, not just scores it.

    New plan shape: EXPLODE -> GLOBAL KEEP-FIRST -> ORDER-PRESERVING
    RE-AGGREGATION.  d_chunk_dedup ends at per-doc survivor COUNTS;
    this completes the round trip back to one row per document, which
    needs the positional re-aggregation (collect surviving (seg_id,
    text) structs, sort within the doc, join back to words) — the shape
    any span-level corpus EDIT (PII excision, boilerplate strip at
    span granularity) must use.  Cost: one shuffle on seg fingerprint
    (keep-first window), one on doc_id (reassembly) — exchanges carry
    ids + segment text, and at 100 TB the segment text in the second
    exchange is the irreducible payload (it IS the output).  Docs
    reduced to nothing (all segments seen earlier) are kept via the
    left join with an empty rewrite — the oracle-visible proof the
    reassembly doesn't silently drop rows.  Output is the md5 of the
    normalized rewrite, so content (not just counts) is verified."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    w = H.words(F.col("text"))
    toks = docs.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    n_segs = F.ceil(F.size("w") / F.lit(_SEG_WORDS)).cast("int")
    segs = toks.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_id"),
    ).select(
        "doc_id",
        "seg_id",
        F.array_join(
            F.slice(F.col("w"), F.col("seg_id") * _SEG_WORDS + 1, _SEG_WORDS),
            " ",
        ).alias("seg_text"),
    )
    keep_w = Window.partitionBy("seg_text").orderBy("doc_id", "seg_id")
    ranked = segs.withColumn("rn", F.row_number().over(keep_w))
    rebuilt = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("seg_id", "seg_text"))
                        ),
                        lambda s: s.seg_text,
                    ),
                    " ",
                )
            ).alias("rewrite_fp"),
        )
    )
    totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_segs"))
    base = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        base.join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segs", F.lit(0)).alias("n_segs"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("rewrite_fp", F.md5(F.lit(""))).alias("rewrite_fp"),
        )
    )


# ---------------------------------------------------------------- u_sql_udf


@query(
    "u_sql_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                * (1 + l_tax) * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS charged_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def u_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language scalar UDF (Spark 4 ``CREATE FUNCTION ... RETURN
    expr``): the declarative user-function surface.

    New engine surface: the UDF family (u_python_udf, u_pandas_udf_*,
    u_apply_in_pandas, u_python_udtf) all cross the JVM/Python boundary;
    a SQL UDF is pure Catalyst — the optimizer INLINES the body at every
    call site, so the charged-cents function below costs exactly the
    same as writing the expression by hand: full whole-stage codegen,
    predicate/column pruning through the call, zero serialization.
    That inlining is the 100 TB story — shared business logic
    (the charge formula every TPC-H revenue query repeats) gets a NAME
    without a performance tax, where the same logic as a Python UDF
    turns a map-side expression into an Arrow round trip.  The plan
    test pins the inlining (no reference to the function survives in
    the optimized plan).  Money math in integer cents (shared
    floor(x*100+0.5) doctrine) so the BIGINT sum hash-matches."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged_cents(p DOUBLE,"
        " d DOUBLE, t DOUBLE) RETURNS BIGINT"
        " RETURN CAST(floor(p * (1 - d) * (1 + t) * 100 + 0.5) AS BIGINT)"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "r8_lineitem_sqludf"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               sum(charged_cents(l_extendedprice, l_discount, l_tax))
                 AS charged_cents
        FROM r8_lineitem_sqludf
        GROUP BY l_returnflag
        """
    )


# -------------------------------------------------------- stream_upsert_latest


def _shuffled_event_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user_id%50 event slice as FOUR micro-batches split by
    ``event_id % 4`` — a deliberately OUT-OF-ORDER replay (each batch
    spans the whole time range), unlike _ordered_event_replay's
    time-ordered batches.  This is the arrival pattern that makes a
    late event REACH an already-advanced LWW state, which the ordered
    replay can never produce.  Shared builder:
    streaming_batch.event_replay_batches (atomic, fingerprint-cached)."""
    from oem_gateway_spark.suite.streaming_batch import event_replay_batches

    def slicer(frame: DataFrame):
        return (F.col("event_id") % 4).cast("int")

    return event_replay_batches(spark, sf_dir, "upsert-events", slicer)


# Shared by stream_upsert_latest and stream_upsert_rocksdb
# (statestore_extra.py): same pipeline, different state-store provider —
# the provider must be invisible in the results, so the oracle is
# literally the same string.
UPSERT_LWW_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_id,
             CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value,
             event_id % 4 AS b
      FROM events WHERE user_id % 50 = 0
    ), arr AS (
      SELECT *, coalesce(max(ts_ms) OVER (
               PARTITION BY user_id ORDER BY b, ts_ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             AS prev_max
      FROM seq
    ), upd AS (
      SELECT * FROM arr WHERE ts_ms > prev_max
    ), final AS (
      SELECT user_id, event_id, ts_ms, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_ms DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_updates
      FROM upd
    )
    SELECT CAST(user_id AS INT) AS node,
           event_id AS last_event_id,
           ts_ms AS last_ts_ms,
           value AS last_value,
           CAST(n_updates AS BIGINT) AS n_updates
    FROM final WHERE rn = 1
    """


def _upsert_changelog_stream(
    spark: SparkSession, sf_dir: str, output_mode: str = "update"
) -> DataFrame:
    """The LWW upsert changelog as an unstarted streaming DataFrame —
    shared by the default-provider, RocksDB-provider, and kill/resume
    twins (the last runs the operator in append mode for its file sink)."""
    from oem_gateway_spark.streaming import state as ST

    stream = _shuffled_event_replay(spark, sf_dir)
    return ST.upsert_latest_stream(
        stream,
        key_col="user_id",
        value_col="value",
        ts_ms_col="ts_ms",
        id_col="event_id",
        timeout_minutes=None,
        output_mode=output_mode,
    )


def _upsert_final_state(log: DataFrame) -> DataFrame:
    """Collapse the accumulated per-batch changelog to the final state
    per key (max-n_updates emission; n_updates is strictly increasing
    across a key's emissions — emit-on-change)."""
    latest = F.max_by(
        F.struct("last_event_id", "last_ts_ms", "last_value"), "n_updates"
    )
    return log.groupBy("node").agg(
        latest.getField("last_event_id").alias("last_event_id"),
        latest.getField("last_ts_ms").alias("last_ts_ms"),
        latest.getField("last_value").alias("last_value"),
        F.max("n_updates").alias("n_updates"),
    )


@query("stream_upsert_latest", oracle=UPSERT_LWW_ORACLE)
def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful LAST-WRITE-WINS upsert (applyInPandasWithState)
    over an OUT-OF-ORDER replay: the telemetry streams as four
    hash-split micro-batches (each spans the full time range), and the
    per-key state keeps only the latest-by-event-time reading, with
    ``n_updates`` counting ACCEPTED writes — late arrivals are rejected
    by the state, so n_updates < per-key row count exactly where
    out-of-order data hit, the observable witness no time-ordered twin
    can produce.  See streaming/state.py::upsert_latest_stream for the
    state shape (versioned LWW register — new to the twin family).

    The batch oracle replays the SAME deterministic arrival order
    (batch = event_id % 4, then (ts, id) within batch — exactly the
    order the streaming UDF processes) with a running prefix-max:
    accepted writes are the prefix maxima, the final row is the last
    of them.  Integer-ms arithmetic; the carried value is a DOUBLE but
    is never operated on, so bytes match exactly.  The memory sink
    accumulates the per-batch changelog; the final state per key is
    the max-n_updates emission (n_updates is strictly increasing across
    a key's emissions — emit-on-change)."""
    from oem_gateway_spark.suite.streaming_batch import _run_to_table

    out = _upsert_changelog_stream(spark, sf_dir)
    log = _run_to_table(out, mode="update", shuffle_partitions=8)
    return _upsert_final_state(log)


# ------------------------------------------------- wave 2: source surfaces


def _multi_format_dir(spark: SparkSession, sf_dir: str) -> str:
    """events exported once as CSV and JSON-lines (ts as integer epoch-ms
    so no text timestamp format is in play)."""
    import glob
    import os
    import shutil

    from oem_gateway_spark.suite.streaming_batch import (
        _source_fp,
        atomic_export as _atomic_export,
    )

    safe = sf_dir.strip("/").replace("/", "_")
    final = os.path.join(
        "/root/repo/.scratch", f"multifmt-{safe}-{_source_fp(sf_dir)}"
    )

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id",
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "event_type",
            "value",
        )
        ev.write.option("header", "false").csv(os.path.join(tmp, "csv"))
        ev.write.json(os.path.join(tmp, "json"))
        for sub in ("csv", "json"):
            for junk in glob.glob(os.path.join(tmp, sub, "_SUCCESS")):
                os.remove(junk)
        shutil.rmtree(os.path.join(tmp, "_spark_metadata"), ignore_errors=True)
        # Sentinel written LAST — atomic_export's done_name contract is
        # "the last artifact build() creates"; csv is the FIRST (r8
        # ADVICE: a partial dir with csv/ but no json/ would otherwise
        # read as complete).
        with open(os.path.join(tmp, "_DONE"), "w") as fh:
            fh.write("ok\n")

    return _atomic_export(build, final, "_DONE")


_MF_SCHEMA = (
    "user_id BIGINT, event_id BIGINT, ts_ms BIGINT,"
    " event_type STRING, value DOUBLE"
)


@query(
    "q_multi_format_union",
    oracle="""
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_mvalue,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
    )
    SELECT f.fmt, a.n_rows, a.sum_mvalue, a.n_users
    FROM agg a, (VALUES ('parquet'), ('csv'), ('json')) AS f(fmt)
    """,
)
def q_multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-format ingestion parity: the SAME relation read from
    parquet, CSV, and JSON-lines (exported once), aggregated per format —
    identical rows per format IS the witness that the text round trips
    are lossless (doubles survive via shortest-roundtrip formatting;
    timestamps travel as integer epoch-ms).

    New engine surface: every other query scans parquet; this is the
    registry's only multi-DataSource plan — a UNION of three different
    scan operators (columnar parquet, schema-EXPLICIT CSV and JSON text
    readers) feeding one aggregate.  The 100 TB discipline is in the
    explicit schemas: schema INFERENCE over text is a full extra pass of
    the data and non-deterministic under sampling, so landing-zone reads
    always pin the schema and convert to columnar once (this operator is
    that conversion's parity check).  The DuckDB oracle recomputes the
    aggregate from the parquet base three times — any CSV/JSON
    corruption, precision loss, or row drop breaks the driver hash."""
    base = _multi_format_dir(spark, sf_dir)
    import os

    mval = lambda df: F.sum(  # noqa: E731
        F.floor(F.col("value") * 1000 + 0.5).cast("long")
    ).alias("sum_mvalue")

    def agg(df: DataFrame, fmt: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            mval(df),
            F.countDistinct("user_id").alias("n_users"),
        ).select(F.lit(fmt).alias("fmt"), "n_rows", "sum_mvalue", "n_users")

    pq_df = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms"),
        "event_type", "value",
    )
    csv_df = (
        spark.read.schema(_MF_SCHEMA)
        .option("header", "false")
        .csv(os.path.join(base, "csv"))
    )
    js_df = spark.read.schema(_MF_SCHEMA).json(os.path.join(base, "json"))
    return (
        agg(pq_df, "parquet")
        .unionByName(agg(csv_df, "csv"))
        .unionByName(agg(js_df, "json"))
    )


def _framelog_dir(spark: SparkSession, sf_dir: str) -> str:
    """The gateway frame log (one 'node qty disc price' line per lineitem
    row — suite/gateway.py's frame builder) captured as 8 shard files,
    sliced by line_id % 8."""
    import glob
    import os
    import shutil

    from oem_gateway_spark.suite.streaming_batch import (
        _source_fp,
        atomic_export as _atomic_export,
    )

    safe = sf_dir.strip("/").replace("/", "_")
    # Fingerprint LINEITEM — the table this replica derives from (the
    # r7/r8 code-review bug class: fingerprinting a different table
    # leaves a stale replica live when only the source regenerates).
    final = os.path.join(
        "/root/repo/.scratch",
        f"framelog-{safe}-{_source_fp(sf_dir, table='lineitem')}",
    )

    def build(tmp: str) -> None:
        li = load_table(spark, sf_dir, "lineitem")
        frames = li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("line_id"),
            F.concat_ws(
                " ",
                (F.col("l_suppkey") % 32).cast("int").cast("string"),
                F.col("l_quantity").cast("string"),
                F.col("l_discount").cast("string"),
                F.col("l_extendedprice").cast("string"),
            ).alias("line"),
        )
        for k in range(8):
            part_tmp = os.path.join(tmp, f"_w{k}")
            (
                frames.filter(F.col("line_id") % 8 == k)
                .select("line")
                .coalesce(1)
                .write.mode("overwrite")
                .text(part_tmp)
            )
            src = glob.glob(os.path.join(part_tmp, "part-*.txt"))[0]
            shutil.move(src, os.path.join(tmp, f"shard_{k}.log"))
            shutil.rmtree(part_tmp, ignore_errors=True)

    return _atomic_export(build, final, "shard_7.log")


@query(
    "g_framelog_batch",
    oracle="""
    SELECT CAST(l_suppkey % 32 AS INT) AS node,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS sum_price_cents
    FROM lineitem
    GROUP BY 1
    """,
)
def g_framelog_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archived device-log REPLAY through a custom BATCH Python
    DataSource (sources/framelog_source.py): the gateway frame log —
    one 'node qty disc price' line per reading, sharded into 8 capture
    files — reads back via spark.read.format('oem_framelog') with one
    InputPartition per shard, parses JVM-side (split + typed casts, the
    P1/P6 chain's column work), and rolls up per node.

    New engine surface: the Spark 4 Python DataSource BATCH API — the
    registry's serial source witnesses the STREAMING half of that API
    (sources/serial_source.py, byte-offset replay); this is the archive
    half, and the only custom-DataSource scan with a full value-hash
    oracle (the log is generated deterministically from lineitem, so
    DuckDB recomputes the same rollup from the base table — any line
    lost, doubled, or mis-tokenized by the reader breaks the hash).
    Scale: partitions = capture shards (reader parallelism equals the
    archive's sharding), and the Python hop yields raw LINES only —
    tokenize/cast stay whole-stage-codegen."""
    from oem_gateway_spark.sources import framelog_source

    framelog_source.register(spark)
    logdir = _framelog_dir(spark, sf_dir)
    raw = spark.read.format("oem_framelog").option("path", logdir).load()
    t = F.split("line", " ")
    parsed = raw.select(
        F.element_at(t, 1).cast("int").alias("node"),
        F.element_at(t, 2).cast("double").alias("qty"),
        F.element_at(t, 4).cast("double").alias("price"),
    )
    return parsed.groupBy("node").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.col("qty").cast("long")).alias("sum_qty"),
        F.sum(F.floor(F.col("price") * 100 + 0.5).cast("long")).alias(
            "sum_price_cents"
        ),
    )


@query(
    "g_framelog_pushdown",
    oracle="""
    SELECT CAST(l_suppkey % 32 AS INT) AS node,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE (l_orderkey * 10 + l_linenumber) % 8 IN (2, 5)
    GROUP BY 1
    """,
)
def g_framelog_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PYTHON DATASOURCE FILTER PUSHDOWN (Spark 4.1 ``pushFilters``): a
    shard-id predicate on the frame-log batch source is ACCEPTED by the
    Python reader (sources/framelog_source.py) and executed as
    PARTITION PRUNING — ``partitions()`` returns only the 2 of 8 shard
    files matching ``shard IN (2, 5)``, so the pruned shards are never
    opened, never cross the Python->JVM boundary, never parse.

    New engine surface: the planning half of the Python DataSource API.
    Every prior custom-source query scans everything and filters in the
    JVM; here the predicate travels INTO the reader (plan shows
    ``PushedFilters: [In(shard, [2,5])]`` with NO post-scan Filter node
    — Spark trusts the acceptance), which is the only shape that
    survives 100 TB archives: a day/shard/device predicate must prune
    capture files at the source, not stream them through Python to be
    dropped.  Accepted filters are never re-checked, so THIS HASH is
    the enforcement proof: under-pruning doubles counts, over-pruning
    loses rows — either drifts every output row vs DuckDB recomputing
    the same slice from lineitem (the log derives line_id =
    l_orderkey*10+l_linenumber and shards by line_id % 8).

    ``spark.sql.python.filterPushdown.enabled`` is an ENGINE DEFAULT
    (session.py DEFAULT_CONF + RUNTIME_CONF_KEYS, asserted before every
    query): once a reader implements pushFilters, scanning it with the
    conf off raises DATA_SOURCE_PUSHDOWN_DISABLED at planning, so the
    conf is part of the source's contract, not a per-query toggle.
    SHARED-RELATION HAZARD (measured on 4.1.2, pinned in
    tests/test_round11_ops.py): one load() referenced twice in a
    single plan with different shard filters cross-contaminates (both
    branches get one branch's pruning — the relation holds ONE Python
    reader, and its last-built scan leaks into filterless/sibling
    scans).  The safe contract this engine follows everywhere: build a
    FRESH load() per query plan; this query's plan references its
    relation exactly once."""
    from oem_gateway_spark.sources import framelog_source

    framelog_source.register(spark)
    logdir = _framelog_dir(spark, sf_dir)
    raw = (
        spark.read.format("oem_framelog")
        .option("path", logdir)
        .load()
        .filter(F.col("shard").isin(2, 5))
    )
    t = F.split("line", " ")
    parsed = raw.select(
        F.element_at(t, 1).cast("int").alias("node"),
        F.element_at(t, 2).cast("double").alias("qty"),
    )
    return parsed.groupBy("node").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.col("qty").cast("long")).alias("sum_qty"),
    )


def _serial_stream_log(spark: SparkSession, sf_dir: str) -> str:
    """One-file gateway frame log for the serial STREAMING source witness
    (same 'node qty disc price' line format as _framelog_dir, all
    lineitem rows in one file — a serial port is one device, one byte
    stream).  Built once per (sf_dir, lineitem fingerprint)."""
    import glob
    import os
    import shutil

    from oem_gateway_spark.suite.streaming_batch import (
        _source_fp,
        atomic_export as _atomic_export,
    )

    safe = sf_dir.strip("/").replace("/", "_")
    final = os.path.join(
        "/root/repo/.scratch",
        f"seriallog-{safe}-{_source_fp(sf_dir, table='lineitem')}",
    )

    def build(tmp: str) -> None:
        li = load_table(spark, sf_dir, "lineitem")
        frames = li.select(
            F.concat_ws(
                " ",
                (F.col("l_suppkey") % 32).cast("int").cast("string"),
                F.col("l_quantity").cast("string"),
                F.col("l_discount").cast("string"),
                F.col("l_extendedprice").cast("string"),
            ).alias("line")
        )
        wtmp = os.path.join(tmp, "_w")
        frames.coalesce(1).write.mode("overwrite").text(wtmp)
        src = glob.glob(os.path.join(wtmp, "part-*.txt"))[0]
        shutil.move(src, os.path.join(tmp, "serial.log"))
        shutil.rmtree(wtmp, ignore_errors=True)

    return os.path.join(
        _atomic_export(build, final, "serial.log"), "serial.log"
    )


@query(
    "g_serial_stream_replay",
    oracle="""
    SELECT CAST(l_suppkey % 32 AS INT) AS node,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS sum_price_cents
    FROM lineitem
    GROUP BY 1
    """,
)
def g_serial_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serial listener's STREAMING half (S1), driver-hash-proven:
    the Spark 4 Python ``SimpleDataSourceStreamReader``
    (sources/serial_source.py — byte-position offsets, complete lines
    only, the reference's accumulate-until-'\\r\\n' contract,
    oemgatewaylistener.py ~l.95) replays the one-file gateway frame log
    against the same full value-hash oracle as the batch half
    (g_framelog_batch; r10 VERDICT #7 named this gap — the batch
    DataSource had an oracle, the streaming read()-offset contract had
    only a pytest).

    The run witnesses the whole offset contract, not one happy-path
    scan: phase 1 exposes a PREFIX of the log that ends MID-LINE (cut
    at the first newline past 60% plus half of the following line) and
    runs an availableNow query into an exactly-once parquet
    FileStreamSink — the reader must consume through the last complete
    newline and checkpoint pos=last_nl+1, leaving the partial tail
    unconsumed.  Phase 2 appends the remaining bytes and a BRAND-NEW
    query resumes from the checkpointed byte offset: the split line
    must appear exactly once, whole (an off-by-one offset would halve
    it, a re-read would double counts — either drifts the hash).  The
    rolled-up result equals DuckDB recomputing from lineitem, so loss,
    duplication, and mis-tokenization are all visible.

    Scale: a serial port is inherently ONE partition (one device, ~40
    frames/s at 9600 baud — SURVEY §6); engine-side parallelism comes
    from MANY listeners union-ed (R1), never from splitting one byte
    stream, so the single-partition read here IS the 100 TB shape.
    Tokenize/cast stay JVM-side; the Python hop yields raw lines only."""
    import os

    from oem_gateway_spark.sources.serial_source import SerialFrameDataSource
    from oem_gateway_spark.suite.statestore_extra import (
        _resume_scratch,
        _scoped_conf,
    )

    spark.dataSource.register(SerialFrameDataSource)
    full_log = _serial_stream_log(spark, sf_dir)
    # Cut mid-line: first newline past 60%, then half of the next line.
    # The cut is computed from BOUNDED windows and the halves copy in
    # chunks (r11 review: the first version read the whole log into
    # driver RAM and held both copies — 2x log size x probe factor for
    # data the driver only needs ~128 KiB of; frame lines are ~30-60
    # bytes, so a 64 KiB window holds thousands of them).
    size = os.path.getsize(full_log)
    _WIN = 1 << 16

    with open(full_log, "rb") as f:
        f.seek(int(size * 0.6))
        win = f.read(_WIN)
        nl_rel = win.find(b"\n")
        if nl_rel < 0:
            raise ValueError(
                "g_serial_stream_replay: no newline within 64 KiB of the "
                "60% point — not a line log"
            )
        nl = int(size * 0.6) + nl_rel
        if nl == size - 1:
            # 60% landed in the final line (degenerate tiny log): back
            # off to the previous newline so a next line exists to cut
            # through; a log under 2 lines can't witness the contract.
            f.seek(max(0, nl - _WIN))
            back = f.read(nl - max(0, nl - _WIN))
            prev_rel = back.rfind(b"\n")
            if prev_rel < 0:
                raise ValueError(
                    "g_serial_stream_replay needs a >=2-line log"
                )
            nl = max(0, nl - _WIN) + prev_rel
        f.seek(nl + 1)
        nxt = f.read(_WIN)
        nxt_rel = nxt.find(b"\n")  # exists in the FILE: nl is not final
        if nxt_rel < 0:
            raise ValueError(
                "g_serial_stream_replay: line after the cut point exceeds "
                "64 KiB — not a frame log"
            )
        next_nl = nl + 1 + nxt_rel
    cut = nl + 1 + (next_nl - nl) // 2

    def _copy_range(dst_mode: str, start: int, end: int, dst: str) -> None:
        with open(full_log, "rb") as fsrc, open(dst, dst_mode) as fdst:
            fsrc.seek(start)
            remaining = end - start
            while remaining > 0:
                chunk = fsrc.read(min(1 << 20, remaining))
                if not chunk:
                    break
                fdst.write(chunk)
                remaining -= len(chunk)

    def _count_lines(path: str) -> int:
        n = 0
        with open(path, "rb") as f:
            while True:
                chunk = f.read(1 << 20)
                if not chunk:
                    return n
                n += chunk.count(b"\n")

    scratch = _resume_scratch()
    live = os.path.join(scratch, "serial.log")
    ckpt = os.path.join(scratch, "ckpt")
    out_dir = os.path.join(scratch, "out")

    def run_phase() -> int:
        q = (
            spark.readStream.format("serial_frames")
            .option("path", live)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        record(stream=q)
        return sum((p.get("numInputRows") or 0) for p in q.recentProgress)

    # Stateless source: shuffle partitions only shape the sink files.
    with _scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        _copy_range("wb", 0, cut, live)
        # lines wholly inside the phase-1 prefix; the split line must be
        # counted by phase 2, not phase 1
        phase1_complete = _count_lines(live)
        p1 = run_phase()
        _copy_range("ab", cut, size, live)
        p2 = run_phase()
    record(
        phase1_rows=p1,
        phase2_rows=p2,
        total_lines=_count_lines(full_log),
        phase1_complete_lines=phase1_complete,
    )
    # The sink output is read lazily below, but the live log is not:
    # drop it now so the (possibly tmpfs) scratch holds only the output.
    os.remove(live)

    raw = spark.read.parquet(out_dir)
    t = F.split("line", " ")
    parsed = raw.select(
        F.element_at(t, 1).cast("int").alias("node"),
        F.element_at(t, 2).cast("double").alias("qty"),
        F.element_at(t, 4).cast("double").alias("price"),
    )
    return parsed.groupBy("node").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.col("qty").cast("long")).alias("sum_qty"),
        F.sum(F.floor(F.col("price") * 100 + 0.5).cast("long")).alias(
            "sum_price_cents"
        ),
    )


@query(
    "g_framelog_stream_partitioned",
    oracle="""
    SELECT CAST(l_suppkey % 32 AS INT) AS node,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS sum_price_cents
    FROM lineitem
    GROUP BY 1
    """,
)
def g_framelog_stream_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITION-PLANNED Python streaming read — the one
    quadrant-internal variant the registry had not witnessed (r11
    VERDICT #5 named it): ``DataSourceStreamReader`` with driver-side
    ``latestOffset()`` / ``partitions(start, end)`` planning and
    MULTIPLE InputPartitions per micro-batch, vs the serial source's
    ``SimpleDataSourceStreamReader`` (one cursor, one implicit
    partition — g_serial_stream_replay).  One device is a byte stream;
    a capture DIRECTORY is many devices appending concurrently — R1's
    fan-in — and this is the API shape where executors read all grown
    shards IN PARALLEL inside a single micro-batch.

    The run witnesses the planned-offset contract end to end: phase 1
    exposes a PREFIX of every shard — most cut at a line boundary near
    60%, shard 0 cut MID-LINE (its tail must stay unconsumed: offsets
    stop at each file's last-newline frontier), and the last shard held
    back entirely (a device that comes online late).  An availableNow
    query checkpoints the per-file byte offsets into an exactly-once
    parquet FileStreamSink.  Phase 2 appends the remainders plus the
    late shard, and a BRAND-NEW query resumes from the checkpointed
    offset DICT: every split line must appear exactly once, whole, and
    the late shard must enter the snapshot at offset 0.  The rollup
    equals DuckDB recomputing from lineitem (the capture derives from
    it, sharded by line_id % 8), so a lost range, re-read range, or
    torn line drifts the hash.  Planner mechanics (one InputPartition
    per grown file, deterministic range re-read) are pinned in
    tests/test_round12_ops.py.

    Scale: per-trigger parallelism = concurrently-growing shard files
    (devices), the R1 fan-in axis; driver planning is one stat +
    tail-window read per file per trigger; recovery replay re-reads
    exact planned byte ranges, so it is deterministic by construction.
    The Python hop yields raw lines only — tokenize/cast stay
    JVM-side."""
    import glob as _glob
    import os
    import shutil

    from oem_gateway_spark.sources import framelog_source
    from oem_gateway_spark.suite.statestore_extra import (
        _resume_scratch,
        _scoped_conf,
    )

    framelog_source.register(spark)
    src = _framelog_dir(spark, sf_dir)
    shard_files = sorted(_glob.glob(os.path.join(src, "*.log")))

    def cut_point(path: str, idx: int) -> int:
        """Phase-1 byte count for this shard: 0 for the late shard,
        mid-LINE for shard 0, else the first line boundary past 60%."""
        if idx == len(shard_files) - 1:
            return 0  # device comes online in phase 2
        size = os.path.getsize(path)
        with open(path, "rb") as f:
            f.seek(int(size * 0.6))
            win = f.read(1 << 16)
        nl_rel = win.find(b"\n")
        if nl_rel < 0:
            raise ValueError(
                f"g_framelog_stream_partitioned: no newline within 64 KiB "
                f"of the 60% point of {path} — not a line log"
            )
        boundary = int(size * 0.6) + nl_rel + 1
        if idx == 0 and boundary < size:
            # cut a few bytes INTO the next line (never through its
            # newline) so the mid-line tail-buffering is witnessed
            with open(path, "rb") as f:
                f.seek(boundary)
                nxt = f.read(64)
            # Skip leading newlines first (r12 ADVICE): when the byte AT
            # the boundary is itself a newline (empty line), find() == 0
            # made the old max(1, 0//2) cut land exactly AFTER it — a
            # line-boundary cut that silently degraded the mid-line
            # witness to an ordinary boundary cut.
            lead = 0
            while lead < len(nxt) and nxt[lead : lead + 1] == b"\n":
                lead += 1
            frag = nxt.find(b"\n", lead)
            span = (frag if frag >= 0 else len(nxt)) - lead
            if span <= 0:
                return boundary  # window is all newlines; no line to cut into
            cut = boundary + lead + max(1, span // 2)
            # the last copied byte must sit strictly INSIDE a line, so
            # phase 1 ends on an incomplete (tail-buffered) line
            assert nxt[cut - boundary - 1 : cut - boundary] != b"\n", (
                "mid-line cut landed on a line boundary"
            )
            return cut
        return boundary

    def copy_range(src_path: str, dst_path: str, start: int, end: int) -> None:
        with open(src_path, "rb") as fsrc, open(dst_path, "ab") as fdst:
            fsrc.seek(start)
            remaining = end - start
            while remaining > 0:
                chunk = fsrc.read(min(1 << 20, remaining))
                if not chunk:
                    break
                fdst.write(chunk)
                remaining -= len(chunk)

    scratch = _resume_scratch()
    live = os.path.join(scratch, "capture")
    os.makedirs(live, exist_ok=True)
    ckpt = os.path.join(scratch, "ckpt")
    out_dir = os.path.join(scratch, "out")

    def run_phase() -> int:
        q = (
            spark.readStream.format("oem_framelog")
            .option("path", live)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        record(stream=q)
        return sum((p.get("numInputRows") or 0) for p in q.recentProgress)

    cuts = {f: cut_point(f, i) for i, f in enumerate(shard_files)}
    with _scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        for f, cut in cuts.items():
            if cut > 0:
                copy_range(f, os.path.join(live, os.path.basename(f)), 0, cut)
        p1 = run_phase()
        for f, cut in cuts.items():
            copy_range(
                f, os.path.join(live, os.path.basename(f)), cut, os.path.getsize(f)
            )
        p2 = run_phase()
    record(phase1_rows=p1, phase2_rows=p2, n_shards=len(shard_files))
    shutil.rmtree(live, ignore_errors=True)

    raw = spark.read.parquet(out_dir)
    t = F.split("line", " ")
    parsed = raw.select(
        F.element_at(t, 1).cast("int").alias("node"),
        F.element_at(t, 2).cast("double").alias("qty"),
        F.element_at(t, 4).cast("double").alias("price"),
    )
    return parsed.groupBy("node").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.col("qty").cast("long")).alias("sum_qty"),
        F.sum(F.floor(F.col("price") * 100 + 0.5).cast("long")).alias(
            "sum_price_cents"
        ),
    )


@query(
    "g_framelog_sink_stream",
    oracle="""
    SELECT CAST(event_id % 41 AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_eid,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    WHERE user_id % 50 = 0
    GROUP BY event_id % 41
    """,
)
def g_framelog_sink_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gateway's DELIVERY half (B4's batch-and-ack contract,
    oemgatewaybuffer.py ~l.80) as a Spark 4 Python streaming DataSource
    WRITER — the last quadrant of the Python DataSource surface
    (sinks/framelog_sink.py; batch READ = g_framelog_batch, streaming
    READ = g_serial_stream_replay, and this is the streaming WRITE with
    its commit protocol driver-hash-proven).

    New engine surface: executor-side Python ``write(iterator)`` per
    partition per micro-batch plus the driver-side
    ``commit(messages, batchId)`` / ``abort`` protocol — a different
    execution path than foreachBatch (which hands the DRIVER a whole
    DataFrame; here rows stream through per-task Python workers and
    only WriterCommitMessages travel back).  The 4-batch event replay
    (shared statereader export) writes integer frame lines
    ('user event cents') through the sink; the read-back side scans
    ONLY manifest-committed files — the sink's own exactly-once view,
    equivalent to FileStreamSink's _spark_metadata discipline — and
    rolls them up.  The result must hash-equal DuckDB recomputing from
    the events slice, so a dropped task file, a double-committed
    retry, or a mis-serialized row all drift the hash.  Cents are
    computed JVM-side BEFORE the write so the text round trip is
    integer-exact.  Manifest/orphan mechanics pinned in
    tests/test_round11_ops.py (orphan files invisible, abort removes,
    4 manifests with row counts).  Pure integer outputs."""
    import os

    from pyspark.sql import functions as F

    from oem_gateway_spark.sinks import framelog_sink
    from oem_gateway_spark.suite.statestore_extra import (
        _resume_scratch,
        _scoped_conf,
    )
    from oem_gateway_spark.suite.streaming_batch import event_replay_batches

    framelog_sink.register(spark)
    stream = event_replay_batches(
        spark, sf_dir, "statereader", lambda ev: F.col("event_id") % 4
    ).select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    scratch = _resume_scratch()
    sink_dir = os.path.join(scratch, "sink")
    with _scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            stream.writeStream.format("oem_framelog_sink")
            .option("path", sink_dir)
            .option("checkpointLocation", os.path.join(scratch, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        record(stream=q)
    files = framelog_sink.committed_files(sink_dir)
    t = F.split("value", " ")
    parsed = spark.read.text(files).select(
        F.element_at(t, 1).cast("long").alias("user_id"),
        F.element_at(t, 2).cast("long").alias("event_id"),
        F.element_at(t, 3).cast("long").alias("cents"),
    )
    return parsed.groupBy((F.col("event_id") % 41).alias("node")).agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_eid"),
        F.sum("cents").alias("sum_cents"),
    )


# --------------------------------------------------------- q_hierarchy_resolve

# Fold the resolved accumulator into one checkpoint every N rounds: build
# plan width stays <= N+2 pieces, executor storage <= 2 resolved copies.
_FOLD_WIDTH = 4


def _free_local_checkpoint(df) -> None:
    """Free a dead localCheckpoint's blocks NOW instead of waiting for
    the JVM ContextCleaner to notice the RDD is unreachable (which needs
    a driver GC cycle — on a long-lived bench session the dead pieces
    otherwise pile up for minutes).  A localCheckpointed DataFrame's
    analyzed plan is a LogicalRDD leaf; its `rdd` val is the persisted
    RDD, and unpersisting THAT removes the blocks (DataFrame.unpersist
    only talks to the cacheManager, which never saw an RDD-level
    persist).  Internal API: probed green on this Spark (4.1.2); any
    shape change degrades to the ContextCleaner path, never to an
    error.  Only ever called on owners nothing references anymore — a
    freed localCheckpoint CANNOT recompute (lineage was truncated)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # fall back to ContextCleaner-on-GC


@query(
    "q_hierarchy_resolve",
    oracle="""
    WITH RECURSIVE r(node, cur, depth) AS (
      SELECT p_partkey, p_partkey, 0 FROM part
      UNION ALL
      SELECT node, (cur - 4) // 4, depth + 1 FROM r WHERE cur >= 4
    )
    SELECT node, CAST(cur AS BIGINT) AS root, CAST(depth AS BIGINT) AS depth
    FROM r WHERE cur < 4
    """,
)
def q_hierarchy_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening by POINTER DOUBLING: every node of a 4-ary
    forest (parent(k) = (k-4) div 4 over the contiguous part keys;
    roots 0..3) is resolved to its (root, depth) in O(log depth)
    self-joins — each round composes the ancestor mapping WITH ITSELF,
    doubling the hop length (1, 2, 4, ... edges).

    New plan shape: LOGARITHMIC-ROUND iteration.  The registry's other
    iterative operators all advance LINEARLY — q_reachability grows a
    BFS frontier one hop per round, q_shortest_path_bounded relaxes one
    edge length per round, d_pagerank power-iterates — so a depth-d
    chain costs d shuffles.  Pointer doubling is the parallel
    list-ranking / path-compression scheme: log2(d) shuffles of the
    (node, anc, depth) table, each a self-equi-join on the ancestor
    key.  At 100 TB this is THE way to flatten deep hierarchies
    (org charts, BOM trees, file systems, thread parents): depth 10^6
    chains resolve in 20 rounds instead of 10^6.

    PROBE-SIDE FILTERING (r8 VERDICT): rows whose ancestor pointer has
    already reached a root compose as identity — re-joining them every
    round is pure shuffle waste, and in a shallow-skewed forest (most
    real hierarchies) the resolved MAJORITY would re-shuffle log(d)
    times.  So the state carries a ``done`` flag (= anc is a root),
    resolved rows move to a frozen accumulator, and only the unresolved
    remainder is the probe side of each self-join; the BUILD side stays
    the full map (an unresolved node's ancestor may itself be resolved,
    in which case the compose jumps straight to the root).  Convergence
    is the unresolved count hitting zero — bounded by
    ceil(log2(max_depth)) + 1 rounds.

    ACCUMULATOR COMPACTION (r9 VERDICT): the frozen pieces FOLD into a
    single checkpointed DataFrame every _FOLD_WIDTH rounds and the dead
    owners' blocks are freed immediately — without it the build-side
    union grew one piece per round (O(rounds^2) plan nodes across the
    run) and executor storage held the whole resolved set once per
    round's lineage.  Now plan width is O(_FOLD_WIDTH) = O(1) per round
    and storage holds at most two resolved copies (the fold
    materializes before its sources are freed).  DuckDB oracle: the
    same forest walked with a recursive CTE.  Pure integer arithmetic."""
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("node")
    )
    is_root = F.col("node") < 4
    parent = F.expr("(node - 4) DIV 4")
    state = parts.select(
        "node",
        F.when(is_root, F.col("node")).otherwise(parent).alias("anc"),
        F.when(is_root, F.lit(0)).otherwise(F.lit(1)).cast("long").alias("depth"),
        # done = anc is a root (roots of this forest are keys 0..3);
        # root rows point at themselves, so they are born done.
        F.when(is_root, F.lit(True))
        .otherwise(parent < 4)
        .alias("done"),
    ).localCheckpoint(eager=True)
    # owners = checkpointed DataFrames whose blocks back the live refs
    # (resolved_parts slices + the current unresolved remainder).  The
    # LAST owner always backs `unresolved`; a fold frees every other.
    owners = [state]
    resolved_parts = [state.filter("done")]
    unresolved = state.filter("NOT done")
    for _ in range(40):  # 2^40 depth bound; real exit is unresolved == 0
        if unresolved.isEmpty():
            break
        # Full map = frozen accumulator pieces + the live remainder;
        # every piece is a checkpoint, so the union re-reads blocks,
        # never recomputes lineage.
        build = unresolved
        for p in resolved_parts:
            build = build.unionByName(p)
        nxt = (
            unresolved.alias("a")
            .join(build.alias("b"), F.col("a.anc") == F.col("b.node"))
            .select(
                F.col("a.node").alias("node"),
                F.col("b.anc").alias("anc"),
                (F.col("a.depth") + F.col("b.depth")).alias("depth"),
                F.col("b.done").alias("done"),
            )
            .localCheckpoint(eager=True)  # cut the doubling lineage
        )
        owners.append(nxt)
        resolved_parts.append(nxt.filter("done"))
        unresolved = nxt.filter("NOT done")
        if len(resolved_parts) > _FOLD_WIDTH:
            folded = resolved_parts[0]
            for p in resolved_parts[1:]:
                folded = folded.unionByName(p)
            # Eager: the fold MATERIALIZES into new blocks before any
            # source it reads is freed below.
            folded = folded.localCheckpoint(eager=True)
            for o in owners[:-1]:  # keep nxt — `unresolved` reads it
                _free_local_checkpoint(o)
            owners = [owners[-1], folded]
            resolved_parts = [folded]
    else:
        # 2^40-depth bound exhausted with rows still unresolved: the old
        # fixed-point formulation returned them as-is; the accumulator
        # split would silently DROP them.  Impossible for any real
        # forest, so fail loudly rather than emit a partial answer.
        if not unresolved.isEmpty():
            raise RuntimeError(
                "q_hierarchy_resolve: unresolved nodes after 40 doubling "
                "rounds (depth > 2^40?) — refusing to return a partial "
                "result"
            )
    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "node", F.col("anc").alias("root"), F.col("depth").alias("depth")
    )
