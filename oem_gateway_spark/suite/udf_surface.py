"""UDF-surface suite (SURVEY §2.6): every user-function extension point —
row Python UDF, scalar/grouped-agg pandas UDFs, applyInPandas,
mapInPandas — plus scalar/EXISTS subqueries, with DuckDB oracles computing
the same math in SQL.

Scale doctrine demonstrated here: the Python paths are Arrow-batched
(pandas_udf/mapInPandas); the row-at-a-time UDF exists to document the
anti-pattern (and is kept off the hot path: a 200-row dim table).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa  # module-level: arrow_udf type hints must resolve
                      # under `from __future__ import annotations`

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf
from pyspark.sql.types import DoubleType

from oem_gateway_spark.catalog import load_table
from oem_gateway_spark.suite.registry import query, record


@query(
    "u_python_udf",
    oracle="""
    SELECT p_partkey,
           round(CASE WHEN p_retailprice > 1500 THEN 1500 + (p_retailprice - 1500) * 0.5
                      ELSE p_retailprice END * 1.1, 4) AS adjusted
    FROM part
    """,
)
def u_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the documented SLOW path — used only on a
    dim table here; prefer pandas_udf on anything fact-sized)."""

    # No Python type hints on purpose: pyspark tries (and fails) to infer
    # an eval type from them, emitting a UserWarning; the decorator's
    # returnType is the whole contract for a row UDF.
    @udf(DoubleType())
    def soft_cap(price):
        capped = 1500 + (price - 1500) * 0.5 if price > 1500 else price
        return round(capped * 1.1, 4)

    p = load_table(spark, sf_dir, "part")
    return p.select("p_partkey", soft_cap(F.col("p_retailprice")).alias("adjusted"))


@query(
    "u_pandas_udf_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged
    FROM lineitem
    """,
)
def u_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF: Arrow-vectorized numpy arithmetic over the fact
    table (the RIGHT way to run Python per-row math at scale)."""

    @pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem")
    # Round JVM-side at 6 decimals: the product of three 2-decimal factors
    # has exactly 6 decimal digits, so rounding at 4 would sit ON the
    # half-up midpoint where Spark (BigDecimal) and DuckDB (double) can
    # disagree; rounding finer than the data's decimal structure is safe.
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(charge("l_extendedprice", "l_discount", "l_tax"), 6).alias("charged"),
    )


@query(
    "u_pandas_udf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
             AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def u_pandas_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: custom UDAF (quantity-weighted mean)
    without a JVM UDAF class; partial aggregation stays Arrow-batched."""

    @pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        return float(np.dot(price, qty) / qty.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_avg("l_extendedprice", "l_quantity"), 4).alias(
            "weighted_avg_price"
        )
    )


@query(
    "u_apply_in_pandas",
    oracle="""
    SELECT event_id, user_id,
           round(value * (count(*) OVER w) - sum(value) OVER w, 4) AS dev_scaled
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def u_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas: whole-group pandas transform (per-user deviation,
    scaled by group size) — the escape hatch when window functions can't
    express the group logic.  One shuffle on the key, bounded group memory.

    Output is ``value*n - sum`` rather than ``value - mean``: subtracting a
    shared group MEAN puts whole groups a constant distance from a rounding
    midpoint (mean = sum/n is rational and can land exactly on .00005),
    where the engines' last-bit float differences flip the rounded digit.
    The scaled form stays in exact-decimal territory, so round(4) is safe.
    """

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[["event_id", "user_id"]].copy()
        out["dev_scaled"] = pdf["value"] * len(pdf) - pdf["value"].sum()
        return out

    # Same two levers as u_cogroup (r7): project the columns the pandas
    # fn reads (pruning doesn't cross the UDF boundary) and pin the
    # partition count — per-group Python invocation is the wall, and
    # AQE's byte-based coalescing otherwise folds the pruned shuffle to
    # ~3 partitions, serializing the group calls.
    par = spark.sparkContext.defaultParallelism
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .repartition(par, "user_id")
    )
    centered = ev.groupBy("user_id").applyInPandas(
        center, "event_id long, user_id long, dev_scaled double"
    )
    # Round JVM-side (pandas .round is half-even, Spark/DuckDB half-up).
    return centered.withColumn("dev_scaled", F.round("dev_scaled", 4))


@query(
    "u_map_in_pandas",
    oracle="""
    SELECT event_id,
           CAST(length(props) AS INT) AS props_len,
           CAST(CAST(props->>'$.k' AS INTEGER) * 2 AS INT) AS k_doubled
    FROM events WHERE event_type = 'click'
    """,
)
def u_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas (UDTF-like): arbitrary batch filter+project in pandas;
    the filter on event_type is applied BEFORE the Python stage so the
    parquet scan prunes (predicate stays JVM-side)."""
    import json

    def project(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "props_len": pdf["props"].str.len().astype("int32"),
                    "k_doubled": pdf["props"]
                    .map(lambda s: json.loads(s)["k"] * 2)
                    .astype("int32"),
                }
            )

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    return ev.mapInPandas(
        project, "event_id long, props_len int, k_doubled int"
    )


@query(
    "u_scalar_subquery",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
    """,
)
def u_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (planned as a broadcast single-row
    join; the subquery aggregates map-side first)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
        FROM orders_sq
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders_sq)
        """
    )


@query(
    "u_exists_subquery",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
    """,
)
def u_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (decorrelated by Catalyst into a left-semi join)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_sq")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sq")
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM supplier_sq s
        WHERE EXISTS (SELECT 1 FROM lineitem_sq l
                      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
        """
    )


@query(
    "u_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS exact_p99,
           TRUE AS median_ok, TRUE AS p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def u_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: the 100 TB percentile path (mergeable sketch, no
    per-group sorted materialization).

    Oracle strategy (VERDICT r3 #6): sketch output is engine-dependent, so
    the query emits the EXACT percentile (percentile_cont, matching
    DuckDB's quantile_cont interpolation) plus a within-2%-relative
    boolean for the sketch value; oracle emits exact + literal TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("em"),
        F.percentile("l_extendedprice", 0.99).alias("ep"),
        F.approx_percentile("l_extendedprice", 0.5, 10000).alias("am"),
        F.approx_percentile("l_extendedprice", 0.99, 10000).alias("ap"),
    )
    ok = lambda a, e: (F.abs(F.col(a) - F.col(e)) / F.col(e) < 0.02)  # noqa: E731
    return agg.select(
        "l_returnflag",
        F.round("em", 4).alias("exact_median"),
        F.round("ep", 4).alias("exact_p99"),
        ok("am", "em").alias("median_ok"),
        ok("ap", "ep").alias("p99_ok"),
    )


@query(
    "u_map_in_arrow",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT) * l_linenumber) AS BIGINT)
             AS sum_qty_ln
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def u_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the ARROW-NATIVE batch extension point — the worker
    receives pyarrow.RecordBatch directly and computes through
    pyarrow.compute kernels, skipping the Arrow->pandas materialization
    every other Python path in this module pays (mapInPandas/pandas_udf
    convert each batch to pandas Series: an extra copy, dtype coercion,
    and NaN-for-null semantics).

    New engine surface: the LAST rung of the Python-UDF cost ladder.
    Row UDF (u_python_udf, documented anti-pattern) -> pandas batches
    (u_map_in_pandas) -> Arrow batches (here): zero-copy columnar in
    AND out, null semantics preserved exactly, the right signature for
    kernels that already speak Arrow (tokenizers, encoders, the
    multimodal decode seam).  At 100 TB this is the Python hot-path
    shape: per-batch vectorized compute, no pandas object boxing.  The
    Python stage only multiplies two int64 columns; the surrounding
    projection and final aggregate stay JVM-side (column pruning
    reaches the scan — only 3 of 11 lineitem columns are read, pinned
    in tests/test_round10_ops.py alongside the MapInArrow plan node).
    Integer-exact outputs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def qty_times_line(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            idx = {name: i for i, name in enumerate(batch.schema.names)}
            qty = pc.cast(batch.column(idx["l_quantity"]), pa.int64())
            ln = pc.cast(batch.column(idx["l_linenumber"]), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(idx["l_returnflag"]), pc.multiply(qty, ln)],
                ["l_returnflag", "qty_ln"],
            )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_linenumber"
    )
    mapped = li.mapInArrow(qty_times_line, "l_returnflag string, qty_ln bigint")
    return mapped.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum("qty_ln").alias("sum_qty_ln")
    )


@query(
    "u_sql_table_function",
    oracle="""
    SELECT o.o_orderkey, t.l_linenumber, t.l_quantity, t.l_extendedprice
    FROM orders o,
         LATERAL (SELECT l_linenumber, l_quantity, l_extendedprice
                  FROM lineitem
                  WHERE l_orderkey = o.o_orderkey AND l_linenumber <= 3) t
    WHERE o.o_orderkey % 20 = 0
    """,
)
def u_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DEFINED TABLE FUNCTION: `CREATE TEMPORARY FUNCTION ... RETURNS
    TABLE` whose body is a parameterized SELECT (line items 1-3 of an
    order), invoked per-row through a correlated LATERAL join — the
    argument is the outer query's column.

    New engine surface: the DECLARATIVE table-function entrance.  The
    registry's four Python UDTF entrances (u_python_udtf, the cogroup,
    TABLE-PARTITION and analyze() variants) all cross a process
    boundary: rows serialize to a Python worker that the optimizer
    cannot see into.  A SQL table function is the opposite contract —
    Catalyst INLINES the body at plan time, so the correlated
    predicate becomes an ordinary join condition and pruning reaches
    the lineitem scan; no Python in the path.  ENGINE HAZARD, found
    building this entry and pinned in tests/test_round13_ops.py: in
    Spark 4.1.2 an ORDER BY..LIMIT k INSIDE a correlated SQL table
    function body decorrelates WRONG — the physical plan hoists the
    correlated equality into a join ABOVE a GlobalLimit, so the limit
    is taken over the whole inner table ONCE (global top-k, silently
    dropping per-key groups: 5 parents x top-3 returned 1 row in the
    probe).  The body therefore selects its bounded prefix with an
    ARITY PREDICATE (l_linenumber <= 3, exact because l_linenumber is
    a dense per-order 1..7 key); per-parent top-k by a non-key column
    belongs in window-rank form (q_window_topk_per_group), not inside
    a correlated function body, until upstream fixes the
    decorrelation.  The oracle is the identical LATERAL subquery
    spelled inline.  The %20 slice keeps the expansion bounded (driver
    compare budget), not a semantic restriction."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_sqltf_src")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sqltf_src")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION order_first_lines(okey BIGINT)
          RETURNS TABLE (l_linenumber INT, l_quantity DOUBLE,
                         l_extendedprice DOUBLE)
          RETURN SELECT l_linenumber, l_quantity, l_extendedprice
                 FROM li_sqltf_src
                 WHERE l_orderkey = okey AND l_linenumber <= 3
        """
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber, t.l_quantity, t.l_extendedprice
        FROM orders_sqltf_src o, LATERAL order_first_lines(o.o_orderkey) t
        WHERE o.o_orderkey % 20 = 0
        """
    )


@query(
    "u_arrow_udf",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(LENGTH(text) +
                    10 * (LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))))
                AS BIGINT) AS signal_sum
    FROM documents
    GROUP BY lang
    """,
)
def u_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR ARROW-NATIVE UDF (`@arrow_udf`, Spark 4.1): an
    expression-position Python function whose batch type is
    pyarrow.Array in AND out — here a text-signal kernel
    (char length + 10x space count) over the documents corpus,
    computed entirely with pyarrow.compute string kernels.

    New engine surface: the EXPRESSION-position rung of the
    Arrow-native ladder.  u_map_in_arrow already witnesses Arrow
    batches as a whole-RELATION transform (mapInArrow: you take over
    the schema); arrow_udf slots the same zero-copy batch contract
    into a single column expression, composable with ordinary
    projections — pandas_udf's boxing (Arrow -> pandas Series, object
    coercion, NaN-for-null) is skipped while the call site stays a
    one-column function, exactly where a tokenizer-count or
    embedding-norm kernel belongs in an LLM ingest pipeline.  The
    surrounding groupBy/sum stays JVM-side.  Oracle: the same signal
    spelled with LENGTH/REPLACE arithmetic (both engines count
    characters, not bytes — the corpus check is part of the witness).
    Integer-exact outputs only."""
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("bigint")
    def text_signal(text: pa.Array) -> pa.Array:
        return pc.cast(
            pc.add(
                pc.utf8_length(text),
                pc.multiply(pc.count_substring(text, " "), 10),
            ),
            pa.int64(),
        )

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(text_signal(F.col("text"))).alias("signal_sum"),
    )


@query(
    "u_apply_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           round((l_extendedprice
                  - min(l_extendedprice) OVER (PARTITION BY l_returnflag))
                 / COALESCE(NULLIF(
                     max(l_extendedprice) OVER (PARTITION BY l_returnflag)
                     - min(l_extendedprice) OVER (PARTITION BY l_returnflag),
                     0), 1.0),
                 6) AS price_norm
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    """,
)
def u_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED-MAP applyInArrow (Spark 4): per-group min-max
    normalization of l_extendedprice where the whole group arrives as
    ONE pyarrow.Table and leaves as one — group statistics and the
    row-level rewrite computed in a single Arrow kernel pass.

    New engine surface: the GROUPED-MAP rung of the Arrow-native
    ladder, completing it — mapInArrow (whole relation), arrow_udf
    (expression position), and now per-group tables: the signature for
    group-local transforms that need full-group context (normalization,
    per-group model scoring, within-group dedup) without
    u_apply_in_pandas's pandas boxing.  Dispatch is identical to
    applyInPandas (hash shuffle on the keys, one Python call per
    group), so the 100 TB caveats carry over unchanged: group count
    must be >> cores and the largest group must fit an Arrow batch —
    both true for the 3-flag demo but the real contract is documented
    at operators/multimodal.py's batch-shape notes.  The division is
    the same IEEE sequence in both engines ((p - min) / (max - min) in
    doubles), so round(,6) hash-matches; the JVM-side F.round keeps
    the house HALF_UP discipline (Arrow's pc.round defaults to
    half-to-even — that mismatch is exactly why rounding happens
    OUTSIDE the kernel)."""
    import pyarrow.compute as pc

    def minmax_norm(table: pa.Table) -> pa.Table:
        price = pc.cast(table.column("l_extendedprice"), pa.float64())
        mn = pc.min(price).as_py()
        # degenerate-group guard, mirrored in the oracle's
        # COALESCE(NULLIF(max-min, 0), 1.0) so a constant-price group
        # normalizes to 0.0 on BOTH sides (DuckDB 0/0 is NULL, not 0)
        rng = (pc.max(price).as_py() - mn) or 1.0
        return pa.table(
            {
                "l_orderkey": table.column("l_orderkey"),
                "l_linenumber": table.column("l_linenumber"),
                "l_returnflag": table.column("l_returnflag"),
                "price_norm_raw": pc.divide(pc.subtract(price, mn), rng),
            }
        )

    li = load_table(spark, sf_dir, "lineitem").filter("l_orderkey % 10 = 0")
    out = li.groupBy("l_returnflag").applyInArrow(
        minmax_norm,
        "l_orderkey bigint, l_linenumber int, l_returnflag string, "
        "price_norm_raw double",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("price_norm_raw", 6).alias("price_norm"),
    )


@query(
    "u_pandas_udf_iter",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MIN(l_extendedprice * 1.1 + l_quantity), 6) AS lo,
           round(MAX(l_extendedprice * 1.1 + l_quantity), 6) AS hi
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def u_pandas_udf_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form scalar pandas UDF (SCALAR_ITER): the function
    receives the whole partition as an Iterator of Arrow batches, so
    EXPENSIVE ONE-TIME SETUP runs once per partition and is amortized
    across every batch — the signature for 'load the tokenizer / ONNX
    model / trie once, then stream batches through it', which is the
    dominant Python-UDF shape in an LLM ingest pipeline.

    New engine surface: the last uncovered pandas_udf EVAL TYPE
    (SCALAR witnesses per-batch calls, GROUPED_AGG per-group calls;
    SCALAR_ITER is per-PARTITION with streamed batches).  The plain
    scalar form re-enters Python per batch with no place to hang
    worker state short of module globals; the iterator form makes the
    init/stream split explicit and keeps memory flat (batches are
    consumed lazily — the whole partition is never materialized).  The
    'model' here is a trivial coefficient so the oracle stays exact
    arithmetic; the init-once contract is the point and is pinned via
    an accumulator recorded as the run's ``iter_udf_inits`` fact (inits
    == partitions touched, not rows or batches).  min/max order-exact;
    round(,6) on output."""
    acc = spark.sparkContext.accumulator(0)
    record(iter_udf_inits=acc)

    # Iterator/pd come from MODULE scope: under `from __future__ import
    # annotations` the hints are strings and pyspark resolves them in the
    # function's globals (a local alias would fail eval-type inference).
    @pandas_udf("double")
    def scored(batches: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        acc.add(1)  # the expensive load, once per partition
        coef = 1.1
        for qty_price in batches:
            yield qty_price["p"] * coef + qty_price["q"]

    # struct-pack the two inputs: SCALAR_ITER yields one iterator per
    # UDF, so multiple columns arrive as a struct series
    li = load_table(spark, sf_dir, "lineitem")
    packed = F.struct(
        F.col("l_extendedprice").alias("p"), F.col("l_quantity").alias("q")
    )
    return (
        li.select("l_returnflag", scored(packed).alias("s"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("s"), 6).alias("lo"),
            F.round(F.max("s"), 6).alias("hi"),
        )
    )


@query(
    "u_pandas_udf_window",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round((SUM(l_extendedprice) OVER w
                  - MAX(l_extendedprice) OVER w
                  - MIN(l_extendedprice) OVER w) / 8, 6) AS trimmed
    FROM lineitem
    WHERE l_orderkey % 20 = 0
    WINDOW w AS (ORDER BY l_orderkey, l_linenumber
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    QUALIFY row_number() OVER (ORDER BY l_orderkey, l_linenumber) >= 10
    """,
)
def u_pandas_udf_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF in WINDOW position (WindowInPandas): a TRIMMED mean
    (drop the frame's single max and min, average the middle 8) over a
    sliding 10-row price frame — the robust rolling smoother shape;
    built-in window aggregates compose it only by re-deriving the trim
    algebraically, which is exactly what the oracle does to check the
    Python aggregate ((sum - max - min) / 8).

    New engine surface: the WINDOW entrance for custom Python
    aggregates.  GROUPED_AGG witnesses one value per GROUP; window
    position evaluates the UDAF once per ROW over that row's frame
    (WindowInPandas plan node) — how a custom smoother / decayed
    score / robust statistic lands without a JVM UDAF class.  The
    frame is deliberately BOUNDED (ROWS 9 PRECEDING): an
    unbounded-preceding frame re-aggregates O(n) rows per row —
    quadratic, the anti-pattern.  Partial leading frames are dropped
    (row_number >= 10) so every frame holds exactly 10 rows: the
    trimmed mean is then a 2-decimal sum divided by 8 — an EXACT
    5-decimal rational, so round(,6) sits a full decimal away from
    any half-up midpoint (the first cut used a weighted mean whose
    quotient landed exactly on a 6-decimal midpoint at sf0.01 and
    hash-mismatched by 1e-6 — quotients of arbitrary integers can hit
    midpoints at ANY precision; division by a power of two cannot).
    Global ORDER BY (orderkey, linenumber) is unique so frames are
    deterministic; the single unpartitioned window is the
    bounded-output diagnostic shape (the %20 slice), per-key windows
    shard at scale."""
    from pyspark.sql.window import Window

    @pandas_udf("double")
    def trimmed_mean(price: pd.Series) -> float:
        v = np.sort(price.to_numpy())
        return float(v[1:-1].mean()) if len(v) > 2 else float(v.mean())

    li = load_table(spark, sf_dir, "lineitem").filter("l_orderkey % 20 = 0")
    order = Window.orderBy("l_orderkey", "l_linenumber")
    w = order.rowsBetween(-9, Window.currentRow)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(trimmed_mean("l_extendedprice").over(w), 6).alias("trimmed"),
            F.row_number().over(order).alias("_rn"),
        )
        .filter(F.col("_rn") >= 10)
        .drop("_rn")
    )
