"""Robustness suite, cycle 4: the late-data NEGATIVE path (watermark
actually dropping what it promises to drop) and batched model-inference
plumbing over multimodal columns.

The late-data witness matters because every streaming query so far
proves the POSITIVE contract (bounded replay equals the batch answer);
none proved the watermark discards anything.  Here the replay injects
rows 30 days stale into a later micro-batch — if the engine leaked them
the result would grow extra windows and hash-mismatch the oracle, which
aggregates ONLY the punctual rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oem_gateway_spark.catalog import load_table
from oem_gateway_spark.operators.dedup import _inherit_caches
from oem_gateway_spark.suite.registry import query
from oem_gateway_spark.suite.streaming_batch import (
    TUMBLING_ORACLE,
    _run_to_table,
    _source_fp,
)


@query("stream_late_data", oracle=TUMBLING_ORACLE)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL watermark-eviction witness: the events replay in four
    mtime-ordered micro-batches — (1) the full punctual stream, (2) a
    punctual filler (late-filter watermark lags one batch; see the
    builder comment), (3) a LATE file cloning ~1% of rows with ts
    shifted 30 days into the past, (4) a far-future sentinel that
    advances the watermark past every real window so append mode
    flushes them all.  By batch 3 the filtering watermark sits at
    max(ts) - 2h; every late row's window closed long before that, so
    the engine must DROP them — the result
    equals the tumbling aggregate over the punctual rows alone
    (TUMBLING_ORACLE).  If late rows leaked, 30-day-early windows would
    appear and the hash compare would fail.

    This is the reference's 'late frames are forwarded as-is; the
    server sorts it out' policy (SURVEY §2.6) replaced by actual
    event-time semantics, and the one streaming behavior the
    equals-batch replays cannot exercise (a single-batch replay never
    has a watermark to violate).

    Scale: state is O(open windows); the watermark bounds it — which
    is exactly the property this query proves."""
    import glob
    import shutil

    from oem_gateway_spark.catalog import ensure_nanos_conf, normalize_event_ts
    from oem_gateway_spark.streaming import state as ST

    ensure_nanos_conf(spark)
    src_file = os.path.join(sf_dir, "events.parquet")
    src_mtime = int(os.stat(src_file).st_mtime)
    safe = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(
        "/root/repo/.scratch", f"late-events-{safe}-{_source_fp(sf_dir)}"
    )
    if not os.path.exists(os.path.join(d, "zz_2_sentinel.parquet")):
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        if not os.path.exists(link):
            os.symlink(src_file, link)
        batch = spark.read.parquet(src_file)
        batch = normalize_event_ts(batch)

        def write_one(df: DataFrame, name: str, mtime: int) -> None:
            tmp = d + ".tmp"
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(d, name)
            shutil.move(part, dst)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dst, (mtime,) * 2)

        # Punctual filler batch between the main file and the late file:
        # Spark 3.4+ filters batch N's late rows with batch N-1's
        # PLANNING-time watermark (SPARK-40925 one-batch lag), so late
        # rows arriving in the first post-main batch would slip through;
        # after the filler commits, the late batch is filtered against
        # the post-main watermark.  The filler row is tagged and
        # excluded from the result.
        filler = (
            batch.agg(F.max("ts").alias("mx"))
            .select(
                F.lit(-2).cast("long").alias("event_id"),
                F.col("mx").alias("ts"),
                F.lit(-2).cast("long").alias("user_id"),
                F.lit("__filler__").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("").alias("props"),
            )
            .select(*[f.name for f in batch.schema.fields])
        )
        write_one(filler, "zz_1_filler.parquet", src_mtime + 500)
        late = batch.filter(F.col("event_id") % 97 == 0).withColumn(
            "ts", F.col("ts") - F.expr("INTERVAL 30 DAYS")
        )
        write_one(late, "zz_1_late.parquet", src_mtime + 1000)
        sentinel = (
            batch.agg(F.max("ts").alias("mx"))
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                (F.col("mx") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("__sentinel__").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("").alias("props"),
            )
            .select(*[f.name for f in batch.schema.fields])
        )
        write_one(sentinel, "zz_2_sentinel.parquet", src_mtime + 2000)
    batch_schema = spark.read.parquet(src_file).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    stream = normalize_event_ts(stream)
    result = ST.tumbling_counts(stream, watermark="2 hours")
    table = _run_to_table(result, mode="append", shuffle_partitions=8)
    return _inherit_caches(
        table.filter(~F.col("event_type").isin("__sentinel__", "__filler__")),
        table,
    )


def _classify_oracle() -> str:
    from oem_gateway_spark.operators.multimodal import N_CLASSES

    scores = [
        f"CAST('0x' || substr(md5(text || ':{c}'), 1, 8) AS BIGINT)"
        for c in range(N_CLASSES)
    ]
    s_cols = ", ".join(f"{s} AS s{c}" for c, s in enumerate(scores))
    mx = f"greatest({', '.join(f's{c}' for c in range(N_CLASSES))})"
    argmax = "CASE " + " ".join(
        f"WHEN s{c} = mx THEN {c}" for c in range(N_CLASSES)
    ) + " END"
    return f"""
    WITH scored AS (SELECT doc_id, {s_cols} FROM documents),
    m AS (SELECT doc_id, s0, s1, s2, s3, {mx} AS mx FROM scored)
    SELECT doc_id, CAST({argmax} AS INT) AS pred_class, mx AS score
    FROM m
    """


@query("m_batch_classify", oracle=_classify_oracle())
def m_batch_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multimodal classification: documents packed as media
    blobs (operators/multimodal.py conventions), scored by the
    mapInPandas inference harness — Arrow batches in, typed score rows
    out, blobs never crossing to the driver.  The "model" is the
    deterministic md5-logit stand-in (batch_classify docstring): a real
    model drops into the same iterator without changing the plan, and
    the fake keeps the whole inference path oracle-checkable
    bit-for-bit — the CASE-argmax in the oracle replays the identical
    integer math.

    Plan: metadata-only projection before the pandas stage; the
    exchange-free map pipeline is the entire query."""
    from oem_gateway_spark.operators.multimodal import attach_media, batch_classify

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return batch_classify(attach_media(docs))
