"""Frame-line stream builders (reference listeners S1/S2).

Ref: oemgatewaylistener.py :: OemGatewaySocketListener (~l.230-290) reads
newline-delimited frames from TCP; OemGatewaySerialListener (~l.70-100)
from a serial port.  Spark's socket source has identical line semantics;
file replay gives deterministic tests and backfill (and is what a 100 TB
historical reprocess actually uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def socket_frame_stream(
    spark: SparkSession, host: str = "localhost", port: int = 5555
) -> DataFrame:
    """TCP listener (S2): one row per newline-delimited frame, with the
    engine-side arrival timestamp (P7: includeTimestamp mirrors the
    reference's buffer-side ``round(time.time(), 2)`` stamping).

    A batch is one task.  Spark's socket reader indexes a linked list per
    row, so a slice of n rows costs ~n² (a 50,000-row batch as one slice:
    37 s); 64 slices coalesced read it in 1.6 s (4 slices in 4 tasks: 2.2 s),
    not in arrival order.  ``observedMetrics["socket:host:port"]["frames"]``
    counts each batch; that node also stops the parse filter being pushed
    below the coalesce and planned once per slice (~1.4 ms each)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .option("includeTimestamp", "true")
        .option("numPartitions", "64")
        .load()
        .coalesce(1)
        .observe(f"socket:{host}:{port}", F.count(F.lit(1)).alias("frames"))
        .withColumnRenamed("value", "line")
        .withColumnRenamed("timestamp", "ingest_ts")
    )


def file_frame_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Line-file replay (serial-log backfill / tests).

    ``maxFilesPerTrigger`` is the backpressure knob (B2 upgrade: bounded
    per-micro-batch work instead of the reference's lossy 1000-row cap).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return (
        reader.load(path)
        .withColumnRenamed("value", "line")
        .withColumn("ingest_ts", F.current_timestamp())
    )
