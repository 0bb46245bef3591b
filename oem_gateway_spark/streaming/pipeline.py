"""Gateway pipeline assembly: N listeners -> parse chain -> M sinks.

The reference's dataflow (SURVEY §3.2) as Structured Streaming:

  C1 main loop      -> StreamingQueryManager + trigger(processingTime=200ms)
  R1 fan-out        -> each sink is its own query over the source union
                       (checkpointed independently, like each buffer kept
                       its own in-memory list).  Each query opens its own
                       listener connection, so a socket listener gets one
                       TCP connection per query.  A socket batch is one
                       partition, so one task (sources/frames_source.py).
  P1-P6 parse chain -> functions/frames.py transforms (codegen, no UDF)
  P7 timestamping   -> ingest_ts at the source (socket includeTimestamp /
                       current_timestamp)
  B1-B6 delivery    -> sinks/emoncms.py foreachBatch with checkpoint-replay
                       at-least-once
  dead letter       -> rejects (with reasons) via a parquet file sink, exactly
                       once through its ``_spark_metadata`` log.  Upgrade:
                       files an older ``foreachBatch`` append left in
                       ``dead-letter/`` are not in that log, so not read back.
  C2 hot settings   -> ConfigWatcher + restart_from_config (offsets resume
                       from checkpoints, so restart == the reference's
                       hot-apply)

Scale: one query per sink keeps failure domains independent (a slow sink
never backpressures another — the reference shared one thread for all).
One query feeding every sink from one ``foreachBatch`` was measured on the
benchmark's ``gateway_live`` workload (4 cores) and is slower:
``queries_per_s`` 1.27-1.32 against 2.41 for per-sink queries.  Both
figures predate one-task socket batches and the FileSystem-based
checkpoint manager (``session.py``), which cut the per-batch cost; the
comparison was not rerun since.  Several
actions on one ``foreachBatch`` frame each re-read the source
(``numInputRows`` 200 for 100 rows), and persisting the frame to avoid
that raised p50 ack latency to 1,321 ms.
The parse chain is stateless map work; only windowed/stateful downstream
ops (streaming/state.py) keep state, bounded by watermarks.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col
from pyspark.sql.streaming import StreamingQuery

from oem_gateway_spark.config import GatewayConfig
from oem_gateway_spark.functions import frames as FR
from oem_gateway_spark.sinks.emoncms import EmoncmsSink, sink_rows
from oem_gateway_spark.sources.frames_source import (
    file_frame_stream,
    socket_frame_stream,
)


class GatewayPipeline:
    """Builds and runs the listener->buffer dataflow for a GatewayConfig."""

    def __init__(
        self,
        spark: SparkSession,
        config: GatewayConfig,
        checkpoint_root: str,
        poster: Callable[[str], str] | None = None,
        rfm2pi: bool = False,
        parquet_sink_dir: str | None = None,
    ):
        self.spark = spark
        self.config = config
        self.checkpoint_root = checkpoint_root
        self.poster = poster
        self.rfm2pi = rfm2pi
        self.parquet_sink_dir = parquet_sink_dir
        self.queries: list[StreamingQuery] = []
        self.sinks: dict[str, EmoncmsSink] = {}
        self.trigger_available_now = False  # recorded by start()

    # ---------------------------------------------------------------- build

    def source_stream(self) -> DataFrame:
        """Union of all configured listeners (R1's implicit UNION ALL)."""
        streams: list[DataFrame] = []
        for lc in self.config.listeners.values():
            if lc.type == "socket":
                s = socket_frame_stream(self.spark, lc.host, lc.port)
            elif lc.type in ("file", "serial_frames"):
                s = file_frame_stream(self.spark, lc.path)
            else:
                raise ValueError(f"unknown listener type {lc.type!r}")
            streams.append(s.selectExpr("line", "ingest_ts"))
        if not streams:
            raise ValueError("no listeners configured")
        out = streams[0]
        for s in streams[1:]:
            out = out.unionByName(s)
        return out

    # ------------------------------------------------------------------ run

    def start(self, trigger_available_now: bool = False) -> list[StreamingQuery]:
        self.trigger_available_now = trigger_available_now
        source = self.source_stream()
        parse = FR.parse_rfm2pi_frames if self.rfm2pi else FR.parse_serial_frames
        parsed = parse(source)
        rejects = FR.dead_letter(source, rfm2pi=self.rfm2pi)

        def start_query(writer, name: str, checkpoint: str) -> None:
            writer = writer.option(
                "checkpointLocation", os.path.join(self.checkpoint_root, checkpoint)
            ).queryName(name)
            if trigger_available_now:
                writer = writer.trigger(availableNow=True)
            else:
                writer = writer.trigger(processingTime=f"{self.config.trigger_ms} milliseconds")
            self.queries.append(writer.start())

        rows = sink_rows(parsed)
        for bc in self.config.buffers.values():
            sink = EmoncmsSink(
                domain=bc.domain,
                path=bc.path,
                apikey=bc.apikey,
                protocol=bc.protocol,
                active=bc.active,
                poster=self.poster,
            )
            self.sinks[bc.name] = sink
            start_query(
                rows.writeStream.foreachBatch(sink.process_batch),
                f"gateway-sink-{bc.name}", f"sink-{bc.name}",
            )

        if self.parquet_sink_dir:
            # The 100 TB delivery target: readings appended as parquet
            # partitioned by node (at scale: node + date) — columnar,
            # partition-pruned, no per-row HTTP in the path.
            readings = parsed.withColumn("node_part", F_col("node"))
            start_query(
                readings.writeStream.format("parquet").partitionBy("node_part")
                .option("path", self.parquet_sink_dir),
                "gateway-parquet-sink", "sink-parquet",
            )
        start_query(
            rejects.writeStream.format("parquet")
            .option("path", os.path.join(self.checkpoint_root, "dead-letter")),
            "gateway-dead-letter", "sink-dead-letter",
        )
        return self.queries

    def await_all(self, timeout_s: float | None = None) -> None:
        """Wait for every query to terminate (each gets ``timeout_s``).

        Raises ``TimeoutError`` naming every query still active when its
        wait ran out; a failed query raises its own exception.
        """
        active = [
            q.name for q in self.queries if q.awaitTermination(timeout_s) is False
        ]
        if active:
            raise TimeoutError(
                f"queries still active after {timeout_s} s: {', '.join(active)}"
            )

    def stop(self) -> None:
        """C5 graceful shutdown: stop every query (offsets checkpointed)."""
        for q in self.queries:
            q.stop()
        self.queries.clear()


def restart_from_config(
    pipeline: GatewayPipeline | None,
    spark: SparkSession,
    new_config: GatewayConfig,
    checkpoint_root: str,
    **kwargs,
) -> GatewayPipeline:
    """C2 hot-apply: stop the old pipeline, start one with the new config.
    Checkpointed offsets make this equivalent to the reference's in-place
    reconfiguration (no rows lost, no rows reread).  The fresh pipeline
    runs on the old one's trigger, so a bounded (``availableNow``) pipeline
    stays bounded; with no old pipeline it runs on the live trigger."""
    available_now = False
    if pipeline is not None:
        pipeline.stop()
        available_now = pipeline.trigger_available_now
    fresh = GatewayPipeline(spark, new_config, checkpoint_root, **kwargs)
    fresh.start(trigger_available_now=available_now)
    return fresh
