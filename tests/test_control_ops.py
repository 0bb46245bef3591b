"""Tests for the SURVEY §2.5 control/misc operators: radio commands (C3),
time broadcast (C4), repeater TX (R2), metrics (C6), and the custom
stateful operator (applyInPandasWithState)."""

from __future__ import annotations

import os
import shutil

import pytest

SCRATCH = "/root/repo/.scratch"


@pytest.fixture()
def scratch(request):
    d = os.path.join(SCRATCH, request.node.name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_radio_command_grammar():
    from oem_gateway_spark.sources import radio_control as RC

    assert RC.frequency_command("8") == "8b"  # 868 MHz (ref C3)
    assert RC.group_command(210) == "210g"
    assert RC.baseid_command(15) == "15i"
    assert RC.time_broadcast_command(7, 5) == "00,07,05,00,s"
    for bad in ("5", "433"):
        with pytest.raises(ValueError):
            RC.frequency_command(bad)
    with pytest.raises(ValueError):
        RC.group_command(251)
    with pytest.raises(ValueError):
        RC.baseid_command(0)


def test_radio_control_apply_and_time_tick():
    from oem_gateway_spark.sources.radio_control import RadioControl

    written: list[str] = []
    now = [1000.0]
    rc = RadioControl(write=written.append, sendtimeinterval=30, clock=lambda: now[0])
    assert rc.apply_settings(frequency="4", group=210, baseid=15) == [
        "4b",
        "210g",
        "15i",
    ]
    assert written == ["4b", "210g", "15i"]

    # C4: first tick sends, ticks within the interval do not, after it does
    cmd = rc.tick()
    assert cmd is not None and cmd.endswith(",s") and cmd.startswith("00,")
    assert rc.tick() is None
    now[0] += 31
    assert rc.tick() is not None
    assert len(written) == 5


def test_repeater_sink_tx(spark):
    from oem_gateway_spark.sinks.repeater import RepeaterSink

    tx: list[str] = []
    sink = RepeaterSink(write=tx.append, order_col="line_id")
    df = spark.createDataFrame(
        [(2, "10 5 6"), (1, "10 1 2")], "line_id long, line string"
    )
    sink.process_batch(df, 0)
    # ordered by line_id, CRLF framed (ref serial write)
    assert tx == ["10 1 2\r\n", "10 5 6\r\n"]
    assert sink.sent == 2


def test_observe_metrics_and_listener(spark, scratch):
    """C6: observed per-batch frame/reject counters + listener stats."""
    import time

    from oem_gateway_spark.functions import frames as FR
    from oem_gateway_spark.streaming.observability import (
        GatewayMetricsListener,
        with_frame_metrics,
    )

    inp = os.path.join(scratch, "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "f.txt"), "w") as f:
        f.write("10 1 2\n> info\n11 3\nbad x\n")

    listener = GatewayMetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.format("text").load(inp).withColumnRenamed("value", "line")
        )
        classified = FR.classify_frames(stream).drop("toks")
        observed = with_frame_metrics(classified)
        q = (
            observed.writeStream.format("memory")
            .queryName("obs_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events arrive asynchronously
        deadline = time.time() + 30
        while time.time() < deadline:
            s = listener.stats.get("obs_test")
            if s and s.observed.get("n_frames"):
                break
            time.sleep(0.5)
        s = listener.stats["obs_test"]
        assert s.observed["n_frames"] == 4
        assert s.observed["n_rejected"] == 2  # info + non-numeric
        assert s.rows == 4
    finally:
        spark.streams.removeListener(listener)


def test_apply_in_pandas_with_state_running_stats(spark, scratch):
    """Custom stateful op: per-node running counters across micro-batches
    (applyInPandasWithState, update mode)."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.streaming.state import node_running_stats

    inp = os.path.join(scratch, "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "b1.txt"), "w") as f:
        f.write("10,1.5\n10,2.5\n11,4.0\n")
    with open(os.path.join(inp, "b2.txt"), "w") as f:
        f.write("10,1.0\n")

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(inp)
    parsed = raw.select(
        F.split("value", ",")[0].cast("int").alias("node"),
        F.split("value", ",")[1].cast("double").alias("value"),
        F.current_timestamp().alias("ingest_ts"),
    )
    # NoTimeout: a processing-time timeout keeps availableNow scheduling
    # no-data batches, so the query would never terminate.
    stats = node_running_stats(parsed, timeout_minutes=None)
    q = (
        stats.writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "availableNow query did not terminate"
    finally:
        q.stop()
    rows = spark.table("state_test").collect()
    # final (latest) emission per node reflects the running totals
    latest = {}
    for r in rows:
        latest[r["node"]] = (r["n_frames"], r["sum_value"])
    assert latest[10] == (3, 5.0)
    assert latest[11] == (1, 4.0)


def test_incremental_rollup_across_batches(spark, scratch):
    """Continuous aggregation: the rollup store after two micro-batches
    equals the single-shot aggregation of all rows (decomposable merge)."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.functions import frames as FR
    from oem_gateway_spark.streaming.rollup import IncrementalRollup

    inp = os.path.join(scratch, "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "b1.txt"), "w") as f:
        f.write("10 5\n10 7\n11 1\n")
    with open(os.path.join(inp, "b2.txt"), "w") as f:
        f.write("10 3\n11 9\n")

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(inp)
    parsed = FR.parse_serial_frames(
        raw.withColumnRenamed("value", "line")
    ).withColumn("ingest_ts", F.lit("2024-01-01 00:10:00").cast("timestamp"))

    store = os.path.join(scratch, "rollup")
    ru = IncrementalRollup(store)
    q = (
        parsed.writeStream.foreachBatch(ru.process_batch)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = {
        (r["node"]): (r["n_frames"], r["sum_v0"], r["min_v0"], r["max_v0"])
        for r in spark.read.parquet(store).collect()
    }
    assert rows == {10: (3, 15.0, 3.0, 7.0), 11: (2, 10.0, 1.0, 9.0)}


def test_watermark_bounded_dedup_state(spark, scratch):
    """M4 watermark contract for streaming dedup (empirically pinned):
    duplicates arriving while the key's state lives are suppressed; once
    the watermark (which propagates with one batch of lag) passes an event
    time, stragglers with that event time are DROPPED as late input and
    the key's state is evicted — so state stays bounded and old rows can
    never grow it back.  Exactly-once within the horizon, documented
    at-least-once beyond it: the guarantee that keeps streaming dedup
    feasible at 100 TB.
    """
    from pyspark.sql import functions as F

    inp = os.path.join(scratch, "in")
    os.makedirs(inp)
    # b1: A and B arrive (watermark after b1: 10:05 - 10min = 09:55)
    with open(os.path.join(inp, "b1.txt"), "w") as f:
        f.write("A,2024-01-01 10:00:00\nB,2024-01-01 10:05:00\n")
    # b2: duplicate A while its state is live (10:00 >= 09:55) -> suppressed;
    #     C advances the watermark to 12:50, evicting A's and B's state
    with open(os.path.join(inp, "b2.txt"), "w") as f:
        f.write("A,2024-01-01 10:00:00\nC,2024-01-01 13:00:00\n")
    # b3: duplicate A again — suppressed (state still live this batch)
    with open(os.path.join(inp, "b3.txt"), "w") as f:
        f.write("A,2024-01-01 10:00:00\n")
    # b4: duplicate A AND a brand-new key D, both with event times far
    # behind the (now fully propagated) 12:50 watermark -> both dropped
    # as LATE input; D proves the late filter (not dedup state) does it
    with open(os.path.join(inp, "b4.txt"), "w") as f:
        f.write("A,2024-01-01 10:00:00\nD,2024-01-01 10:01:00\n")
    # file-source batch order follows modification time: force b1 < ... < b4
    base = 1_700_000_000
    for i, name in enumerate(["b1.txt", "b2.txt", "b3.txt", "b4.txt"]):
        os.utime(os.path.join(inp, name), (base + i * 10, base + i * 10))

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(inp)
    ev = raw.select(
        F.split("value", ",")[0].alias("key"),
        F.split("value", ",")[1].cast("timestamp").alias("ts"),
    )
    deduped = ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["key"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("wm_dedup_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    counts: dict[str, int] = {}
    for r in spark.table("wm_dedup_test").collect():
        counts[r["key"]] = counts.get(r["key"], 0) + 1
    # A once (b2/b3 dups suppressed by live state; b4 dup dropped late);
    # D never appears (late input dropped before touching state).
    assert counts == {"A": 1, "B": 1, "C": 1}, counts


def _rollup_batch(spark, rows):
    """Rows of (node, v0) as a parsed-frame batch for IncrementalRollup."""
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(n, [float(v)]) for n, v in rows], "node INT, values ARRAY<DOUBLE>"
    ).withColumn("ingest_ts", F.lit("2024-01-01 00:10:00").cast("timestamp"))


def test_rollup_replay_is_idempotent(spark, scratch):
    """at-least-once replay: re-running an already-merged micro-batch
    (foreachBatch re-invocation after a missed checkpoint commit) must not
    double-count — merged_batch_id rides in the store and gates the merge."""
    from oem_gateway_spark.streaming.rollup import IncrementalRollup

    store = os.path.join(scratch, "rollup")
    ru = IncrementalRollup(store)
    b0 = _rollup_batch(spark, [(10, 5), (10, 7), (11, 1)])
    b1 = _rollup_batch(spark, [(10, 3), (11, 9)])
    ru.process_batch(b0, 0)
    ru.process_batch(b1, 1)
    ru.process_batch(b1, 1)  # replay: must be a no-op
    ru.process_batch(b0, 0)  # stale replay: must be a no-op
    rows = {
        r["node"]: (r["n_frames"], r["sum_v0"], r["min_v0"], r["max_v0"])
        for r in spark.read.parquet(store).collect()
    }
    assert rows == {10: (3, 15.0, 3.0, 7.0), 11: (2, 10.0, 1.0, 9.0)}


def test_rollup_recovers_from_tmp_after_torn_final_write(spark, scratch):
    """Crash simulation: the final-store overwrite was interrupted (its
    _SUCCESS marker is gone) but the .tmp copy is committed.  read_store
    must serve the .tmp snapshot — NOT silently reset history — and the
    next batch must merge on top of it and re-commit the main store."""
    from oem_gateway_spark.streaming.rollup import IncrementalRollup

    store = os.path.join(scratch, "rollup")
    ru = IncrementalRollup(store)
    ru.process_batch(_rollup_batch(spark, [(10, 5), (11, 1)]), 0)
    # tear the final write: drop the commit marker (tmp copy stays whole)
    os.remove(os.path.join(store, "_SUCCESS"))
    recovered = ru.read_store(spark)
    assert recovered is not None
    assert store + ".tmp/" in recovered.inputFiles()[0]
    ru.process_batch(_rollup_batch(spark, [(10, 3)]), 1)
    assert os.path.exists(os.path.join(store, "_SUCCESS"))
    rows = {
        r["node"]: (r["n_frames"], r["sum_v0"])
        for r in spark.read.parquet(store).collect()
    }
    assert rows == {10: (2, 8.0), 11: (1, 1.0)}


def test_rollup_replay_after_torn_final_write_repairs_store(spark, scratch):
    """Replay of the SAME batch after a torn final overwrite: the merge is
    skipped (already in .tmp) and the main store is re-committed from it."""
    from oem_gateway_spark.streaming.rollup import IncrementalRollup

    store = os.path.join(scratch, "rollup")
    ru = IncrementalRollup(store)
    b0 = _rollup_batch(spark, [(10, 5), (11, 1)])
    ru.process_batch(b0, 0)
    os.remove(os.path.join(store, "_SUCCESS"))
    ru.process_batch(b0, 0)  # replay: repair only, no double merge
    rows = {
        r["node"]: (r["n_frames"], r["sum_v0"])
        for r in spark.read.parquet(store).collect()
    }
    assert rows == {10: (1, 5.0), 11: (1, 1.0)}


def test_rollup_rejects_second_live_maintainer(spark, scratch):
    """Single-writer lease: a second live maintainer on the same store
    must raise (the .tmp-promote dance is not safe to interleave); after
    the holder releases, a new maintainer acquires cleanly; a lease left
    by a DEAD process is stolen (crash-restart recovery)."""
    import subprocess

    from oem_gateway_spark.streaming.rollup import (
        IncrementalRollup,
        RollupOwnershipError,
    )

    store = os.path.join(scratch, "rollup")
    ru1 = IncrementalRollup(store)
    ru1.process_batch(_rollup_batch(spark, [(10, 5)]), 0)

    ru2 = IncrementalRollup(store)
    with pytest.raises(RollupOwnershipError):
        ru2.process_batch(_rollup_batch(spark, [(10, 3)]), 1)

    # graceful handover: release -> the next maintainer may write
    ru1.release_lease()
    ru2.process_batch(_rollup_batch(spark, [(10, 3)]), 1)
    rows = {
        r["node"]: (r["n_frames"], r["sum_v0"])
        for r in spark.read.parquet(store).collect()
    }
    assert rows == {10: (2, 8.0)}

    # crashed holder: its pid is dead, so the lease is stale and stolen
    ru2.release_lease()
    p = subprocess.Popen(["true"])
    p.wait()
    with open(store + ".lock", "w") as f:
        f.write(f"{p.pid}:0")
    ru3 = IncrementalRollup(store)
    ru3.process_batch(_rollup_batch(spark, [(11, 1)]), 2)
    assert 11 in {r["node"] for r in spark.read.parquet(store).collect()}
    ru3.release_lease()


def test_transform_with_state_counter_deltas(spark, scratch):
    """Counter-to-rate via transformWithStateInPandas (StatefulProcessor +
    ValueState): deltas must difference consecutive readings per node AND
    carry the last value across micro-batch boundaries.  Skips where the
    protobuf runtime (required by the TWS state server) is absent."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from oem_gateway_spark.streaming.state import node_counter_deltas

    inp = os.path.join(scratch, "in_tws")
    os.makedirs(inp)
    # meter readings: node 10 counts 100 -> 103 -> 110; node 11: 7 -> 7.5
    with open(os.path.join(inp, "b1.txt"), "w") as f:
        f.write("10,1000,100.0\n10,2000,103.0\n11,1500,7.0\n")
    with open(os.path.join(inp, "b2.txt"), "w") as f:
        f.write("10,3000,110.0\n11,2500,7.5\n")

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(inp)
    parsed = raw.select(
        F.split("value", ",")[0].cast("int").alias("node"),
        F.timestamp_millis(F.split("value", ",")[1].cast("long")).alias("ingest_ts"),
        F.split("value", ",")[2].cast("double").alias("value"),
    )
    deltas = node_counter_deltas(parsed)
    q = (
        deltas.writeStream.format("memory")
        .queryName("tws_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(scratch, "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("tws_test").collect()
    got = {(r["node"], r["ts_ms"]): r["delta"] for r in rows}
    assert len(rows) == 5, rows
    assert got[(10, 1000)] is None  # first-ever reading: no delta
    assert got[(10, 2000)] == 3.0
    assert got[(10, 3000)] == 7.0  # state carried across the batch boundary
    assert got[(11, 1500)] is None
    assert got[(11, 2500)] == 0.5


def test_counter_deltas_across_batches(spark, scratch):
    """Counter-to-rate (applyInPandasWithState, per-row emission): the
    delta chain continues across micro-batch boundaries — batch 2's first
    delta references batch 1's last value, and only the first row ever
    per node is NULL."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.streaming.state import counter_deltas

    inp = os.path.join(scratch, "in")
    os.makedirs(inp)
    # node 10: cumulative meter 100 -> 103 -> 110; node 11: 50 -> 57
    with open(os.path.join(inp, "b1.txt"), "w") as f:
        f.write("10,1,1000,100.0\n10,2,2000,103.0\n11,3,1500,50.0\n")
    with open(os.path.join(inp, "b2.txt"), "w") as f:
        f.write("10,4,3000,110.0\n11,5,2500,57.0\n")

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(inp)
    parts = F.split("value", ",")
    parsed = raw.select(
        parts[0].cast("int").alias("node"),
        parts[1].cast("long").alias("event_id"),
        parts[2].cast("long").alias("ts_ms"),
        parts[3].cast("double").alias("value"),
    )
    # ProcessingTimeTimeout exercised here (continuous-pipeline default);
    # availableNow still terminates because maxFilesPerTrigger makes the
    # data batches finite and the final no-data batch fires before the
    # 60-min timeout horizon has work to do.
    out = counter_deltas(parsed, timeout_minutes=None)
    q = (
        out.writeStream.format("memory")
        .queryName("deltas_test")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {r["event_id"]: r["delta"] for r in spark.table("deltas_test").collect()}
    assert rows[1] is None          # first ever for node 10
    assert rows[2] == 3.0
    assert rows[3] is None          # first ever for node 11
    assert rows[4] == 7.0           # crosses the batch boundary (110-103)
    assert rows[5] == 7.0           # crosses the batch boundary (57-50)
