"""Streaming e2e tests (SURVEY §5.2): file-replayed frames through the
gateway pipeline with failure injection; serial DataSource; config watcher.

Uses .scratch/ (gitignored) for stream inputs + checkpoints.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

SCRATCH = "/root/repo/.scratch"


@pytest.fixture()
def scratch(request):
    d = os.path.join(SCRATCH, request.node.name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


FRAMES = [
    "10 822 1021 1",
    "11 7.5 -3.25",
    "> info line",
    "10 8a2 3",
    "12 1 2 3",
]


def _write_frames(d: str, lines, name="frames-0.txt"):
    inp = os.path.join(d, "in")
    os.makedirs(inp, exist_ok=True)
    with open(os.path.join(inp, name), "w") as f:
        f.write("\n".join(lines) + "\n")
    return inp


def _gateway_config(inp: str, extra_buffer: bool = False):
    from oem_gateway_spark.config import BufferConfig, GatewayConfig, ListenerConfig

    buffers = {"emon": BufferConfig(name="emon", apikey="secret")}
    if extra_buffer:
        buffers["backup"] = BufferConfig(name="backup", apikey="k2")
    return GatewayConfig(
        listeners={"replay": ListenerConfig(name="replay", type="file", path=inp)},
        buffers=buffers,
    )


def test_pipeline_end_to_end_delivery_and_dead_letter(spark, scratch):
    """Frames flow source -> parse -> emoncms sink; rejects land in the
    dead-letter parquet with reasons (R1/P1-P6/B1-B6)."""
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    inp = _write_frames(scratch, FRAMES)
    posted: list[str] = []

    def poster(url: str) -> str:
        posted.append(url)
        return "ok"

    pipe = GatewayPipeline(
        spark, _gateway_config(inp), os.path.join(scratch, "ckpt"), poster=poster
    )
    pipe.start(trigger_available_now=True)
    pipe.await_all(timeout_s=120)
    pipe.stop()

    assert len(posted) == 1
    url = posted[0]
    assert "apikey=secret" in url and "data=" in url and "time=" in url
    from urllib.parse import parse_qs, urlparse
    import json

    data = json.loads(parse_qs(urlparse(url).query)["data"][0])
    # 3 valid frames, Δt non-positive, node + values preserved
    assert sorted(r[1] for r in data) == [10, 11, 12]
    assert all(r[0] <= 0 for r in data)
    by_node = {r[1]: r[2:] for r in data}
    assert by_node[10] == [822, 1021, 1]
    assert by_node[11] == [7.5, -3.25]

    dead = spark.read.parquet(os.path.join(scratch, "ckpt", "dead-letter"))
    reasons = {r["line"]: r["reject_reason"] for r in dead.collect()}
    assert reasons == {"> info line": "info_frame", "10 8a2 3": "non_numeric"}


def test_await_all_raises_naming_active_queries(spark, scratch):
    """A processing-time pipeline never terminates: await_all says so
    instead of returning as if it had."""
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    inp = _write_frames(scratch, FRAMES)
    pipe = GatewayPipeline(
        spark, _gateway_config(inp), os.path.join(scratch, "ckpt"), poster=lambda u: "ok"
    )
    pipe.start()
    try:
        with pytest.raises(TimeoutError) as err:
            pipe.await_all(timeout_s=2)
    finally:
        pipe.stop()
    assert "gateway-sink-emon" in str(err.value)
    assert "gateway-dead-letter" in str(err.value)


def test_sink_failure_replay_at_least_once(spark, scratch):
    """B5: a sink that fails its first batch gets the SAME micro-batch
    replayed from the checkpoint on restart — no data loss."""
    from oem_gateway_spark.config import GatewayConfig
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    inp = _write_frames(scratch, FRAMES)
    cfg = _gateway_config(inp)
    attempts: list[str] = []

    def flaky_poster(url: str) -> str:
        attempts.append(url)
        if len(attempts) <= 3:  # exhaust the sink's in-batch retries once
            raise ConnectionError("server down")
        return "ok"

    ckpt = os.path.join(scratch, "ckpt")
    pipe = GatewayPipeline(spark, cfg, ckpt, poster=flaky_poster)
    pipe.start(trigger_available_now=True)
    with pytest.raises(Exception):
        # the sink query fails after retries; awaitTermination surfaces it
        [q.awaitTermination(120) for q in pipe.queries]
    pipe.stop()

    # restart from the same checkpoint: micro-batch replays, delivery works
    pipe2 = GatewayPipeline(spark, cfg, ckpt, poster=flaky_poster)
    pipe2.start(trigger_available_now=True)
    pipe2.await_all(timeout_s=120)
    pipe2.stop()

    assert len(attempts) == 4  # 3 failures + 1 successful replay
    assert pipe2.sinks["emon"].delivered_batches  # the batch landed


def test_dead_letter_replay_writes_each_reject_once(spark, scratch):
    """A crash after the dead letter's write and before its commit makes
    the restart replay that batch; the file sink's ``_spark_metadata`` log
    keeps each reject in ``dead-letter/`` exactly once."""
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    inp = _write_frames(scratch, FRAMES)
    ckpt = os.path.join(scratch, "ckpt")

    def run() -> None:
        pipe = GatewayPipeline(spark, _gateway_config(inp), ckpt, poster=lambda u: "ok")
        pipe.start(trigger_available_now=True)
        pipe.await_all(timeout_s=120)
        pipe.stop()

    run()
    commits = os.path.join(ckpt, "sink-dead-letter", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    run()

    dead = spark.read.parquet(os.path.join(ckpt, "dead-letter")).collect()
    assert sorted(r["line"] for r in dead) == ["10 8a2 3", "> info line"]


def test_live_socket_sink_batch_runs_one_task(spark, scratch):
    """A socket listener is read as one partition, so every stage of the
    live emoncms sink query runs one task; the frames each batch read are
    in the query progress."""
    import socket
    import threading

    from oem_gateway_spark.config import BufferConfig, GatewayConfig, ListenerConfig
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    server = socket.create_server(("127.0.0.1", 0))
    server.settimeout(0.2)
    port = server.getsockname()[1]
    done = threading.Event()

    def serve() -> None:  # every query's connection gets the frames
        conns = []
        while not done.is_set():
            try:
                conn, _ = server.accept()
            except TimeoutError:
                continue
            conn.sendall(("\n".join(FRAMES) + "\n").encode())
            conns.append(conn)
        for conn in conns:
            conn.close()

    thread = threading.Thread(target=serve, daemon=True)
    thread.start()
    cfg = GatewayConfig(
        listeners={"live": ListenerConfig(
            name="live", type="socket", host="127.0.0.1", port=port
        )},
        buffers={"emon": BufferConfig(name="emon", apikey="k")},
        trigger_ms=200,
    )
    posted: list[str] = []
    pipe = GatewayPipeline(
        spark, cfg, os.path.join(scratch, "ckpt"), poster=lambda u: (posted.append(u), "ok")[1]
    )
    pipe.start()
    sink_q = next(q for q in pipe.queries if q.name == "gateway-sink-emon")
    try:
        deadline = time.monotonic() + 60  # until a batch that posted is committed
        while time.monotonic() < deadline and not (
            posted and any(p.numInputRows for p in sink_q.recentProgress)
        ):
            time.sleep(0.2)
    finally:
        pipe.stop()
        done.set()
        thread.join(timeout=10)
        server.close()

    assert not thread.is_alive()
    assert posted, "the live sink posted nothing"
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(sink_q.runId))
    stages = [sid for jid in jobs for sid in tracker.getJobInfo(jid).stageIds]
    assert stages and [tracker.getStageInfo(sid).numTasks for sid in stages] == [1] * len(stages)
    progress = sink_q.recentProgress
    observed = [p.observedMetrics.get(f"socket:127.0.0.1:{port}") for p in progress]
    frames = sum(m["frames"] for m in observed if m is not None)
    assert frames == sum(p.numInputRows for p in progress) > 0


def test_fanout_multiple_sinks(spark, scratch):
    """R1: every frame reaches every active buffer independently."""
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    inp = _write_frames(scratch, FRAMES)
    cfg = _gateway_config(inp, extra_buffer=True)
    urls: list[str] = []

    pipe = GatewayPipeline(
        spark, cfg, os.path.join(scratch, "ckpt"), poster=lambda u: (urls.append(u), "ok")[1]
    )
    pipe.start(trigger_available_now=True)
    pipe.await_all(timeout_s=120)
    pipe.stop()

    assert len(urls) == 2
    assert {("apikey=secret" in u) for u in urls} == {True, False}  # each key once


def test_inactive_sink_gate(spark, scratch):
    """P8: active=False sinks acknowledge without sending (string-typed
    'False' in config, like the reference's ConfigObj compare)."""
    from oem_gateway_spark.config import load_config
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    inp = _write_frames(scratch, FRAMES)
    conf_path = os.path.join(scratch, "gw.conf")
    with open(conf_path, "w") as f:
        f.write(
            f"[gateway]\nloglevel = WARN\n\n"
            f"[listener:replay]\ntype = file\npath = {inp}\n\n"
            f"[buffer:emon]\ntype = emoncms\napikey = k\nactive = False\n"
        )
    cfg = load_config(conf_path)
    assert cfg.buffers["emon"].active is False

    urls: list[str] = []
    pipe = GatewayPipeline(
        spark, cfg, os.path.join(scratch, "ckpt"), poster=lambda u: (urls.append(u), "ok")[1]
    )
    pipe.start(trigger_available_now=True)
    pipe.await_all(timeout_s=120)
    pipe.stop()
    assert urls == []


def test_serial_datasource_replay(spark, scratch):
    """S1: the Python DataSource reads complete lines only, tracks byte
    offsets, and picks up appended data on the next batch."""
    from oem_gateway_spark.sources.serial_source import SerialFrameDataSource

    spark.dataSource.register(SerialFrameDataSource)
    path = os.path.join(scratch, "serial.log")
    with open(path, "w") as f:
        f.write("10 1 2\n11 3 4\npartial-no-newline")

    out_dir = os.path.join(scratch, "out")
    q = (
        spark.readStream.format("serial_frames")
        .option("path", path)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    lines = {r["line"] for r in spark.read.parquet(out_dir).collect()}
    assert lines == {"10 1 2", "11 3 4"}  # partial line NOT consumed

    # complete the partial line + append another; a new availableNow run
    # resumes from the checkpointed byte offset
    with open(path, "a") as f:
        f.write(" 5\r\n12 9 9\n")
    q2 = (
        spark.readStream.format("serial_frames")
        .option("path", path)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    lines = {r["line"] for r in spark.read.parquet(out_dir).collect()}
    assert lines == {"10 1 2", "11 3 4", "partial-no-newline 5", "12 9 9"}


def test_config_watcher_restart(spark, scratch, tmp_path):
    """C2/S4: config change -> watcher reports it -> restart_from_config
    brings up the new topology (offsets resume via checkpoints)."""
    from oem_gateway_spark.config import ConfigWatcher
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline, restart_from_config

    inp = _write_frames(scratch, FRAMES[:2])
    conf = os.path.join(scratch, "gw.conf")

    def write_conf(apikey: str):
        with open(conf, "w") as f:
            f.write(
                f"[listener:replay]\ntype = file\npath = {inp}\n\n"
                f"[buffer:emon]\ntype = emoncms\napikey = {apikey}\n"
            )

    write_conf("k1")
    watcher = ConfigWatcher(conf)
    cfg = watcher.check()
    assert cfg is not None and cfg.buffers["emon"].apikey == "k1"
    assert watcher.check() is None  # unchanged

    urls: list[str] = []
    pipe = GatewayPipeline(
        spark, cfg, os.path.join(scratch, "ckpt"), poster=lambda u: (urls.append(u), "ok")[1]
    )
    pipe.start(trigger_available_now=True)
    pipe.await_all(timeout_s=120)

    time.sleep(0.01)
    write_conf("k2")
    os.utime(conf)  # ensure mtime moves even on coarse filesystems
    cfg2 = watcher.check()
    assert cfg2 is not None and cfg2.buffers["emon"].apikey == "k2"

    # append fresh frames; the restarted pipeline must deliver ONLY them
    with open(os.path.join(inp, "frames-1.txt"), "w") as f:
        f.write("13 42 43\n")
    pipe2 = restart_from_config(
        pipe, spark, cfg2, os.path.join(scratch, "ckpt"),
        poster=lambda u: (urls.append(u), "ok")[1],
    )
    pipe2.await_all(timeout_s=120)
    # availableNow pipes terminate; stop cleanly
    pipe2.stop()

    assert any("apikey=k1" in u for u in urls)
    k2_urls = [u for u in urls if "apikey=k2" in u]
    assert len(k2_urls) == 1 and "13" in k2_urls[0]


def test_parquet_sink_partitioned(spark, scratch):
    """Delivery to the columnar store target: readings appended as parquet
    partitioned by node (the 100 TB sink path alongside HTTP delivery)."""
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    inp = _write_frames(scratch, FRAMES)
    out = os.path.join(scratch, "readings")
    pipe = GatewayPipeline(
        spark,
        _gateway_config(inp),
        os.path.join(scratch, "ckpt"),
        poster=lambda u: "ok",
        parquet_sink_dir=out,
    )
    pipe.start(trigger_available_now=True)
    pipe.await_all(timeout_s=120)
    pipe.stop()

    df = spark.read.parquet(out)
    rows = {r["node"]: list(r["values"]) for r in df.collect()}
    assert rows == {10: [822.0, 1021.0, 1.0], 11: [7.5, -3.25], 12: [1.0, 2.0, 3.0]}
    # physically partitioned by node
    parts = {d for d in os.listdir(out) if d.startswith("node_part=")}
    assert parts == {"node_part=10", "node_part=11", "node_part=12"}


def test_stream_stream_join_deterministic(spark):
    """The bounded interval-join replay must be watermark-invariant: two
    full replays produce the identical row set (the batch interval join) —
    the property that earns stream_stream_join its SQL oracle."""
    from oem_gateway_spark.suite import REGISTRY

    fn = REGISTRY["stream_stream_join"].fn
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, fn(spark, sf).collect()))
    b = sorted(map(tuple, fn(spark, sf).collect()))
    assert a == b and len(a) > 0


def test_approx_distinct_error_bound(spark):
    """HLL++ at rsd=0.01: the query's own within-5%-of-exact booleans (the
    tolerance-oracle shape, VERDICT r3 #6) hold, and the exact counts match
    the exact-distinct query."""
    from oem_gateway_spark.suite import REGISTRY

    sf = "/root/testdata/sf0.01"
    rows = REGISTRY["q_approx_distinct"].fn(spark, sf).collect()
    exact = {
        r["l_returnflag"]: (r["n_parts"], r["n_supps"])
        for r in REGISTRY["q_distinct_agg"].fn(spark, sf).collect()
    }
    assert {r["l_returnflag"] for r in rows} == exact.keys()
    for r in rows:
        assert r["parts_ok"] and r["supps_ok"], r
        assert (r["exact_parts"], r["exact_supps"]) == exact[r["l_returnflag"]], r


def test_approx_percentile_error_bound(spark):
    """approx_percentile(accuracy=10000): the query's own within-2%-of-exact
    booleans (the tolerance-oracle shape, VERDICT r3 #6) hold, and the
    exact percentiles agree with an independent percentile computation."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.catalog import load_table
    from oem_gateway_spark.suite import REGISTRY

    sf = "/root/testdata/sf0.01"
    li = load_table(spark, sf, "lineitem")
    exact = {
        r["l_returnflag"]: (r["em"], r["ep"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", 0.5), 4).alias("em"),
            F.round(F.percentile("l_extendedprice", 0.99), 4).alias("ep"),
        )
        .collect()
    }
    rows = REGISTRY["u_approx_percentile"].fn(spark, sf).collect()
    assert len(rows) == len(exact)
    for r in rows:
        assert r["median_ok"] and r["p99_ok"], r
        assert (r["exact_median"], r["exact_p99"]) == exact[r["l_returnflag"]], r
