"""Streaming suite (M4): event-time windows with SQL oracles, plus
genuinely-streaming executions (Structured Streaming with availableNow)
whose results are checked against the SAME batch oracles — the unified
batch/streaming dialect made testable.

The batch/stream pairs work because Structured Streaming's model is the
unbounded-table semantics of the same query (PAPERS.md, SIGMOD 2018): a
finite replay with availableNow must produce exactly the batch answer.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oem_gateway_spark.catalog import load_table
from oem_gateway_spark.streaming import state as ST
from oem_gateway_spark.suite.registry import query, record

_SEQ = itertools.count()

TUMBLING_ORACLE = """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total
    FROM events GROUP BY 1, 2
"""

SESSION_ORACLE = """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
"""


def _source_fp(sf_dir: str, table: str = "events") -> str:
    """Fingerprint of a source table file (mtime + size), embedded in
    every MATERIALIZED scratch-dir name so a driver-side testdata
    regeneration (the r3 TIMESTAMP_NTZ incident) invalidates stale
    replicas instead of silently replaying old data.  Plain symlink dirs
    track the source automatically and don't need it.  Pass the table
    the replica is DERIVED from — fingerprinting a different table's
    file leaves stale replicas live when only the source regenerates
    (code-review r7: the MV/evolution stores derive from orders but
    fingerprinted events)."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return f"{int(st.st_mtime)}-{st.st_size}"


def atomic_export(build_fn, final_dir: str, done_name: str) -> str:
    """Build a scratch export once per content fingerprint: ``build_fn``
    fills a tmp dir, which renames into place atomically (the loser of a
    cross-process race just discards its tmp).  ``done_name`` is the
    last artifact ``build_fn`` creates — its presence marks the dir
    complete, so a partially-built dir from a crashed process is never
    trusted.  The tmp+rename protocol can't leave a partial dir at
    ``final_dir`` itself, but an OLDER writer (the pre-r8 in-place one)
    or a foreign process could have — so a rename failure is only
    trusted as "another pid won the race" if the done marker is
    actually there; otherwise the stale dir is evicted and the rename
    retried (r8 ADVICE: a silently-trusted ENOTEMPTY fed an incomplete
    replay forever)."""
    import shutil

    if os.path.exists(os.path.join(final_dir, done_name)):
        return final_dir
    tmp = f"{final_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build_fn(tmp)
    try:
        os.rename(tmp, final_dir)
    except OSError:
        if os.path.exists(os.path.join(final_dir, done_name)):
            shutil.rmtree(tmp, ignore_errors=True)  # another pid won the race
        else:
            # Stale/partial dir at final_dir that this code did not
            # complete: evict it and retry once; re-raise on failure
            # rather than trust an incomplete export.
            shutil.rmtree(final_dir, ignore_errors=True)
            os.rename(tmp, final_dir)
    return final_dir


def event_replay_batches(spark: SparkSession, sf_dir: str, tag: str, slicer):
    """Shared 4-micro-batch replay builder for the custom stateful
    twins: the user_id%50 event slice written as four single-file
    parquet batches whose mtimes pin the replay order
    (maxFilesPerTrigger=1).  ``slicer(frame) -> Column`` assigns each
    row its batch id 0..3 — ntile over event time for the IN-ORDER
    replays (stream_ewma family), ``event_id % 4`` for the
    OUT-OF-ORDER LWW replay (stream_upsert_latest).  Built once per
    (sf_dir, content fingerprint) under .scratch via atomic_export;
    extracted from the two hand-rolled copies by the r8 code review."""
    import glob
    import shutil

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 50 == 0)
        .select(
            "user_id",
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "value",
        )
    )
    safe = sf_dir.strip("/").replace("/", "_")
    split_dir = os.path.join(
        "/root/repo/.scratch", f"{tag}-{safe}-{_source_fp(sf_dir)}"
    )

    def build(tmp: str) -> None:
        sliced = ev.withColumn("_slice", slicer(ev))
        for k in range(4):
            wtmp = os.path.join(tmp, f"_w{k}")
            (
                sliced.filter(F.col("_slice") == k)
                .drop("_slice")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(wtmp)
            )
            part = glob.glob(os.path.join(wtmp, "part-*.parquet"))[0]
            dst = os.path.join(tmp, f"zz_{k}.parquet")
            shutil.move(part, dst)
            shutil.rmtree(wtmp, ignore_errors=True)
            os.utime(dst, (1_700_000_000 + 1000 * k,) * 2)

    atomic_export(build, split_dir, "zz_3.parquet")
    schema = spark.read.parquet(split_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(split_dir)
    )


def _link_events(sf_dir: str, d: str) -> None:
    """Symlink the events source into stream dir ``d``.  The testdata
    ships a single FILE; a replicated corpus (tools/scale_probe.py)
    ships a parquet DIRECTORY — whose part files must link individually,
    because the flat file-stream listing does not recurse and a single
    directory symlink silently reads as an EMPTY stream (r12 probe
    finding: the x2+ join walls measured nothing)."""
    import glob

    def _ensure(link: str, target: str) -> None:
        # Verify-then-link (r12 ADVICE): an existing entry is reused only
        # if it is a live symlink to THIS target; a dangling link (source
        # regenerated away), a link to an old layout's path, or a stray
        # real file is evicted and re-linked — stale links coexisting
        # with new ones double-read or fail the whole stream silently.
        if os.path.islink(link):
            if os.path.realpath(link) == os.path.realpath(target):
                return
            os.remove(link)
        elif os.path.exists(link):
            os.remove(link)
        os.symlink(target, link)

    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no part files under {src}")
        for i, p in enumerate(parts):
            _ensure(os.path.join(d, f"events_{i:04d}.parquet"), p)
        # a shrunk re-replication leaves higher-indexed stale links
        for extra in glob.glob(os.path.join(d, "events_*.parquet")):
            idx = int(os.path.basename(extra)[7:11])
            if idx >= len(parts):
                os.remove(extra)
        stray = os.path.join(d, "events.parquet")
        if os.path.lexists(stray):
            os.remove(stray)  # layout flipped file -> directory
    else:
        _ensure(os.path.join(d, "events.parquet"), src)
        for extra in glob.glob(os.path.join(d, "events_*.parquet")):
            os.remove(extra)  # layout flipped directory -> file


def _stream_dir(sf_dir: str) -> str:
    """Spark's file stream source wants a DIRECTORY; testdata ships single
    parquet files.  Build (once) a scratch dir symlinking the events file.
    Keyed by the source fingerprint like _stream_dir_with_sentinels (r12
    ADVICE): an in-place corpus regeneration gets a FRESH dir instead of
    reusing one whose links may be stale; _link_events additionally
    verifies reused links still resolve to the current source."""
    safe = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(
        "/root/repo/.scratch", f"stream-events-{safe}-{_source_fp(sf_dir)}"
    )
    os.makedirs(d, exist_ok=True)
    _link_events(sf_dir, d)
    return d


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream (schema from the batch reader;
    nanos column normalized exactly like the catalog does)."""
    from oem_gateway_spark.catalog import ensure_nanos_conf, normalize_event_ts

    ensure_nanos_conf(spark)  # driver may pass a bare session (VERDICT r1 #1)
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stream = spark.readStream.schema(batch.schema).parquet(_stream_dir(sf_dir))
    # Long-nanos or TIMESTAMP_NTZ ts -> TIMESTAMP, exactly like the catalog.
    return normalize_event_ts(stream)


def _run_to_table(
    result: DataFrame,
    mode: str,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink; return the materialized table.

    ``shuffle_partitions`` scopes ``spark.sql.shuffle.partitions`` to
    this one streaming query (set before start, restored after
    awaitTermination — the conf is captured into the NEW checkpoint at
    stream start, so the scope is exact).  The stateful twins replay
    kilobytes per micro-batch, but the state-store machinery costs per
    PARTITION per batch — a stream-stream join runs 4 state stores x
    partitions x batches of open/commit tasks, which at the session's
    32 partitions is the whole wall (the r8 sweep's 10 s
    threshold-straddling canary).  Results are partition-invariant;
    only the twins whose wall is state-machinery-bound pass this."""
    spark = result.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key) if shuffle_partitions is not None else None
    if shuffle_partitions is not None:
        spark.conf.set(key, str(shuffle_partitions))
    try:
        name = f"stream_result_{os.getpid()}_{next(_SEQ)}"
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # The run record's execution shape (stateful operators, batch
        # count, final watermark), so a test can pin a query's claimed
        # shape without re-deriving it from the result hash.
        record(stream=q)
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
    return spark.table(name)


# ------------------------------------------------- batch-mode window family

@query("w_tumbling", oracle=TUMBLING_ORACLE)
def w_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows per event_type — batch execution of the
    streaming operator (same plan shape: window() is epoch-aligned)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "total")
    )


@query(
    "w_sliding",
    oracle="""
    SELECT CAST(to_timestamp((epoch_ms(ts) // 1800000 - k) * 1800) AS TIMESTAMP) AS win_start,
           event_type, CAST(count(*) AS BIGINT) AS n
    FROM events, unnest([0, 1]) AS t(k)
    GROUP BY 1, 2
    """,
)
def w_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min windows: every event lands in exactly 2 windows
    (Expand); oracle enumerates both window starts arithmetically."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


@query("w_session", oracle=SESSION_ORACLE)
def w_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window (30-min gap) in batch mode; oracle = gaps-and-islands
    with end = last event + gap (Spark's session-end convention)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


# ------------------------------------------- genuinely streaming executions

@query("stream_tumbling", oracle=TUMBLING_ORACLE)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run (file source -> watermark -> tumbling
    agg -> memory sink, availableNow): must equal the batch oracle."""
    stream = _events_stream(spark, sf_dir)
    result = ST.tumbling_counts(stream)
    return _run_to_table(result, mode="complete")


@query(
    "stream_sliding",
    oracle="""
    SELECT CAST(to_timestamp((epoch_ms(ts) // 1800000 - k) * 1800) AS TIMESTAMP) AS win_start,
           event_type, CAST(count(*) AS BIGINT) AS n
    FROM events, unnest([0, 1]) AS t(k)
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming sliding windows (1h/30min, Expand + watermarked agg)
    — completes the streaming window family (tumbling/sliding/session all
    have genuinely-streaming executions vs the same batch oracles)."""
    stream = _events_stream(spark, sf_dir)
    result = ST.sliding_counts(stream)
    return _run_to_table(result, mode="complete")


@query("stream_session", oracle=SESSION_ORACLE)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming session windows (merging session state) — equals the
    gaps-and-islands oracle after the bounded replay."""
    stream = _events_stream(spark, sf_dir)
    result = ST.session_counts(stream)
    return _run_to_table(result, mode="complete")


@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
    FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming dropDuplicatesWithinWatermark: the input stream is
    UNION ALL of the source with itself (every event arrives twice);
    exactly-once survivors must equal the plain table."""
    s1 = _events_stream(spark, sf_dir)
    s2 = _events_stream(spark, sf_dir)
    doubled = s1.unionByName(s2)
    deduped = ST.dedup_within_watermark(doubled, keys=["event_id"], watermark="1 hour")
    out = deduped.select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
    )
    return _run_to_table(out, mode="append", shuffle_partitions=8)


@query(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment,
           round(e.value, 4) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming stream-static join: the event stream enriched with
    the (broadcastable) customer dimension — stateless per micro-batch, so
    the bounded replay equals the plain batch join oracle.  This is the
    gateway's node-registry enrichment pattern at scale."""
    ev = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = ev.join(
        F.broadcast(dim), ev.user_id == dim.c_custkey
    ).select(
        "event_id",
        "user_id",
        "c_name",
        "c_mktsegment",
        F.round("value", 4).alias("value"),
    )
    return _run_to_table(joined, mode="append")


@query(
    "stream_running_stats",
    oracle="""
    SELECT CAST(user_id AS INT) AS node,
           CAST(count(*) AS BIGINT) AS n_frames,
           round(sum(value), 4) AS sum_value,
           CAST(epoch_ms(max(ts)) AS BIGINT) AS last_seen_ms
    FROM events GROUP BY 1
    """,
)
def stream_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL custom stateful operator (applyInPandasWithState, update mode):
    per-node lifetime counters — frames seen, value sum, last-seen ms.
    The bounded replay is one micro-batch (single source file), so the one
    update row per node IS the lifetime total and equals the batch
    aggregate oracle.  Driver witness for the stateful family
    (streaming/state.py:90; VERDICT r3 gap #4)."""
    stream = _events_stream(spark, sf_dir)
    # timeout_minutes=None: a processing-time timeout would keep the
    # availableNow replay scheduling no-data batches forever (see
    # node_running_stats docstring).
    stats = ST.node_running_stats(
        stream, key_col="user_id", value_col="value", ts_col="ts", timeout_minutes=None
    )
    out = stats.select(
        "node",
        "n_frames",
        F.round("sum_value", 4).alias("sum_value"),
        "last_seen_ms",
    )
    return _run_to_table(out, mode="update")


@query(
    "stream_counter_deltas",
    oracle="""
    SELECT CAST(user_id AS INT) AS node, event_id,
           CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
           value,
           round(value - lag(value) OVER (PARTITION BY user_id
                 ORDER BY epoch_ms(ts), event_id), 6) AS delta
    FROM events
    """,
)
def stream_counter_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL counter-to-rate stateful operator (applyInPandasWithState,
    per-row emission): cumulative per-node readings become per-interval
    deltas — the reference's energy-meter semantics (counter_to_rate).
    First row per node emits NULL; oracle is the lag() window twin.
    Driver witness for the delta-chain stateful family (VERDICT r3 gap
    #4; the transformWithState twin stays behind the protobuf seam)."""
    stream = _events_stream(spark, sf_dir)
    prepared = stream.select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms"), "value"
    )
    out = ST.counter_deltas(
        prepared, key_col="user_id", value_col="value", timeout_minutes=None
    )
    result = out.select(
        "node", "event_id", "ts_ms", "value", F.round("delta", 6).alias("delta")
    )
    return _run_to_table(result, mode="update")


@query(
    "stream_incremental_rollup",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
           user_id AS node,
           CAST(count(*) AS BIGINT) AS n_frames,
           round(sum(value), 4) AS sum_v0,
           round(min(value), 4) AS min_v0,
           round(max(value), 4) AS max_v0
    FROM events GROUP BY 1, 2
    """,
)
def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL continuous aggregation (streaming/rollup.py::IncrementalRollup):
    events replayed as FOUR micro-batches (maxFilesPerTrigger=1 over a
    4-file split) through the foreachBatch partial-aggregate MERGE; the
    final rollup store must equal the one-shot batch aggregate — the
    decomposable-merge invariant (count/sum/min/max), driver-witnessed
    across a genuine multi-batch run (not a single-batch replay).
    Driver row for the continuous-aggregation family (VERDICT r3:
    'streaming: continuous aggregation' was pytest-only)."""
    import glob
    import shutil
    import time
    import uuid

    from oem_gateway_spark.streaming.rollup import IncrementalRollup

    # The store must outlive this call (the returned DataFrame reads it
    # lazily), so each run leaks one store dir.  GC is scoped to dirs
    # whose OWNER PROCESS IS DEAD (each run drops an owner-PID marker
    # next to its store) — pure mtime age could delete a store a long
    # concurrent session (sweep/bench >1 h) still lazily references.
    # Ownerless dirs (pre-marker legacy) keep the old 1-hour age rule.
    from oem_gateway_spark.streaming.rollup import _pid_alive

    cutoff = time.time() - 3600
    for old_dir in glob.glob("/root/repo/.scratch/rollup-store-*") + glob.glob(
        "/root/repo/.scratch/rollup-ckpt-*"
    ):
        if old_dir.endswith(".owner"):
            # orphan marker whose dir is already gone: clean it up here
            # (the glob matches markers too; rmtree on one is a no-op).
            # Only past a 60 s grace — a concurrent run writes its marker
            # and creates the dir in two steps, and reaping the marker in
            # that window would demote the LIVE run to the mtime rule
            # (r5 ADVICE; the dirs are now made first, the grace is a
            # second belt for pre-fix writers).
            if not os.path.isdir(old_dir[: -len(".owner")]):
                try:
                    if os.path.getmtime(old_dir) < time.time() - 60:
                        os.remove(old_dir)
                except OSError:
                    pass
            continue
        owner_file = old_dir + ".owner"
        try:
            if os.path.exists(owner_file):
                try:
                    with open(owner_file) as f:
                        owner_pid = int(f.read().strip() or "0")
                except ValueError:
                    # Corrupt marker: a PARTIAL write reads corrupt for
                    # only milliseconds, so give the same 60 s grace
                    # before treating the run as dead (then don't let it
                    # pin the dir forever).
                    if os.path.getmtime(owner_file) > time.time() - 60:
                        continue
                    owner_pid = 0
                if owner_pid and _pid_alive(owner_pid):
                    continue  # owner still running: store may be referenced
                shutil.rmtree(old_dir, ignore_errors=True)
                os.remove(owner_file)
            elif os.path.getmtime(old_dir) < cutoff:
                shutil.rmtree(old_dir, ignore_errors=True)
        except OSError:
            pass

    safe = sf_dir.strip("/").replace("/", "_")
    split_dir = os.path.join(
        "/root/repo/.scratch", f"rollup-events-{safe}-{_source_fp(sf_dir)}"
    )
    if not os.path.exists(os.path.join(split_dir, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events")
        # Frame schema the rollup aggregates over: node / values / ingest_ts.
        prepared = ev.select(
            F.col("user_id").alias("node"),
            F.array("value").alias("values"),
            F.col("ts").alias("ingest_ts"),
        )
        prepared.repartition(4).write.mode("overwrite").parquet(split_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    run_id = uuid.uuid4().hex
    store = os.path.join("/root/repo/.scratch", f"rollup-store-{run_id}")
    ckpt = os.path.join("/root/repo/.scratch", f"rollup-ckpt-{run_id}")
    # Owner-PID markers scope the GC above: while this process lives,
    # no other session may reap this run's store/checkpoint.  Create the
    # dirs FIRST so a concurrent GC never sees a marker without its dir
    # (it would reap the marker as an orphan and demote this live run to
    # the mtime rule — r5 ADVICE).
    for owned in (store, ckpt):
        os.makedirs(owned, exist_ok=True)
        with open(owned + ".owner", "w") as f:
            f.write(str(os.getpid()))
    rollup = IncrementalRollup(store_dir=store, window="1 hour")
    q = (
        stream.writeStream.foreachBatch(rollup.process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    record(stream=q)
    rollup.release_lease()
    shutil.rmtree(ckpt, ignore_errors=True)
    result = rollup.read_store(spark)
    return result.select(
        "win_start",
        "node",
        "n_frames",
        F.round("sum_v0", 4).alias("sum_v0"),
        F.round("min_v0", 4).alias("min_v0"),
        F.round("max_v0", 4).alias("max_v0"),
    )


def _purchase_click_sides(spark: SparkSession, sf_dir: str, sentinels: bool):
    """The stream-stream join family's shared builder (r12 review: four
    hand-rolled copies of the same projections drifted one fix away from
    desynchronizing a twin from its oracle): watermarked purchase/click
    sides over either the plain bounded replay (inner/semi — matches
    emit the batch they arrive, no sentinel needed) or the
    sentinel-augmented replay (outer joins — far-future events on both
    sides advance the global watermark so the closing batch flushes
    every pending outer row; see _stream_dir_with_sentinels)."""
    from oem_gateway_spark.catalog import ensure_nanos_conf, normalize_event_ts

    ensure_nanos_conf(spark)
    if sentinels:
        d = _stream_dir_with_sentinels(spark, sf_dir)
        batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))

        def src() -> DataFrame:
            s = (
                spark.readStream.schema(batch.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )
            return normalize_event_ts(s)

    else:
        def src() -> DataFrame:
            return _events_stream(spark, sf_dir)

    left = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    right = (
        src()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return left, right


def _interval_match(hours: int):
    """purchase<-click interval condition shared by the join family."""
    return (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {hours} HOUR"))
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream interval join: purchases joined to the same
    user's clicks within the following hour, both sides watermarked.

    Oracle-checkable (r2): the bounded replay is ONE micro-batch (single
    source file, availableNow), and an INNER interval join emits each match
    the batch it arrives — watermarks only evict state for batches that
    never come — so the emitted set is exactly the batch interval join,
    watermark-invariant.  Pinned by test_stream_stream_join_deterministic."""
    left, right = _purchase_click_sides(spark, sf_dir, sentinels=False)
    joined = left.join(right, _interval_match(1)).select(
        "user_id", "purchase_id", "click_id"
    )
    return _run_to_table(joined, mode="append", shuffle_partitions=8)


@query(
    "stream_stream_left_semi_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    WHERE EXISTS (
      SELECT 1 FROM (SELECT * FROM events WHERE event_type = 'click') c
      WHERE c.user_id = p.user_id
        AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 24 HOUR
    )
    """,
)
def stream_stream_left_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream LEFT SEMI interval join: each purchase emits AT
    MOST ONCE — on its first matching click within the following DAY (24 h —
    wide enough that multi-match purchases exist at every test SF, so
    the at-most-once contract is non-vacuous) — with no click columns.
    A genuinely different emission/state contract from the inner twin
    (which emits PER MATCH and must keep a matched left row buffered
    for further matches): semi marks the left row done on first match,
    so a duplicate emission (inner semantics leaking through) or a
    dropped purchase with a real match both drift the hash vs the
    batch EXISTS oracle.  Same single-batch bounded replay as the
    inner twin: matches emit the batch they arrive, watermarks only
    evict state for batches that never come, so the emitted set is
    watermark-invariant.

    Scale: semi state is STRICTLY SMALLER than inner — a matched left
    row needs no further buffering — one shuffle of each stream on
    user_id, same as the family."""
    left, right = _purchase_click_sides(spark, sf_dir, sentinels=False)
    joined = left.join(right, _interval_match(24), "left_semi").select(
        "user_id", "purchase_id"
    )
    return _run_to_table(joined, mode="append", shuffle_partitions=8)


def _stream_dir_with_sentinels(spark: SparkSession, sf_dir: str) -> str:
    """Like :func:`_stream_dir`, plus one far-future sentinel event per
    join side (user_id = -1, ts = max(ts) + 30 days, written AFTER the
    symlink so the file source replays it in a later batch under
    maxFilesPerTrigger=1).  Outer-join null rows only emit once the
    GLOBAL watermark (the min across both sides' watermark nodes) passes
    a row's join-window end — the sentinels push both sides' event-time
    past everything real, so the closing no-data batch flushes every
    pending outer row deterministically.  This is the bounded-replay
    equivalent of a live stream's steady event flow; sentinel rows are
    filtered from the result by user_id."""
    import glob
    import shutil

    safe = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(
        "/root/repo/.scratch",
        f"stream-events-sentinel-{safe}-{_source_fp(sf_dir)}",
    )
    if os.path.exists(os.path.join(d, "zz_sentinel.parquet")):
        return d
    os.makedirs(d, exist_ok=True)
    _link_events(sf_dir, d)
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    sent = (
        batch.select(F.max("ts").alias("mx"))
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mx") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.explode(F.array(F.lit("purchase"), F.lit("click"))).alias(
                "event_type"
            ),
            F.lit(0.0).alias("value"),
            F.lit("").alias("props"),
        )
        .select(*[f.name for f in batch.schema.fields])
    )
    tmp = d + ".tmp"
    sent.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(d, "zz_sentinel.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)
    return d


@query(
    "stream_stream_left_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream LEFT OUTER interval join: every purchase emits,
    with NULL click_id when no same-user click follows within the hour.
    Unlike the inner join (match rows emit as they arrive), the OUTER
    rows can only emit when the watermark proves no matching click can
    still arrive — the state-eviction semantics the inner twin never
    exercises.  Far-future sentinel events on both sides advance the
    global watermark past all real data so the bounded replay flushes
    every pending outer row (see _stream_dir_with_sentinels); the
    result then equals the batch LEFT JOIN oracle exactly.

    Scale: state is bounded by (watermark delay + join window) per
    side; the join shuffles both streams on user_id once."""
    left, right = _purchase_click_sides(spark, sf_dir, sentinels=True)
    joined = left.join(right, _interval_match(1), "left_outer").select(
        "user_id", "purchase_id", "click_id"
    )
    table = _run_to_table(joined, mode="append", shuffle_partitions=8)
    return table.filter(F.col("user_id") >= 0)


FULL_OUTER_JOIN_ORACLE = """
    SELECT COALESCE(p.user_id, c.user_id) AS user_id,
           p.event_id AS purchase_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
"""


@query("stream_stream_full_outer_join", oracle=FULL_OUTER_JOIN_ORACLE)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream FULL OUTER interval join: every purchase emits
    (NULL click_id when no same-user click follows within the hour) AND
    every unmatched click emits (NULL purchase_id) — BOTH sides' state
    must null-emit at watermark close.  This is a genuinely different
    eviction shape from the left-outer twin: there only the LEFT
    buffer's evictions produce rows, so a right-side eviction bug is
    invisible; here a click evicted without its null-emission LOSES a
    row and a double-emission DOUBLES one — either drifts the hash vs
    the batch FULL JOIN oracle.  Same sentinel machinery as the left
    twin (_stream_dir_with_sentinels): far-future events on both sides
    push the global watermark past all real data so the closing
    no-data batch flushes BOTH buffers; sentinels filter out by the
    coalesced user key.

    Scale: state is bounded by (watermark delay + join window) per
    side, symmetric — the full-outer shape adds no extra state over
    inner, only the null-emission pass at eviction; one shuffle of each
    stream on user_id."""
    left, right = _purchase_click_sides(spark, sf_dir, sentinels=True)
    joined = left.join(right, _interval_match(1), "full_outer").select(
        F.coalesce(F.col("user_id"), F.col("r_user")).alias("user_id"),
        "purchase_id",
        "click_id",
    )
    table = _run_to_table(joined, mode="append", shuffle_partitions=8)
    return table.filter(F.col("user_id") >= 0)


@query(
    "stream_locf",
    oracle="""
    WITH gapped AS (
      SELECT CAST(user_id AS INT) AS node, event_id,
             CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      FROM events WHERE user_id % 100 = 0
    )
    SELECT node, event_id, ts_ms,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY node ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled
    FROM gapped
    """,
)
def stream_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful forward fill (applyInPandasWithState): the gapped
    telemetry stream replays as FOUR time-ordered micro-batches
    (maxFilesPerTrigger=1 over a time-sliced split, file mtimes forcing
    batch order), so gaps at a batch head must repair from state carried
    over the batch boundary — the cross-batch semantics the batch twin
    (q_locf_fill) cannot exercise.  Equals the one-shot window oracle."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 100 == 0)
        .select(
            "user_id",
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            F.when(F.col("event_id") % 7 == 0, F.lit(None))
            .otherwise(F.col("value"))
            .alias("value"),
        )
    )
    safe = sf_dir.strip("/").replace("/", "_")
    split_dir = os.path.join(
        "/root/repo/.scratch", f"locf-events-{safe}-{_source_fp(sf_dir)}"
    )
    if not os.path.exists(os.path.join(split_dir, "zz_3.parquet")):
        import glob
        import shutil

        from pyspark.sql.window import Window

        os.makedirs(split_dir, exist_ok=True)
        # 4 contiguous time slices (global row_number is test-prep only —
        # the operator itself never sorts globally); written sequentially
        # with bumped mtimes so the file source replays them in time order.
        w = Window.orderBy("ts_ms", "event_id")
        sliced = ev.withColumn("_slice", F.ntile(4).over(w) - 1)
        for k in range(4):
            tmp = split_dir + f".tmp{k}"
            (
                sliced.filter(F.col("_slice") == k)
                .drop("_slice")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(split_dir, f"zz_{k}.parquet")
            shutil.move(part, dst)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dst, (1_700_000_000 + 1000 * k,) * 2)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(split_dir)
    )
    out = ST.locf_fill(
        stream,
        key_col="user_id",
        value_col="value",
        ts_ms_col="ts_ms",
        id_col="event_id",
        timeout_minutes=None,
    )
    result = out.select(
        "node", "event_id", "ts_ms", F.round("filled", 4).alias("filled")
    )
    return _run_to_table(result, mode="update", shuffle_partitions=8)


@query(
    "stream_join_then_window",
    oracle="""
    SELECT CAST(date_trunc('day', p.ts) AS TIMESTAMP) AS win_start,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
           CAST(sum(c.event_id) AS BIGINT) AS sum_click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 24 HOUR
    GROUP BY 1
    """,
)
def stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in ONE streaming query: a stream-stream
    interval join whose output feeds a downstream event-time tumbling
    aggregation — purchases joined to the same user's clicks within the
    following DAY (24 h, like the semi twin — wide enough that
    multi-click purchases exist at every test SF), then matches rolled
    up per purchase-day window.  Spark 4 supports multiple stateful
    operators in one pipeline when event time flows through them (the
    join's p_ts stays an event-time column on the join output, so the
    day window binds to it); no prior suite query chains two stateful
    operators (r12 VERDICT #6c — the join twins end at the join, the
    window twins start at a source).

    Correctness shape: the join emits matches as they arrive (inner
    semantics), but the WINDOW rows only emit when the watermark —
    propagated THROUGH the join with its 24 h interval delay — passes
    each window's end.  The far-future sentinels on both sides push the
    global watermark past every real day window on the closing batch,
    so append mode flushes them all.  A window that closes early
    (watermark propagated without the join delay) loses the join's
    late-emitted matches; one that never closes emits nothing — either
    drifts the hash vs the batch join+GROUP BY oracle.

    PUSHDOWN TRAP (measured r13, the round's second shape finding): the
    sentinel filter must NOT sit inside the streaming plan.  A
    mid-stream ``filter(user_id >= 0)`` between join and agg is pushed
    by Catalyst through the watermark nodes INTO both parquet scans
    (predicate pushdown does not stop at EventTimeWatermark), so the
    sentinel rows are filtered AT THE SOURCE, the watermark never
    advances past the real data, and the last open window per side is
    silently never emitted (observed: sources read the sentinel file
    with numInputRows=0 and the final no-data batch never fires).
    Sentinels are instead excluded AFTER materialization, like the
    outer-join twins; their own far-future window never closes inside
    the replay, so it cannot leak a row either way.

    Shape note (a MEASURED r13 rejection): streaming aggregation cannot
    express count(DISTINCT user), and a THIRD chained stateful agg —
    (window, user) pre-agg feeding a window rollup — loses exactly the
    last open window per run: the middle agg emits a closed window W
    only once the watermark passes W.end, and by then the downstream
    agg's late-record filter is already past W.end, so whichever window
    closes in the final no-data batch never reaches the outer agg
    (observed at sf0.001/sf0.01: 24/25 and 28/30 windows).  The stream
    therefore keys its ONE stateful aggregation by (window, user) and a
    plain BATCH groupBy over the materialized bounded result collapses
    users per window — the chained witness (join -> windowed agg) stays
    intact, and the distinct moves to where it is exact and cheap.

    Scale: join state bounded by watermark + 24 h interval per side
    (one shuffle of each stream on user_id); the single downstream agg
    shuffles once on the window key with map-side partial aggregation.
    At 100 TB the chain runs as one checkpointed query: no intermediate
    table, no re-read of the join output."""
    left, right = _purchase_click_sides(spark, sf_dir, sentinels=True)
    matches = left.join(right, _interval_match(24))
    per_user = (
        matches.groupBy(
            F.window("p_ts", "1 day").alias("win"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_m"),
            F.sum("click_id").alias("sum_c"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "user_id",
            "n_m",
            "sum_c",
        )
    )
    table = _run_to_table(per_user, mode="append", shuffle_partitions=8)
    return (
        table.filter(F.col("user_id") >= 0)  # see PUSHDOWN TRAP above
        .groupBy("win_start")
        .agg(
            F.sum("n_m").alias("n_matches"),
            F.count("*").alias("n_users"),
            F.sum("sum_c").alias("sum_click_id"),
        )
    )


@query(
    "stream_window_then_window",
    oracle="""
    WITH half_hours AS (
      SELECT CAST(to_timestamp((epoch_ms(ts) // 1800000) * 1800)
               AS TIMESTAMP) AS hh,
             event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(to_timestamp((epoch_ms(hh) // 7200000) * 7200) AS TIMESTAMP)
             AS win_start,
           event_type,
           CAST(sum(c) AS BIGINT) AS n,
           CAST(max(c) AS BIGINT) AS peak_half_hour
    FROM half_hours GROUP BY 1, 2
    """,
)
def stream_window_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED event-time aggregations in ONE streaming query — the
    documented Spark 3.4+/4 multi-agg pipeline: a 30-minute tumbling
    pre-aggregation re-windowed into 2-hour buckets via
    ``window(window_time(window), '2 hours')``.  window_time() is the
    event-time handle on an aggregated window column (end - 1ms), which
    is what lets the SECOND aggregation treat the first's output as an
    event-time stream; a plain groupBy on the window struct does not
    re-establish event time and cannot chain.

    Distinct from stream_join_then_window on both axes: the upstream
    stateful operator is an AGGREGATION (not a join — no interval delay
    in the watermark propagation), and the downstream rollup computes
    ``peak_half_hour`` = max over the inner windows' counts — a
    statistic a single-level streaming agg CANNOT express (max-of-
    count-per-subwindow requires the materialized inner counts), so the
    two-level structure is witnessed by value, not just by plan.  The
    far-future sentinels advance the watermark through BOTH aggs on the
    closing batches so every real 2-hour window flushes in append mode;
    sentinel rows land in their own far-future windows, which never
    close inside the replay and therefore never emit (no post-filter
    needed — pinned by the run record's n_batches/operator digest).

    Scale: both aggs partial-aggregate map-side; state is (windows x
    event types) rows per level — time-bounded by the watermark, so
    long-lived state never accumulates.  At 100 TB this is the standard
    rollup-cascade shape (raw -> 30 min -> 2 h) executed as one
    checkpointed query instead of three jobs re-reading each other's
    output."""
    d = _stream_dir_with_sentinels(spark, sf_dir)
    from oem_gateway_spark.catalog import ensure_nanos_conf, normalize_event_ts

    ensure_nanos_conf(spark)
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stream = normalize_event_ts(
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    ).withWatermark("ts", "2 hours")
    inner = stream.groupBy(
        F.window("ts", "30 minutes").alias("win30"),
        F.col("event_type"),
    ).agg(F.count("*").alias("c"))
    outer = (
        inner.groupBy(
            F.window(F.window_time("win30"), "2 hours").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.sum("c").alias("n"),
            F.max("c").alias("peak_half_hour"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "peak_half_hour",
        )
    )
    table = _run_to_table(outer, mode="append", shuffle_partitions=8)
    # Sentinel windows never close inside the replay (watermark stops
    # 2 h short of them), so no row filter is needed; the belt-and-braces
    # guard is keyed off the sentinel GEOMETRY (r13 self-review: the
    # original '2025-01-01' calendar cutoff sat AFTER the max(ts)+30d
    # sentinels and could never exclude them): real windows start at or
    # before the real max event time, sentinel windows strictly after.
    max_real_ts = (
        load_table(spark, sf_dir, "events")
        .agg(F.max("ts").alias("mx"))
        .collect()[0]["mx"]
    )
    return table.filter(F.col("win_start") <= F.lit(max_real_ts))


@query(
    "stream_dedup_then_window",
    oracle="""
    SELECT CAST(to_timestamp((epoch_ms(ts) // 3600000) * 3600) AS TIMESTAMP)
             AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED dedup -> windowed aggregation in ONE streaming query — the
    third multi-stateful-operator combination (after join->window and
    window->window): every event arrives TWICE (the stream unioned with
    itself), dropDuplicatesWithinWatermark restores exactly-once, and
    the survivors feed an event-time tumbling count/sum in append mode.
    The agg makes double-delivery VISIBLE if dedup under-evicts or
    over-evicts — every window's count would be exactly 2x (or short) —
    so the hash-equality against the plain-table oracle witnesses the
    dedup boundary, not just row survival (stream_dedup's row-level
    twin witnesses survivors; this one witnesses the chain).

    Why this chain is THE ingest front door at 100 TB: at-least-once
    transports (Kafka redeliveries, the gateway's B5 HTTP retry path)
    duplicate under failure, and the first stateful stage downstream is
    almost always a windowed rollup — fusing dedup state (key x
    watermark-bounded) and window state (windows x keys, closed by the
    same watermark) into one checkpointed query avoids an intermediate
    topic/table and a second job's re-read.  State on both levels is
    time-bounded; RocksDB + changelog applies as witnessed on the
    upsert/full-outer families.  Far-future sentinels advance the
    watermark through BOTH operators on the closing batches (the
    sentinel pair shares event_id=-1, so dedup keeps one — irrelevant:
    sentinel windows never close inside the replay and thus never
    emit; the post-filter is belt-and-braces)."""
    d = _stream_dir_with_sentinels(spark, sf_dir)
    from oem_gateway_spark.catalog import ensure_nanos_conf, normalize_event_ts

    ensure_nanos_conf(spark)
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))

    def leg() -> DataFrame:
        return normalize_event_ts(
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    # The bounded-state dedup contract lives in ONE place
    # (ST.dedup_within_watermark, shared with stream_dedup) — it applies
    # the watermark after the union, which for identical legs equals
    # per-leg watermarking (min of equal watermarks).
    deduped = ST.dedup_within_watermark(
        leg().unionByName(leg()), keys=["event_id"], watermark="2 hours"
    )
    agg = (
        deduped.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    table = _run_to_table(agg, mode="append", shuffle_partitions=8)
    # Sentinel guard keyed off the sentinel GEOMETRY, not a calendar
    # date (r13 self-review: sentinels sit at max(ts)+30d — a fixed
    # '2025-01-01' cutoff never excludes them): real windows start at or
    # before the real max event time, sentinel windows strictly after.
    max_real_ts = (
        load_table(spark, sf_dir, "events")
        .agg(F.max("ts").alias("mx"))
        .collect()[0]["mx"]
    )
    return table.filter(F.col("win_start") <= F.lit(max_real_ts))


@query(
    "stream_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
             AS n_clicks,
           CAST(count(*) FILTER (WHERE value > 100) AS BIGINT) AS n_high,
           round(sum(value), 4) AS sum_value,
           CAST(epoch_ms(min(ts)) AS BIGINT) AS min_ts_ms,
           CAST(epoch_ms(max(ts)) AS BIGINT) AS max_ts_ms
    FROM events
    """,
)
def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-FLIGHT OBSERVED METRICS (`Dataset.observe`): the stream carries
    an observation node — row count, click count, high-value count,
    value sum, ts min/max — whose per-micro-batch values surface in the
    StreamingQueryProgress WITHOUT a second scan or a separate
    aggregation query; the entry folds the per-batch observations
    (counts/sums add, min/max combine) and returns the lifetime totals,
    which must hash-equal the oracle's one-pass batch aggregate.

    New engine surface: the OBSERVABILITY channel (C6 upgraded from
    logs to data).  Every other metric in the suite is either a query
    RESULT or a pytest-read progress field; observe() is the production
    contract for ingest-quality monitoring at 100 TB — the metrics ride
    the existing pass (column pruning unaffected, one extra partial
    aggregate), land on the driver per batch, and feed
    alerting/admission decisions while the pipeline runs.  The fold
    proving totals == batch aggregate is exactly the associativity
    contract that makes per-batch observation trustworthy (a metric
    that can't fold isn't a monitoring metric).  ts bounds observed as
    unix_millis (bigint — no tz round-trip); sum rounded 4 after the
    fold (house float discipline)."""
    stream = _events_stream(spark, sf_dir)
    observed = stream.observe(
        "ingest_quality",
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
        F.count(F.when(F.col("value") > 100, 1)).alias("n_high"),
        F.sum("value").alias("sum_value"),
        F.min(F.unix_millis("ts")).alias("min_ts_ms"),
        F.max(F.unix_millis("ts")).alias("max_ts_ms"),
    )
    # noop sink: only the observation side-channel is consumed — a memory
    # sink would materialize the whole pass-through relation into driver
    # memory for nothing (r13 self-review finding).  recentProgress is
    # capped at spark.sql.streaming.numRecentProgressUpdates (default
    # 100): scope a bump so a >100-micro-batch replay (replicated
    # corpora under maxFilesPerTrigger) cannot silently drop early
    # batches from the fold.
    spark_ = observed.sparkSession
    key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark_.conf.get(key)
    spark_.conf.set(key, "10000")
    try:
        q = (
            observed.writeStream.format("noop")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        obs = [
            p["observedMetrics"]["ingest_quality"]
            for p in (q.recentProgress or [])
            if (p.get("observedMetrics") or {}).get("ingest_quality")
        ]
    finally:
        spark_.conf.set(key, prev)
    record(stream=q, observe_rows=obs)
    total = {
        "n_rows": sum(m["n_rows"] for m in obs),
        "n_clicks": sum(m["n_clicks"] for m in obs),
        "n_high": sum(m["n_high"] for m in obs),
        "sum_value": round(sum(m["sum_value"] for m in obs), 4),
        "min_ts_ms": min(m["min_ts_ms"] for m in obs),
        "max_ts_ms": max(m["max_ts_ms"] for m in obs),
    }
    return spark.createDataFrame(
        [total],
        schema=(
            "n_rows bigint, n_clicks bigint, n_high bigint, "
            "sum_value double, min_ts_ms bigint, max_ts_ms bigint"
        ),
    ).select("n_rows", "n_clicks", "n_high", "sum_value", "min_ts_ms", "max_ts_ms")


@query(
    "w_session_dynamic",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS t,
             CASE WHEN event_type = 'purchase' THEN 1800000
                  ELSE 600000 END AS gap_ms
      FROM events),
    m AS (
      SELECT *,
             MAX(t + gap_ms) OVER (
               PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM e),
    isl AS (
      SELECT *,
             SUM(CASE WHEN prev_end IS NULL OR t >= prev_end
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY t
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id,
           CAST(MIN(t) AS BIGINT) AS session_start_ms,
           CAST(MAX(t + gap_ms) AS BIGINT) AS session_end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM isl GROUP BY user_id, sid
    """,
)
def w_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP session windows: the gap is a PER-EVENT expression —
    a purchase holds its session open 30 minutes, anything else 10 —
    so one session can mix hold times and its end is max(ts + gap)
    over the merged members, not last-event + constant.

    New engine surface: session_window's COLUMN-gap form.  w_session /
    stream_session witness the constant-gap merge; real behavioral
    sessionization wants event-type-dependent holds (a checkout keeps
    the visit alive longer than a scroll), which changes BOTH merge
    decisions (an event lands inside a purchase's long tail that a
    10-min tail would have closed) and the emitted end timestamp.  The
    oracle derives the same semantics from first principles as
    gaps-and-islands with a RUNNING MAX of (ts + gap) — a new session
    starts exactly when an event's time reaches the furthest end any
    earlier event held open (end-exclusive, matching Spark's window
    convention), which also documents the operator's meaning
    independently of the engine.  Tie-times are order-safe (a
    same-timestamp pair lands in one island either way, gap > 0).
    Outputs as epoch ms (no tz round-trip); counts and min/max only.
    Scale: same shuffle-on-user_id merge as constant-gap sessions;
    state in the streaming twin stays watermark-bounded."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("win.start").alias("session_start_ms"),
            F.unix_millis("win.end").alias("session_end_ms"),
            "n_events",
        )
    )
