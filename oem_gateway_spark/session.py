"""SparkSession factory with defaults chosen for both local testing and
large-cluster execution.

Scale notes (100 TB design):
  - AQE on everywhere: runtime shuffle-partition coalescing, skew-join
    splitting, and dynamic broadcast conversion replace hand-tuned
    ``spark.sql.shuffle.partitions`` at every scale factor.
  - ``spark.sql.shuffle.partitions`` is only the *upper bound* pre-AQE; on a
    real cluster set it ~2-3x total cores (e.g. 8000 for 1000 executors x 4
    cores) and let AQE coalesce down.  Locally it is the usable CPUs,
    like the master's ``local[N]``.
  - Arrow enabled so any pandas_udf / mapInPandas path is batch-vectorized.
  - Session timezone pinned to UTC so timestamp semantics match the DuckDB
    oracle and are cluster-node independent.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession


def _cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # 128 MB input splits: the parquet-scan parallelism knob at scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Dims up to 64 MB broadcast (region/nation/part/registry tables are tiny;
    # at 100 TB the fact side never broadcasts, the dim side always should).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # Python DataSource pushFilters (4.1): without this, ANY scan of a
    # reader that implements pushFilters raises
    # DATA_SOURCE_PUSHDOWN_DISABLED at planning — so the engine default
    # is on, asserted per-query like every other runtime conf.  The
    # shared-relation hazard it opens (one load() referenced twice in a
    # plan with different pushable filters cross-contaminates) is
    # documented in sources/framelog_source.py and pinned in tests.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Runtime bloom-filter join pruning on (Spark default); the app-side
    # scan threshold is listed so ensure_runtime_conf RESETS it after
    # q_bloom_prune lowers it to witness the injection at test scale —
    # at 100 TB the 10GB default triggers on any real fact scan.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
    # CBO off (Spark default); listed so ensure_runtime_conf RESETS both
    # after q_cbo_join_reorder enables them to witness stats-driven join
    # reordering — same leak-until-next-build discipline as the bloom
    # threshold above.
    "spark.sql.cbo.enabled": "false",
    "spark.sql.cbo.joinReorder.enabled": "false",
    # events.parquet stores TIMESTAMP(NANOS); Spark's reader has no nanos
    # type — read as long and let the catalog convert to a µs timestamp
    # (values are exact µs, verified; DuckDB agrees bit-for-bit).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": _cpus(),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.streaming.schemaInference": "false",
    # Spark 4.1 writes a sidecar checksum file for EVERY streaming
    # checkpoint file (offsets, commits, state deltas/changelogs) —
    # doubling the small-file count every micro-batch commit.  The
    # integrity it adds is redundant at every deployment tier this
    # engine targets: HDFS block checksums / S3 object integrity cover
    # durable checkpoints, and local-mode temp checkpoints live in RAM
    # (tmpfs).  Interleaved A/B at sf0.1 (r14, guide §5/§6 small-file
    # cost): stream_stream_full_outer_join 1.44x, stream_state_reader_
    # rocksdb 1.43x, stream_upsert_resume 1.37x, stream_join_then_window
    # 1.14x median speedup.  Not in RUNTIME_CONF_KEYS, so a session that
    # sets it to true (checkpoint storage with no integrity layer) keeps it.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    # Every checkpoint write (each query's offset and commit logs, the
    # file sink's _spark_metadata log, HDFS state-store deltas and
    # snapshots, RocksDB changelogs and zips) goes through this manager.
    # Without libhadoop (pip's pyspark ships none) NativeIO is absent,
    # and Hadoop's local file system runs `chmod` and `stat` as child
    # processes.  Spark's default, the FileContext-based manager, pays
    # that many times per write.  One atomic checkpoint write on a
    # 4-core host: FileContext 30.9 ms and 20 child processes,
    # FileSystem 7.4 ms and 4; a Python write and rename 0.04 ms.  In
    # traced gateway_live runs, walCommit p50 fell 28 -> 8 ms and
    # commitOffsets 35.5 -> 11 ms.  createAtomic still writes a temp file
    # and renames it, which is atomic on local POSIX and on HDFS, and
    # without overwrite it refuses to replace an existing file.  Not in
    # RUNTIME_CONF_KEYS, so a session that picks another manager (the
    # FileContext one for an object store, say) keeps its choice.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # WITH RECURSIVE safety valve: Spark caps total rows emitted across
    # recursion at 1M by default, which a modest hierarchy exceeds
    # (sum over levels ~ nodes x avg depth; the r9 x8 scale probe hit
    # it at 160k nodes x depth ~9).  100M keeps the runaway guard while
    # letting real hierarchies resolve; hierarchies too big for ANY row
    # limit belong on the pointer-doubling path (q_hierarchy_resolve),
    # which has no such cap.  Level limit stays at Spark's 100.
    "spark.sql.cteRecursionRowLimit": str(100_000_000),
}


# Subset of DEFAULT_CONF that is runtime-settable AND matters for
# correctness (timeZone: timestamp semantics vs the DuckDB oracle;
# nanosAsLong: events.parquet readability) or performance (Arrow, AQE,
# shuffle-partition ceiling, broadcast threshold).  Asserted per-query via
# ensure_runtime_conf so results don't depend on who built the session —
# the correctness driver hands queries a bare SparkSession (VERDICT r1).
RUNTIME_CONF_KEYS: tuple[str, ...] = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.parquet.filterPushdown",
    "spark.sql.python.filterPushdown.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    "spark.sql.cbo.enabled",
    "spark.sql.cbo.joinReorder.enabled",
    "spark.sql.cteRecursionRowLimit",
)


def _set_conf(spark: SparkSession, key: str, value: str) -> None:
    """``spark.conf.set`` that skips only a conf fixed at JVM or session
    start; any other error (a bad value, say) is raised."""
    try:
        spark.conf.set(key, value)
    except PySparkException as e:
        if e.getCondition() not in ("CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG"):
            raise


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Assert the runtime-settable engine conf on an arbitrary session."""
    for k in RUNTIME_CONF_KEYS:
        _set_conf(spark, k, DEFAULT_CONF[k])
    return spark


def _fast_tmp_base() -> tuple[str, bool] | None:
    """tmpfs scratch for LOCAL-mode JVM temp dirs: (base, route_shuffle).

    Structured Streaming's TEMP checkpoints (memory-sink twins, tests)
    and shuffle/spill scratch default to java.io.tmpdir / spark.local.dir
    on disk; on this multi-tenant host their fsync latency is the
    measured canary that inflates every streaming wall under ambient
    I/O storms (SCALE.md protocol; r7 measured stream_session_assign
    9.6 -> 4.5 s and stream_stream_left_join 14.2 -> 9.4 s by moving
    them to /dev/shm).  Local mode only — durable checkpoints (the
    pipeline's explicit checkpointLocation paths) are untouched, and a
    real cluster puts checkpoints on HDFS/S3, not here.

    TIERED free-space guard (r7 ADVICE: tmpfs IS RAM, and the check runs
    once at session creation — a shuffle-heavy job can still fill it
    mid-run with ENOSPC task failures and pressure on other tenants):
    temp checkpoints are kilobytes-per-batch, but spark.local.dir holds
    every live shuffle's map outputs + spills, which scale with the data.
    So shuffle is routed to tmpfs only with >= 16 GiB free (~40x the
    largest sf0.1 shuffle footprint we measure); temp checkpoints alone
    need >= 8 GiB.  Below that everything stays on disk.  The failure
    mode when the bound is still exceeded is a LOUD FileNotFoundException
    / 'No space left on device' task failure with retries — never silent
    corruption (documented in SCALE.md §"tmpfs scratch").  Disable with
    SPARK_GRAFT_FAST_TMP=0.  Crash leftovers are RAM-bounded tmpfs
    (normal exits clean via Spark's shutdown hooks)."""
    if os.environ.get("SPARK_GRAFT_FAST_TMP", "1") == "0":
        return None
    base = "/dev/shm/spark-graft-tmp"
    try:
        os.makedirs(base, exist_ok=True)
        st = os.statvfs(base)
        free = st.f_bavail * st.f_frsize
        if free >= 8 << 30:
            return base, free >= 16 << 30
    except OSError:
        return None
    return None


def get_spark(
    app_name: str = "oem-gateway-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a cluster, pass None and submit with ``--master``/deploy-mode instead.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{_cpus()}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    fast = _fast_tmp_base() if master.startswith("local") else None
    if fast:
        base, route_shuffle = fast
        # Static confs: only effective for a NEW JVM (getOrCreate on an
        # existing session silently keeps its values — correct either way).
        if route_shuffle:
            conf.setdefault("spark.local.dir", os.path.join(base, "local"))
        ejo = conf.get("spark.driver.extraJavaOptions", "")
        if "java.io.tmpdir" not in ejo:
            conf["spark.driver.extraJavaOptions"] = (
                f"{ejo} -Djava.io.tmpdir={base}".strip()
            )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may return a pre-existing session whose conf ignores the
    # builder values — re-assert every runtime-settable key (static confs
    # like driver.memory keep the value the JVM started with).
    for k, v in conf.items():
        _set_conf(spark, k, v)
    return spark
