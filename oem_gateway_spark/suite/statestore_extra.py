"""State-store engine surfaces: the RocksDB provider witness (r9) and the
checkpoint KILL/RESUME recovery witness (r10).

New ENGINE SURFACES (not new plan shapes): every stateful streaming twin
so far ran on Spark's default HDFS-backed in-memory state store, whose
working set lives on the executor JVM heap, and every twin's availableNow
replay ran START-TO-FINISH inside one query.  At 100 TB the state store
is the binding resource for the ``stream_*`` family — key cardinality,
not input size, bounds it — and the failure mode a real deployment
exercises weekly is a query DYING MID-REPLAY and restarting from its
half-consumed checkpoint.  This module witnesses both production paths
against the SAME DuckDB oracle as the default-provider twin:

- ``stream_upsert_rocksdb``: the versioned-LWW upsert twin re-run under
  ``RocksDBStateStoreProvider`` (native RocksDB via bundled JNI, state
  spills to local SSD, snapshot/changelog checkpointing) — the provider
  swap must be invisible in the results while the run proves the
  provider was live (rocksdb* custom metrics in the query progress).
- ``stream_upsert_resume``: the same pipeline STOPPED mid-replay after
  two of its four micro-batches committed, then RESUMED by a brand-new
  query on the same checkpoint — under RocksDB + changelog
  checkpointing (the 100 TB-default commit path) and an exactly-once
  FILE sink, so the final table must hash-equal the oracle regardless
  of where the kill landed.

Reference: the gateway (SURVEY.md ~l.120) has no state store and no
recovery story at all — a SIGKILL loses the in-memory send buffer
(oemgatewaybuffer.py ~l.40) and every unacknowledged reading with it;
checkpointed state + sink idempotence is the engine's semantic upgrade
(SURVEY.md §2.4 B2/B5).  Both are §2.6 engine-beyond-reference surface.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time
from itertools import count

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oem_gateway_spark.suite.patterns_extra import (
    UPSERT_LWW_ORACLE,
    _upsert_changelog_stream,
    _upsert_final_state,
)
from oem_gateway_spark.suite.registry import query, record

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
_PARTITIONS_KEY = "spark.sql.shuffle.partitions"
_SEQ = count()


@contextlib.contextmanager
def _scoped_conf(spark: SparkSession, values: dict[str, str]):
    """Set session confs for one streaming run and ALWAYS restore them.

    Every previous value is captured BEFORE the first set (r9 ADVICE: the
    old inline version set the provider, then read the partitions conf —
    if that read raised, the finally never ran and the provider leaked
    into the session for every later streaming query).  Streaming confs
    are read at stream START and captured into the new checkpoint, so
    the scope is exact: only queries started inside the window see them.
    """
    prev: dict[str, str | None] = {}
    for k in values:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
    try:
        for k, v in values.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def _changelog_files(ckpt: str) -> int:
    return len(
        glob.glob(os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True)
    )


@query("stream_upsert_rocksdb", oracle=UPSERT_LWW_ORACLE)
def stream_upsert_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream_upsert_latest pipeline (out-of-order LWW register via
    applyInPandasWithState) executed on the ROCKSDB state store.

    The provider conf is read at STREAM START, so it is scoped via
    _scoped_conf to this one streaming query (set just before
    ``start()``, restored after ``awaitTermination()`` in a ``finally``
    that holds the pre-captured values — this is NOT a conf-leak
    witness like q_bloom_prune: the provider affects only the stream
    started inside the guarded window, not later planning).  The run
    record's stream digest carries the progress's custom metrics; rocksdb*
    keys there are the proof the provider was live.  Results
    must hash-equal the same oracle as the default-provider twin:
    state-store choice is an execution detail, never a semantics change.

    Same state-partition scoping as the other stateful twins
    (streaming_batch._run_to_table): the replay is kilobytes per batch,
    but RocksDB opens a NATIVE store per partition per batch and
    commits per batch — at the session's 32 partitions that machinery
    was the whole 21 s wall (r9 sweep).  Changelog checkpointing (r13
    optimization) replaces the per-commit SST snapshot upload with a
    changelog append, the same per-commit-bytes cut the resume/reader/
    full-outer RocksDB twins already run with; it is a checkpoint
    FORMAT choice, invisible to results and to this query's witness
    (rocksdb* custom-metric presence)."""
    scoped = {
        _PROVIDER_KEY: ROCKSDB_PROVIDER,
        _CHANGELOG_KEY: "true",
        _PARTITIONS_KEY: "8",
    }
    with _scoped_conf(spark, scoped):
        out = _upsert_changelog_stream(spark, sf_dir)
        name = f"rocksdb_upsert_{os.getpid()}_{next(_SEQ)}"
        # Explicit checkpoint dir (same scratch/sweep discipline as the
        # resume/reader twins) so the changelog-file count below can be
        # taken from the state dir — the customMetrics alone cannot
        # distinguish changelog commits from snapshot commits.
        scratch = _resume_scratch()
        ckpt = os.path.join(scratch, "ckpt")
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        record(stream=q, changelog_files=_changelog_files(ckpt))
        log = spark.table(name)
        # r13 ADVICE: the count above is the only reader of this
        # checkpoint (the memory sink holds the results), and the
        # stale-scratch sweep only reclaims dirs whose OWNER pid died —
        # a long-lived bench/suite session re-invoking this query would
        # otherwise accumulate live-owner tmpfs dirs until process exit.
        # The stream is terminated, so remove the scratch eagerly.
        shutil.rmtree(scratch, ignore_errors=True)
    return _upsert_final_state(log)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


# Dead-owner dirs sweep immediately; the age bounds below are the
# SECONDARY guard only.  UNOWNED_MAX_AGE covers names whose pid token
# didn't parse (foreign/corrupt dirs nothing will ever claim);
# OWNED_MAX_AGE is the pid-recycling backstop — a recycled pid makes a
# dead owner look alive forever, so live-looking dirs still reclaim,
# but only at an age far above any plausible query lifetime (the
# longest in-repo holder is a 300 s poll; 6 h is ~70x that).
_UNOWNED_MAX_AGE_SEC = 1800
_OWNED_MAX_AGE_SEC = 6 * 3600

# Scratch bases, module-level so the sweep-order pin in
# tests/test_round10_ops.py can point them at tmp_path.
_TMPFS_BASE = "/dev/shm/spark-graft-tmp"
_FALLBACK_BASE = "/root/repo/.scratch"

# Indirection for the free-space probe so the test can fake a full
# tmpfs without monkeypatching the GLOBAL os.statvfs (r11 review: se.os
# IS the shared module, so patching it starved every concurrent
# statvfs caller in the process for the test's duration).
_statvfs = os.statvfs


def _sweep_stale_scratch(base: str) -> None:
    """Reclaim dead kill/resume scratch dirs (r10 review finding: the
    (pid, seq)-unique dirs were NEVER removed, so a long-lived host
    accumulated RAM-resident RocksDB checkpoints in /dev/shm until
    tmpfs filled).  A dir is dead when its owner pid is GONE — checked
    first, age-independent.  Age alone reclaims only (a) dirs whose
    owner token doesn't parse, after 30 min, and (b) live-owner dirs
    after 6 h (r10 ADVICE: the old `stale OR dead` predicate rmtree'd a
    LIVE process's 30-min-old dir, and the returned DataFrames read
    their checkpoint/output LAZILY — a deferred-collection driver or a
    concurrent session past the window lost its checkpoint mid-use;
    dir mtime does not update while a query writes into subdirs, so
    liveness must gate the short bound)."""
    now = time.time()
    for entry in glob.glob(os.path.join(base, "resume-*")):
        parts = os.path.basename(entry).split("-")
        try:
            owner = int(parts[1])
        except (IndexError, ValueError):
            owner = None
        try:
            age = now - os.path.getmtime(entry)
        except OSError:
            continue  # concurrently removed
        if owner is None:
            dead = age > _UNOWNED_MAX_AGE_SEC
        else:
            dead = (not _pid_alive(owner)) or age > _OWNED_MAX_AGE_SEC
        if dead:
            shutil.rmtree(entry, ignore_errors=True)


def _resume_scratch() -> str:
    """Fresh checkpoint/output base for one kill/resume run.  tmpfs when
    the session's fast-tmp base exists WITH >= 2 GiB free (checkpoint
    fsync on this host's disk inflates streaming walls 2-10x under
    ambient I/O storms — session.py::_fast_tmp_base; the free-space
    guard mirrors its tiered check: tmpfs IS RAM, and a checkpoint
    written to a nearly-full tmpfs trades a slow run for ENOSPC), else
    repo-local .scratch.  Unique per (pid, seq) so concurrent sessions
    and bench's best-of-3 passes never share a checkpoint.

    Sweep order matters (r10 ADVICE, medium): the tmpfs base is swept
    BEFORE its free-space check — the under-2-GiB state that forces the
    .scratch fallback is exactly the leaked-checkpoint state the sweep
    reclaims, and the old sweep-only-the-chosen-base version made the
    slow-disk fallback permanent once tmpfs filled.  The unchosen base
    is swept opportunistically too, so neither location accumulates."""
    tmpfs = _TMPFS_BASE
    fallback = _FALLBACK_BASE
    usable = False
    if os.path.isdir(tmpfs):
        _sweep_stale_scratch(tmpfs)  # reclaim BEFORE judging free space
        try:
            st = _statvfs(tmpfs)
            usable = st.f_bavail * st.f_frsize >= 2 << 30
        except OSError:
            usable = False
    base = tmpfs if usable else fallback
    other = fallback if usable else tmpfs
    if other != tmpfs and os.path.isdir(other):
        _sweep_stale_scratch(other)  # tmpfs (when other) was already swept
    os.makedirs(base, exist_ok=True)
    if base != tmpfs:
        _sweep_stale_scratch(base)
    d = os.path.join(base, f"resume-{os.getpid()}-{next(_SEQ)}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


@query("stream_upsert_resume", oracle=UPSERT_LWW_ORACLE)
def stream_upsert_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT KILL/RESUME recovery witness — the one claim at the
    heart of the engine's hot-reload story (streaming/pipeline.py:15-16,
    C2: "a checkpoint-resume restart IS the reference's hot settings
    apply") that no twin had ever exercised: every stateful replay so
    far ran start-to-finish inside one query.

    New engine surface (three production mechanisms, witnessed together
    because each is only observable through the others):

    1. MID-REPLAY STOP + RESUME: phase 1 starts the out-of-order LWW
       upsert replay on a 500 ms processing-time trigger
       (maxFilesPerTrigger=1 pins one micro-batch per file) and calls
       ``stop()`` the moment
       two data batches have committed — between batch boundaries or mid
       batch 2, wherever the kill lands.  Phase 2 starts a BRAND-NEW
       query on the SAME checkpoint: it must resume from the offset log
       (first batchId >= 2, recorded in the run record), rebuild per-key
       LWW state from the store, and finish the remaining files.
    2. ROCKSDB CHANGELOG CHECKPOINTING: both phases run under
       RocksDBStateStoreProvider with changelogCheckpointing enabled —
       the 100 TB-default commit path (per-batch changelog appends
       instead of full zip snapshots; *.changelog files in the state dir
       are the witness, counted into the run record's facts).
    3. EXACTLY-ONCE FILE SINK: the changelog lands in a parquet
       FileStreamSink whose _spark_metadata commit log makes replayed
       batches idempotent — an aborted batch's orphan task files are
       invisible to the final read, so the result hashes equal no matter
       where the stop landed.  (The memory sink can't witness recovery:
       its table dies with the query.)

    The final state must hash-equal UPSERT_LWW_ORACLE — the SAME oracle
    as the uninterrupted twins: recovery is an execution detail, never a
    semantics change.  Silent state loss is visible here by construction:
    the replay is out-of-order, so a key whose LWW register was lost in
    the restart would accept a late write phase 1 already rejected, and
    n_updates (accepted-write count) would drift the hash.

    Determinism of the kill point: the 500 ms trigger's idle gap dwarfs
    the ~25 ms poll latency, so the stop lands before batch 3 (usually
    before the in-flight one commits).  The miss guard is TWO-SIDED:
    if an ambient storm lets all four batches commit first (VACUOUS
    kill), or stalls the host so hard that fewer than two commit inside
    the 300 s poll (the advertised resume-from-batch>=2 witness would
    not exist), the attempt retries on a fresh scratch (never reusing a
    fully- or under-consumed checkpoint) and only raises after three
    misses, refusing to return an unwitnessed pass."""
    scoped = {
        _PROVIDER_KEY: ROCKSDB_PROVIDER,
        _CHANGELOG_KEY: "true",
        _PARTITIONS_KEY: "8",
    }
    with _scoped_conf(spark, scoped):
        for _attempt in range(3):
            scratch = _resume_scratch()
            ckpt = os.path.join(scratch, "ckpt")
            out_dir = os.path.join(scratch, "out")
            # ---- phase 1: run, then stop mid-replay ---------------------
            q1 = (
                _upsert_changelog_stream(spark, sf_dir, output_mode="append")
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(processingTime="500 milliseconds")
                .start()
            )
            deadline = time.monotonic() + 300
            while time.monotonic() < deadline:
                if q1.exception() is not None:
                    raise q1.exception()
                done = [
                    p
                    for p in q1.recentProgress
                    if (p.get("numInputRows") or 0) > 0
                ]
                if len(done) >= 2:
                    break
                time.sleep(0.025)
            q1.stop()
            q1.awaitTermination()
            phase1 = [
                p
                for p in q1.recentProgress
                if (p.get("numInputRows") or 0) > 0
            ]
            if 2 <= len(phase1) < 4:
                break  # kill landed mid-replay: files remain for phase 2
            # Two-sided miss (r10 review finding: the old guard accepted
            # < 2 committed batches, so a 300 s host stall let phase 2
            # replay everything and the driver recorded a pass whose
            # "resume_first_batch >= 2" witness never held): all 4
            # committed = kill point missed; fewer than 2 = the stop
            # fired before the witness existed.  Either way, retry on a
            # FRESH scratch.
        else:
            raise RuntimeError(
                "stream_upsert_resume: no attempt stopped with exactly "
                "2-3 committed batches in 3 tries (all-committed = kill "
                "missed; <2 = host stalled past the 300 s poll) — "
                "refusing to return an unwitnessed pass"
            )
        record(stream=q1)
        # ---- phase 2: a NEW query resumes the same checkpoint -----------
        q2 = (
            _upsert_changelog_stream(spark, sf_dir, output_mode="append")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        resumed = q2.recentProgress
        record(
            stream=q2,
            phase1_batches=len(phase1),
            resume_first_batch=resumed[0]["batchId"] if resumed else None,
            resume_rows=sum((p.get("numInputRows") or 0) for p in resumed),
            changelog_files=_changelog_files(ckpt),
        )
    # The _spark_metadata commit log scopes this read to COMMITTED files
    # only — any orphan task files from the aborted batch are invisible.
    return _upsert_final_state(spark.read.parquet(out_dir))


@query(
    "stream_state_reader",
    oracle="""
    SELECT CAST(event_id % 97 AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_eid
    FROM events
    WHERE user_id % 50 = 0
    GROUP BY event_id % 97
    """,
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE STATE INTROSPECTION (Spark 4 state data source): a
    streaming aggregation's CHECKPOINT is read back as a DataFrame with
    ``spark.read.format("statestore")`` and the decoded state — not the
    sink output — is what the driver hash-checks against the batch
    GROUP BY.

    New engine surface: every other stream_* twin witnesses what a
    query EMITS; this witnesses what a checkpoint HOLDS.  The 4-batch
    replay (the shared event_replay_batches slice) runs a grouped
    count/sum to completion into a noop sink — deliberately a sink that
    keeps nothing — so the ONLY place the answer survives is the state
    store.  The reader then decodes the HDFSBackedStateStore files into
    typed rows (key struct -> k, aggregation buffer -> count/sum;
    renamed positionally, buffer order = agg order) and that result
    must hash-equal the batch aggregate: checkpointed state is the
    semantically exact partial, not an opaque blob.  At 100 TB this is
    the operational path the streaming family was missing — state
    audits ("is this key's register what production thinks it is"),
    skew forensics via partition_id, and safe state surgery validation,
    all WITHOUT stopping or replaying the production query; the read
    cost is the state's size, never the stream's history.  The sibling
    ``state-metadata`` source (operator inventory of a foreign
    checkpoint) and per-batch time travel (``option("batchId", k)``
    shows the monotone prefix states) are pinned in
    tests/test_round10_ops.py.  Pure integer outputs."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.suite.streaming_batch import event_replay_batches

    stream = event_replay_batches(
        spark, sf_dir, "statereader", lambda ev: F.col("event_id") % 4
    )
    agg = stream.groupBy((F.col("event_id") % 97).alias("k")).agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sum_eid")
    )
    with _scoped_conf(spark, {_PARTITIONS_KEY: "8"}):
        scratch = _resume_scratch()
        ckpt = os.path.join(scratch, "ckpt")
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        record(stream=q)
    return (
        spark.read.format("statestore")
        .load(ckpt)
        .select("key.*", "value.*")
        .toDF("k", "n", "sum_eid")
    )


@query(
    "stream_state_reader_rocksdb",
    oracle="""
    SELECT CAST(event_id % 89 AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_eid
    FROM events
    WHERE user_id % 50 = 0
    GROUP BY event_id % 89
    """,
)
def stream_state_reader_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE STATE INTROSPECTION OF A ROCKSDB CHECKPOINT (r10 VERDICT
    #4): the same statestore read-back contract as stream_state_reader,
    but the checkpoint under the reader was written by
    ``RocksDBStateStoreProvider`` with changelog checkpointing — the
    100 TB-default commit path — so the files being decoded are RocksDB
    SST snapshots + per-batch changelogs, not the HDFS-backed
    provider's delta files.

    New engine surface: a genuinely different DECODE PATH, not a re-run.
    The state source must (a) discover the provider from the
    checkpoint's own metadata (the read below runs OUTSIDE the scoped
    provider conf — nothing in the session says RocksDB at read time),
    (b) replay snapshot+changelog to the last committed version, and
    (c) surface the same typed key/value structs the HDFS twin yields.
    This is the state-surgery validation path a real deployment runs
    against production checkpoints (which are RocksDB by default):
    audit a key's register, quantify skew via partition_id, verify a
    repair — without the owning query or its session confs.  The
    changelog-file count lands in the run record as the proof the
    commit path exercised was changelog checkpointing, and the pytest
    pin additionally asserts rocksdb* custom metrics were live in the
    writer.  Distinct grouping modulus (89 vs the HDFS twin's 97) so a
    cross-wired checkpoint read cannot accidentally hash-match.
    Pure integer outputs."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.suite.streaming_batch import event_replay_batches

    # Same tag as the HDFS twin: identical slice + slicer means the two
    # queries SHARE one materialized replay export (atomic_export keys on
    # content fingerprint; a second tag would just duplicate the files).
    stream = event_replay_batches(
        spark, sf_dir, "statereader", lambda ev: F.col("event_id") % 4
    )
    agg = stream.groupBy((F.col("event_id") % 89).alias("k")).agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sum_eid")
    )
    scoped = {
        _PROVIDER_KEY: ROCKSDB_PROVIDER,
        _CHANGELOG_KEY: "true",
        _PARTITIONS_KEY: "8",
    }
    with _scoped_conf(spark, scoped):
        scratch = _resume_scratch()
        ckpt = os.path.join(scratch, "ckpt")
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        record(stream=q, changelog_files=_changelog_files(ckpt))
    # Deliberately outside _scoped_conf: the reader must work against a
    # foreign RocksDB checkpoint with no session-level provider hint.
    return (
        spark.read.format("statestore")
        .load(ckpt)
        .select("key.*", "value.*")
        .toDF("k", "n", "sum_eid")
    )


from oem_gateway_spark.suite.streaming_batch import FULL_OUTER_JOIN_ORACLE


@query("stream_stream_full_outer_rocksdb", oracle=FULL_OUTER_JOIN_ORACLE)
def stream_stream_full_outer_rocksdb(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL OUTER stream-stream interval join executed on the
    ROCKSDB state store with CHANGELOG checkpointing — the r12 round's
    documented-but-unwitnessed 100 TB guidance ("a long-lived outer
    join belongs on RocksDB + changelog") made a green witness.

    Why this shape specifically: the r12 x8 scaling probe measured the
    default HDFS provider's full-state-snapshot-per-commit cost going
    super-linear on exactly this query (tail exponent 1.22 — k batches
    x k state), and the mitigation was only witnessed on the UPSERT
    family's symmetric-hash-free state.  A stream-stream join keeps
    FOUR state stores per partition (left/right x keyToNumValues/
    keyWithIndexToValue), so the provider swap exercises a genuinely
    different store layout than the single-store upsert twin.

    Semantics must be BIT-IDENTICAL to the default-provider twin:
    state-store choice is an execution detail, so this twin reuses the
    same builder + join + sentinel machinery and hash-matches the SAME
    batch FULL JOIN oracle (streaming_batch.FULL_OUTER_JOIN_ORACLE).
    Provider liveness is recorded in the run record: rocksdb* custom
    metrics in the stream digest + at least one .changelog file in the
    checkpoint (pinned by tests/test_run_records.py).

    r14 (r13 VERDICT #4, guide §5): ``join.stateFormatVersion=3`` —
    Spark 4's virtual-column-family join state, RocksDB-only — folds
    the FOUR per-partition stores (left/right x keyToNumValues/
    keyWithIndexToValue) into ONE store with column families, cutting
    the per-batch native open/commit lifecycles and changelog files
    4x.  Results are layout-invariant (same oracle hash, re-proven at
    sf0.001/sf0.01); interleaved A/B at sf0.1: 1.35x median.  The
    paragraph above about four stores describes the v2 layout the
    DEFAULT-provider twin still runs; v3 liveness is pinned in
    tests/test_run_records.py by none of v2's four per-partition store
    dirs appearing in the record's ``state_store_dirs`` fact."""
    from oem_gateway_spark.suite.streaming_batch import (
        _interval_match,
        _purchase_click_sides,
    )

    scoped = {
        _PROVIDER_KEY: ROCKSDB_PROVIDER,
        _CHANGELOG_KEY: "true",
        _PARTITIONS_KEY: "8",
        "spark.sql.streaming.join.stateFormatVersion": "3",
    }
    with _scoped_conf(spark, scoped):
        left, right = _purchase_click_sides(spark, sf_dir, sentinels=True)
        joined = left.join(right, _interval_match(1), "full_outer").select(
            F.coalesce(F.col("user_id"), F.col("r_user")).alias("user_id"),
            "purchase_id",
            "click_id",
        )
        scratch = _resume_scratch()
        ckpt = os.path.join(scratch, "ckpt")
        name = f"rocksdb_fouter_{os.getpid()}_{next(_SEQ)}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        part0 = os.path.join(ckpt, "state", "0", "0")
        record(
            stream=q,
            changelog_files=_changelog_files(ckpt),
            # v3 witness: the v2 join layout puts FOUR named store dirs
            # under each partition (left/right x keyToNumValues/
            # keyWithIndexToValue); v3's single virtual-column-family
            # store keeps its files directly in the partition dir (plus
            # a non-store _metadata dir), so the named-store count is
            # the format's fingerprint.
            state_store_dirs=sorted(
                d
                for d in (os.listdir(part0) if os.path.isdir(part0) else [])
                if os.path.isdir(os.path.join(part0, d)) and not d.startswith("_")
            ),
            # Engine-level checkpoint checksums are disabled (session.py
            # r14): Spark 4.1's ChecksumCheckpointFileManager writes a
            # NON-hidden "<file>.crc" sidecar per checkpoint file when
            # enabled; Python glob skips dot-hidden files, so this
            # counts exactly the Spark-level sidecars (Hadoop LocalFS
            # CRCs are dot-prefixed and uncounted).
            spark_checksum_files=len(
                glob.glob(os.path.join(ckpt, "**", "*.crc"), recursive=True)
            ),
        )
        table = spark.table(name)
    return table.filter(F.col("user_id") >= 0)
