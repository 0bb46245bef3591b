"""Round-12 pins: the mechanical fresh-load()-per-plan guard (r11
VERDICT #2), the frame-log sink mode marker + checkpoint-namespaced
manifests + orphan reclamation (r11 VERDICT #3 / ADVICE), pushdown
rejection on index-fallback layouts (r11 ADVICE), and the new
partition-planned streaming source / FULL OUTER stream-stream join
shapes' non-oracle-able claims."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _framelog(spark, path: str):
    from oem_gateway_spark.sources import framelog_source

    framelog_source.register(spark)
    return spark.read.format("oem_framelog").option("path", path).load()


def _write_logs(d: str, names_lines: dict[str, list[str]]) -> None:
    os.makedirs(d, exist_ok=True)
    for name, lines in names_lines.items():
        with open(os.path.join(d, name), "w") as f:
            f.write("".join(ln + "\n" for ln in lines))


def test_shared_python_relation_walker(spark, tmp_path):
    """The fresh-load()-per-plan contract is now MECHANICAL: the
    analyzed-plan walker flags a plan that references one Python-source
    load() twice (the measured 4.1.2 scan cross-contamination hazard,
    framelog_source.py:57) and passes fresh-load plans.  The
    full-registry oracle replay asserts this walker on EVERY suite
    query, so this test is the deliberately-violating counterpart the
    r11 verdict asked for — proving a future bad query fails loudly."""
    from oem_gateway_spark.plans.explain import shared_python_tables

    d = str(tmp_path / "logs")
    _write_logs(
        d,
        {f"shard_{k}.log": [f"{k} 1.0 0.1 10.0", f"{k} 2.0 0.2 20.0"] for k in range(3)},
    )
    shared = _framelog(spark, d)
    violating = shared.filter(F.col("shard") == 2).unionByName(shared)
    assert shared_python_tables(violating) != [], (
        "walker missed a doubly-referenced Python-source relation"
    )
    clean = (
        _framelog(spark, d)
        .filter(F.col("shard") == 2)
        .unionByName(_framelog(spark, d))
    )
    assert shared_python_tables(clean) == []
    # non-Python relations are out of scope (parquet scan self-union is
    # safe — Spark's own FileScan has no per-reader mutable state)
    pq = spark.read.parquet(os.path.join(SF, "region.parquet"))
    assert shared_python_tables(pq.unionByName(pq)) == []


def test_framelog_pushdown_rejected_on_index_fallback_layout(spark, tmp_path):
    """r11 ADVICE: a sorted-glob INDEX shard id shifts when files come
    and go between plans, and Spark never re-checks accepted filters —
    so on any layout with a non-parseable file name the reader must
    YIELD filters back (post-scan evaluation, consistent with the same
    scan's emitted ids) instead of pruning against an unstable id."""
    from oem_gateway_spark.plans.explain import explain_str

    d = str(tmp_path / "mixed")
    _write_logs(
        d,
        {
            "capture-a.log": ["7 1.0 0.1 10.0"],
            "capture-b.log": ["8 2.0 0.2 20.0"],
            "shard_2.log": ["2 3.0 0.3 30.0"],
        },
    )
    df = _framelog(spark, d).filter(F.col("shard") == 0)
    # index fallback: sorted order is capture-a(0), capture-b(1), shard_2(2)
    assert df.count() == 1
    plan = explain_str(df)
    # nothing accepted: the shard predicate stays as a post-scan Filter
    assert "PushedFilters: [" not in plan or "PushedFilters: []" in plan

    # a fully-named layout still prunes (the r11 behavior, unchanged)
    named = str(tmp_path / "named")
    _write_logs(
        named,
        {f"shard_{k}.log": [f"{k} 1.0 0.1 10.0"] for k in range(4)},
    )
    pruned = _framelog(spark, named).filter(F.col("shard") == 2)
    assert pruned.count() == 1
    assert "In(shard" in explain_str(pruned) or "EqualTo(shard" in explain_str(
        pruned
    )


def test_framelog_sink_mode_marker_rejects_mixed_halves(tmp_path):
    """r11 VERDICT #3: the batch+stream shared-path caveat is now an
    ERROR — the first commit stamps _commits/_MODE and the other half
    raises instead of unioning unrelated manifests."""
    import pytest

    from oem_gateway_spark.sinks.framelog_sink import (
        FrameLogBatchWriter,
        FrameLogStreamWriter,
        committed_files,
    )

    sink = str(tmp_path / "sink")
    sw = FrameLogStreamWriter({"path": sink})
    sw.commit([sw.write(iter([(1, 2)]))], batchId=0)
    bw = FrameLogBatchWriter({"path": sink}, overwrite=False)
    msg = bw.write(iter([(3, 4)]))
    with pytest.raises(ValueError, match="stream"):
        bw.commit([msg])
    # the stream half's committed view is untouched by the refused save
    assert len(committed_files(sink)) == 1
    # and the reverse direction refuses too
    sink2 = str(tmp_path / "sink2")
    bw2 = FrameLogBatchWriter({"path": sink2}, overwrite=False)
    bw2.commit([bw2.write(iter([(1, 2)]))])
    sw2 = FrameLogStreamWriter({"path": sink2})
    msg2 = sw2.write(iter([(5, 6)]))
    with pytest.raises(ValueError, match="batch"):
        sw2.commit([msg2], batchId=0)


def test_framelog_sink_fresh_checkpoint_appends_not_replaces(tmp_path):
    """r11 ADVICE: manifests keyed only by batchId let a fresh-checkpoint
    query restart at batch 0 and REPLACE a prior run's manifests (silent
    row loss).  Namespacing by checkpointLocation hash makes a fresh
    query APPEND while a same-checkpoint replay still replaces its own
    batch manifest (exactly-once preserved)."""
    from oem_gateway_spark.sinks.framelog_sink import (
        FrameLogStreamWriter,
        committed_manifests,
    )

    sink = str(tmp_path / "sink")
    run1 = FrameLogStreamWriter(
        {"path": sink, "checkpointlocation": "/ckpt/run1"}
    )
    run1.commit([run1.write(iter([(1, 1)]))], batchId=0)
    run1.commit([run1.write(iter([(2, 2)]))], batchId=1)
    assert len(committed_manifests(sink)) == 2
    # crash replay of batch 1, SAME checkpoint: replaces, never doubles
    run1b = FrameLogStreamWriter(
        {"path": sink, "checkpointlocation": "/ckpt/run1"}
    )
    run1b.commit([run1b.write(iter([(2, 2)]))], batchId=1)
    assert len(committed_manifests(sink)) == 2
    # a FRESH-checkpoint query re-pointed at the used path: appends
    run2 = FrameLogStreamWriter(
        {"path": sink, "checkpointlocation": "/ckpt/run2"}
    )
    run2.commit([run2.write(iter([(9, 9)]))], batchId=0)
    mans = committed_manifests(sink)
    assert len(mans) == 3, "fresh-checkpoint batch 0 replaced run1's manifests"
    assert sum(m["rows"] for m in mans) == 3


def test_framelog_sink_reclaims_aged_orphan_data_files(tmp_path):
    """r11 ADVICE: orphaned data files (replaced by a batch re-commit,
    or stranded by overwrite) are reclaimed at the next commit once
    older than the age bound; referenced files and FRESH orphans (a
    concurrent in-flight batch's renamed-but-uncommitted output) stay."""
    from oem_gateway_spark.sinks.framelog_sink import (
        _LAST_RECLAIM,
        _TMP_MAX_AGE_SEC,
        FrameLogStreamWriter,
        committed_files,
    )

    sink = str(tmp_path / "sink")
    w = FrameLogStreamWriter({"path": sink})
    m0 = w.write(iter([(1, 1)]))
    w.commit([m0], batchId=0)
    data = os.path.join(sink, "data")
    aged = os.path.join(data, "part-00000-aged-orphan.log")
    fresh = os.path.join(data, "part-00000-fresh-orphan.log")
    for p in (aged, fresh):
        with open(p, "w") as f:
            f.write("x\n")
    past = time.time() - _TMP_MAX_AGE_SEC - 60
    os.utime(aged, (past, past))
    # age the REFERENCED file too: reference, not age, must protect it
    ref = os.path.join(data, m0.file)
    os.utime(ref, (past, past))
    # the sweep is time-gated to the age bound (a commit storm must not
    # pay a manifest walk per micro-batch): a commit right after the
    # batch-0 sweep skips sweeping, so the aged orphan survives it
    w.commit([w.write(iter([(9, 9)]))], batchId=2)
    assert os.path.exists(aged), "sweep ran inside the time gate"
    # once the gate expires (simulated), the next commit reclaims
    _LAST_RECLAIM[sink] -= _TMP_MAX_AGE_SEC + 1
    w.commit([w.write(iter([(2, 2)]))], batchId=1)
    assert not os.path.exists(aged), "aged orphan survived commit"
    assert os.path.exists(fresh), "fresh orphan was reclaimed (race hazard)"
    assert os.path.exists(ref), "manifest-referenced file was reclaimed"
    assert len(committed_files(sink)) == 3


def test_framelog_stream_planner_contract(tmp_path):
    """The partition-planned streaming reader's mechanics the oracle
    hash can't isolate: (a) latestOffset stops at each file's
    LAST-NEWLINE frontier (mid-line tails unconsumed); (b)
    partitions(start, end) plans ONE InputPartition PER GROWN FILE —
    the multi-partition-per-micro-batch shape that distinguishes this
    API from SimpleDataSourceStreamReader; (c) read() re-reads exactly
    the planned byte range (deterministic recovery replay); (d) a file
    appearing between polls joins at offset 0; (e) foreign names (no
    parseable shard id) raise at planning."""
    import pytest

    from oem_gateway_spark.sources.framelog_source import (
        FrameLogStreamReader,
        _line_frontier,
    )

    d = str(tmp_path / "cap")
    _write_logs(
        d,
        {
            "shard_0.log": ["0 1.0 0.1 10.0", "0 2.0 0.2 20.0"],
            "shard_1.log": ["1 3.0 0.3 30.0"],
        },
    )
    with open(os.path.join(d, "shard_0.log"), "a") as f:
        f.write("0 9.")  # mid-line tail
    r = FrameLogStreamReader({"path": d})
    start = r.initialOffset()
    end = r.latestOffset()
    assert end["shard_0.log"] == len("0 1.0 0.1 10.0\n0 2.0 0.2 20.0\n")
    parts = r.partitions(start, end)
    assert len(parts) == 2, "expected one InputPartition per grown file"
    rows = {ln for p in parts for (_, ln) in r.read(p)}
    assert rows == {"0 1.0 0.1 10.0", "0 2.0 0.2 20.0", "1 3.0 0.3 30.0"}
    # (c) replaying the same planned ranges yields the same rows
    assert {ln for p in parts for (_, ln) in r.read(p)} == rows
    # (d) complete the tail, add a late file; only deltas get partitions
    with open(os.path.join(d, "shard_0.log"), "a") as f:
        f.write("1 91.0\n")
    _write_logs(d, {"shard_2.log": ["2 5.0 0.5 50.0"]})
    end2 = r.latestOffset()
    parts2 = r.partitions(end, end2)
    assert len(parts2) == 2  # shard_0 delta + late shard_2, NOT shard_1
    delta = sorted(ln for p in parts2 for (_, ln) in r.read(p))
    assert delta == ["0 9.1 91.0", "2 5.0 0.5 50.0"]
    # (e) foreign layout refuses to plan
    _write_logs(d, {"capture-x.log": ["9 9 9 9"]})
    with pytest.raises(ValueError, match="shard id"):
        r.latestOffset()
    # frontier scans PAST a newline-free tail window (>64 KiB one-liner)
    lone = str(tmp_path / "lone")
    _write_logs(lone, {"shard_0.log": []})
    with open(os.path.join(lone, "shard_0.log"), "w") as f:
        f.write("a\n" + "x" * (1 << 17))
    assert _line_frontier(os.path.join(lone, "shard_0.log")) == 2


def test_stream_stream_full_outer_emits_both_null_sides(spark):
    """The claim that makes FULL OUTER a new eviction shape: the result
    must contain LEFT-evicted rows (purchase, NULL click) AND
    RIGHT-evicted rows (click, NULL purchase) — the latter is the half
    no prior stream-stream query could witness.  The coalesced user key
    is never NULL (sentinels filtered, both sides carry it)."""
    from oem_gateway_spark.suite import REGISTRY

    df = REGISTRY["stream_stream_full_outer_join"].fn(spark, SF)
    counts = df.agg(
        F.count("*").alias("n"),
        F.sum(F.col("click_id").isNull().cast("int")).alias("left_only"),
        F.sum(F.col("purchase_id").isNull().cast("int")).alias("right_only"),
        F.sum(F.col("user_id").isNull().cast("int")).alias("null_keys"),
    ).collect()[0]
    assert counts.left_only > 0, "no left-eviction rows (purchase, NULL click)"
    assert counts.right_only > 0, "no right-eviction rows (click, NULL purchase)"
    assert counts.null_keys == 0
    assert counts.n > counts.left_only + counts.right_only, "no matched rows"


def test_framelog_pushdown_parallelism_recovers_with_finer_capture(spark, tmp_path):
    """r11 VERDICT #8: the x8 probe showed a pruned Python-source read
    runs at parallelism = surviving FILE count (2 shard files -> 2
    tasks, 30 cores idle).  The documented fix is to shard the CAPTURE
    finer than the predicate's selectivity — shard id parses from the
    trailing digits, so many files may carry one shard class.  This
    pins the recovery: with 4 capture files per shard class, pruning to
    one shard keeps 4 InputPartitions (4-way parallel), not 1, and the
    rows still match the predicate exactly."""
    d = str(tmp_path / "fine")
    # 3 shard classes x 4 capture files each: c<i>_<shard>.log
    _write_logs(
        d,
        {
            f"c{i}_{k}.log": [f"{k} {i}.0 0.1 10.0"]
            for i in range(4)
            for k in range(3)
        },
    )
    df = _framelog(spark, d).filter(F.col("shard") == 2)
    assert df.count() == 4
    assert df.rdd.getNumPartitions() == 4, (
        "pruned scan should parallelize across all surviving capture "
        "files of the matching shard class"
    )
    full = _framelog(spark, d)
    assert full.rdd.getNumPartitions() == 12


def test_framelog_stream_rejects_shrunken_or_vanished_files(tmp_path):
    """Append-only contract: a capture file that shrank or vanished
    between offsets means checkpoint-consumed bytes no longer exist —
    planning must fail loudly, never silently skip the range."""
    import pytest

    from oem_gateway_spark.sources.framelog_source import (
        FrameLogStreamReader,
    )

    d = str(tmp_path / "cap")
    _write_logs(d, {"shard_0.log": ["0 1.0"], "shard_1.log": ["1 2.0"]})
    r = FrameLogStreamReader({"path": d})
    end = r.latestOffset()
    # vanished file
    os.remove(os.path.join(d, "shard_1.log"))
    with pytest.raises(ValueError, match="shrank or vanished"):
        r.partitions(end, r.latestOffset())
    # shrunken file
    with open(os.path.join(d, "shard_0.log"), "w") as f:
        f.write("\n")
    end2 = {"shard_0.log": r.latestOffset()["shard_0.log"]}
    with pytest.raises(ValueError, match="shrank or vanished"):
        r.partitions({"shard_0.log": end["shard_0.log"]}, end2)


def test_stream_stream_left_semi_emits_at_most_once(spark):
    """The semi join's distinctive contract vs the inner twin: each
    purchase emits AT MOST ONCE even when several clicks match (inner
    emits per match).  Non-vacuous: the data must actually contain a
    multi-match purchase, and the semi set must equal the inner's
    distinct left keys."""
    from oem_gateway_spark.suite import REGISTRY

    from oem_gateway_spark.catalog import load_table

    semi = REGISTRY["stream_stream_left_semi_join"].fn(spark, SF)
    n, nd = semi.count(), semi.distinct().count()
    assert n == nd, "semi emitted a purchase more than once"
    # batch ground truth at the semi query's own 24 h window (the inner
    # REGISTRY twin uses 1 h, where sf0.001 has no multi-match purchase)
    ev = load_table(spark, SF, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("c_ts")
    )
    matches = p.join(
        c,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 24 HOUR")),
    )
    multi = (
        matches.groupBy("purchase_id").count().filter(F.col("count") >= 2).count()
    )
    assert multi > 0, (
        "no multi-match purchase at this SF — the at-most-once claim "
        "is vacuous; widen the window"
    )
    assert n == matches.select("purchase_id").distinct().count()


def test_udtf_analyze_polymorphism_contract(spark):
    """u_udtf_analyze's structural claims: (a) one registered UDTF class
    yields DIFFERENT analyzed schemas at two call sites (the static-
    returnType twin cannot); (b) a NON-literal field list is rejected
    at PLANNING (no single schema could serve the plan)."""
    import pytest

    from oem_gateway_spark.suite import REGISTRY

    assert REGISTRY["u_udtf_analyze"].fn(spark, SF).count() > 0
    two = spark.sql(
        "SELECT t.* FROM src_udtf_poly s, "
        "LATERAL json_fields(s.props, 'qty,sk') t LIMIT 1"
    )
    one = spark.sql(
        "SELECT u.* FROM src_udtf_poly s, "
        "LATERAL json_fields(s.props, 'sk') u LIMIT 1"
    )
    assert [f.name for f in two.schema.fields] == ["qty", "sk"]
    assert [f.name for f in one.schema.fields] == ["sk"]
    with pytest.raises(Exception, match="literal"):
        spark.sql(
            "SELECT t.* FROM src_udtf_poly s, "
            "LATERAL json_fields(s.props, s.props) t"
        ).collect()
