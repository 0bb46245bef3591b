"""Round-10 additions: the r9 VERDICT/ADVICE regression pins
(scoped-conf capture order, the hierarchy fold) and the language-surface
shape pins.  The kill/resume recovery witness reads its run record in
tests/test_run_records.py."""

import pytest


def test_scoped_conf_restores_on_failure(spark):
    """r9 ADVICE (low): the old inline conf scoping set the provider
    BEFORE entering the try block — a raise between the two sets leaked
    the provider into the session.  _scoped_conf captures every previous
    value first and restores in a finally, so a mid-scope failure can't
    leak; a key unset before must be unset after."""
    from oem_gateway_spark.suite.statestore_extra import _scoped_conf

    key_set = "spark.sql.shuffle.partitions"
    # A key with NO Spark default: .get raises while it's unset (built-in
    # keys like the provider class fall back to their defaults instead).
    key_unset = "spark.graft.test.round10.unset"
    before = spark.conf.get(key_set)
    with pytest.raises(Exception):
        spark.conf.get(key_unset)  # precondition: not set in this session

    with pytest.raises(RuntimeError, match="boom"):
        with _scoped_conf(spark, {key_set: "3", key_unset: "x"}):
            assert spark.conf.get(key_set) == "3"
            assert spark.conf.get(key_unset) == "x"
            raise RuntimeError("boom")

    assert spark.conf.get(key_set) == before
    with pytest.raises(Exception):
        spark.conf.get(key_unset)  # restored to unset, not to ""


def test_hierarchy_fold_compacts_accumulator(spark, monkeypatch):
    """r9 VERDICT #1 (demanding): the resolved accumulator folds into one
    checkpointed DataFrame every _FOLD_WIDTH rounds and the dead owners'
    blocks are freed.  The 4-ary forest at test scale is too shallow to
    cross the default width, so pin the machinery by folding EVERY round:
    results must be identical to the unfolded run, and the persisted-RDD
    count after the run must stay at the folded floor (last owner +
    folds + result pieces), not one block set per round."""
    from oem_gateway_spark.suite import REGISTRY
    from oem_gateway_spark.suite import patterns_extra as PE

    SF = "/root/testdata/sf0.001"
    jsc = spark.sparkContext._jsc.sc()

    baseline = (
        REGISTRY["q_hierarchy_resolve"]
        .fn(spark, SF)
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )

    before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(PE, "_FOLD_WIDTH", 1)
    folded_df = REGISTRY["q_hierarchy_resolve"].fn(spark, SF)
    folded = folded_df.toPandas().sort_values("node").reset_index(drop=True)
    assert folded.equals(baseline)
    # Every round folded: at most the final owner + the last fold (+1
    # transient) survive; the pre-compaction behavior left one owner
    # per round (4 rounds at this depth) plus the initial state.
    leaked = jsc.getPersistentRDDs().size() - before
    assert leaked <= 3, f"{leaked} persisted RDD sets survived the fold"


def test_free_local_checkpoint_removes_blocks(spark):
    """The fold's block-freeing helper must actually unpersist a dead
    localCheckpoint (DataFrame.unpersist can't — it only talks to the
    cacheManager), and must be a silent no-op on a non-checkpointed
    frame (the ContextCleaner fallback path)."""
    from oem_gateway_spark.suite.patterns_extra import _free_local_checkpoint

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = spark.range(100).localCheckpoint(eager=True)
    assert jsc.getPersistentRDDs().size() == before + 1
    _free_local_checkpoint(df)
    assert jsc.getPersistentRDDs().size() == before
    _free_local_checkpoint(spark.range(5))  # plain plan: no-op, no raise


# --------------------------------------------------------------------------
# r10 language-surface additions (lang_extra.py + u_map_in_arrow): the
# value/oracle proof lives in test_suite_oracle's full-registry replay;
# these pin the SHAPE claims each docstring makes.

SF = "/root/testdata/sf0.001"


def test_pipe_syntax_inherits_pushdown_and_single_exchange(spark):
    """The pipe chain is a parser surface, not a new executor: the WHERE
    stage must push to the parquet scan and the AGGREGATE stage must plan
    as the usual partial-agg -> ONE exchange -> final-agg, exactly like
    its ANSI twin (test_q1's contract)."""
    from oem_gateway_spark.plans import num_exchanges, pushed_filters
    from oem_gateway_spark.suite import REGISTRY

    df = REGISTRY["q_pipe_syntax"].fn(spark, SF)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    assert num_exchanges(df) == 1


def test_collated_group_merges_case_variants_in_engine(spark):
    """The UTF8_LCASE comparator (not a lower() rewrite) must carry the
    grouping: the plan mentions the collation, and every output class
    proves a genuine case merge — the binary-min representative is the
    UPPER spelling ('B' < 'b') while the class label is the lower one,
    which can only happen when both spellings landed in ONE group."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.plans import explain_str
    from oem_gateway_spark.suite import REGISTRY

    df = REGISTRY["q_collated_group"].fn(spark, SF)
    assert "UTF8_LCASE" in explain_str(df, "extended")
    rows = df.collect()
    assert rows, "no groups"
    # Compute expected mixed-ness per class FROM THE DATA (r10 ADVICE:
    # asserting every class is mixed bakes in a distribution fact — that
    # each brand has both an even and an odd p_partkey — that a testdata
    # regeneration could legitimately break).  Rebuild the mangled key
    # and record which spellings each lower()-class actually contains.
    part = spark.read.parquet(f"{SF}/part.parquet")
    mangled = part.select(
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_brand"))
        .otherwise(F.lower("p_brand"))
        .alias("brand_mixed")
    )
    spellings: dict[str, set] = {}
    for r in mangled.distinct().collect():
        spellings.setdefault(r.brand_mixed.lower(), set()).add(r.brand_mixed)
    assert any(len(s) > 1 for s in spellings.values()), (
        "data produced no mixed class at all; the merge witness is vacuous"
    )
    for r in rows:
        got = spellings[r.brand_lc]
        # binary min over the class's ACTUAL spellings ('B' < 'b', so a
        # mixed class yields the UPPER spelling — which can only happen
        # when both spellings landed in ONE group)
        assert r.rep == min(got), r
        if len(got) > 1:
            assert r.rep != r.brand_lc, r  # genuine case merge
    # class count == case-insensitive distinct count of the mangled key
    assert len(rows) == len(spellings)
    # sanity on the comparator itself
    assert (
        spark.range(1)
        .select(
            (F.collate(F.lit("BRAND#13"), "UTF8_LCASE") == F.lit("brand#13")).alias(
                "eq"
            )
        )
        .first()
        .eq
    )


def test_xml_malformed_rows_parse_permissive(spark):
    """The 100 TB dirty-feed contract: a malformed XML record becomes a
    null struct (PERMISSIVE), never a job failure; valid records extract
    both the attribute (_id) and the child elements."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ('<rec id="7"><ln>2</ln><qty>30</qty></rec>',),
            ("<rec id=7><ln>broken",),  # unquoted attr + truncated
            ("not xml at all",),
        ],
        ["payload"],
    ).select(
        F.from_xml("payload", "_id BIGINT, ln BIGINT, qty BIGINT").alias("rec")
    )
    rows = df.select("rec._id", "rec.ln", "rec.qty").collect()
    assert (rows[0]["_id"], rows[0]["ln"], rows[0]["qty"]) == (7, 2, 30)
    for r in rows[1:]:
        assert r["_id"] is None and r["ln"] is None and r["qty"] is None, r


def test_param_sql_binding_is_inert_and_identifier_guarded(spark):
    """Markers bind VALUES, never SQL: a quote-smuggling string stays an
    inert literal (the would-be `OR '1'='1'` tail must NOT widen the
    result), and IDENTIFIER refuses a non-identifier string instead of
    parsing it as SQL."""
    import pytest
    from pyspark.sql import functions as F

    from oem_gateway_spark.catalog import load_table
    from oem_gateway_spark.suite import REGISTRY

    REGISTRY["q_param_sql"].fn(spark, SF).collect()  # registers the view
    smuggled = "3-MEDIUM' OR '1'='1"
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM IDENTIFIER(:tbl) "
        "WHERE o_totalprice > :floor AND o_orderpriority <> :excl",
        args={"tbl": "orders_param_src", "floor": 150000.0, "excl": smuggled},
    ).first().n
    expected = (
        load_table(spark, SF, "orders")
        .filter((F.col("o_totalprice") > 150000.0) & (F.col("o_orderpriority") != smuggled))
        .count()
    )
    assert n == expected  # literal semantics: nothing matched the smuggled tail
    with pytest.raises(Exception, match="(?i)parse|identifier|syntax"):
        spark.sql(
            "SELECT COUNT(*) FROM IDENTIFIER(:tbl)",
            args={"tbl": "orders_param_src WHERE 1=1; DROP TABLE x"},
        ).collect()


def test_map_in_arrow_plan_node_and_column_pruning(spark):
    """The Arrow-native stage plans as MapInArrow (NOT a pandas eval),
    and the upstream projection prunes the scan to the 3 used columns —
    the Python stage never sees the other 8 lineitem columns."""
    from oem_gateway_spark.plans import explain_str
    from oem_gateway_spark.suite import REGISTRY

    df = REGISTRY["u_map_in_arrow"].fn(spark, SF)
    text = explain_str(df)
    assert "MapInArrow" in text, text
    read_schema = [ln for ln in text.splitlines() if "ReadSchema" in ln]
    assert read_schema, text
    line = read_schema[0]
    for col in ("l_returnflag", "l_quantity", "l_linenumber"):
        assert col in line, line
    assert "l_extendedprice" not in line and "l_orderkey" not in line, line


def test_state_reader_metadata_and_batch_time_travel(spark):
    """The state data source's two operational claims: (a) state-metadata
    inventories a FOREIGN checkpoint (operator name, store, partition
    count, batch range) without any knowledge of the query that wrote
    it; (b) option("batchId", k) reads the state AS OF batch k — the
    per-key counts must grow monotonically to the final state (time
    travel over the checkpoint's history, the audit path for 'when did
    this key's register change')."""
    from oem_gateway_spark.suite import REGISTRY, statestore_extra

    SF = "/root/testdata/sf0.001"
    final = REGISTRY["stream_state_reader"].fn(spark, SF)
    final_n = {r.k: r.n for r in final.collect()}
    assert final_n and all(n > 0 for n in final_n.values())

    # The query scratches a fresh checkpoint per call; rebuild one here
    # to interrogate (same shared replay, deterministic content).
    from pyspark.sql import functions as F
    import os

    from oem_gateway_spark.suite.streaming_batch import event_replay_batches

    stream = event_replay_batches(
        spark, SF, "statereader", lambda ev: F.col("event_id") % 4
    )
    agg = stream.groupBy((F.col("event_id") % 97).alias("k")).agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sum_eid")
    )
    with statestore_extra._scoped_conf(
        spark, {statestore_extra._PARTITIONS_KEY: "8"}
    ):
        scratch = statestore_extra._resume_scratch()
        ckpt = os.path.join(scratch, "ckpt")
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    m = meta[0]
    assert m.operatorName == "stateStoreSave"
    assert m.numPartitions == 8
    assert (m.minBatchId, m.maxBatchId) == (0, 3)

    prev_total = -1
    for batch_id in range(4):
        st = (
            spark.read.format("statestore")
            .option("batchId", batch_id)
            .load(ckpt)
            .select("key.*", "value.*")
            .toDF("k", "n", "sum_eid")
        )
        rows = {r.k: r.n for r in st.collect()}
        total = sum(rows.values())
        assert total > prev_total  # strictly more rows absorbed per batch
        assert all(rows[k] <= final_n[k] for k in rows)  # monotone prefixes
        prev_total = total
    assert rows == final_n  # batch 3 IS the final state


# --------------------------------------------------------------------------
# r10 code-review fixes: env-var robustness, rerun mislabeling guard,
# scratch hygiene.


def test_quiet_wait_env_malformed_is_ignored(monkeypatch, capsys):
    """A malformed SPARK_GRAFT_QUIET_WAIT_SECS must warn and skip the
    wait, never abort the bench before the contract line (the same bug
    class the r9 ADVICE fixed for SPARK_GRAFT_BENCH_ROUND)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_under_test", "/root/repo/bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    monkeypatch.setenv("SPARK_GRAFT_QUIET_WAIT_SECS", "60s")
    bench._await_quiet_host(2.0)  # must not raise
    assert "malformed SPARK_GRAFT_QUIET_WAIT_SECS" in capsys.readouterr().err


def test_code_changed_since_distinguishes_doc_only_history():
    """The rerun-mislabeling guard: HEAD..HEAD is an empty diff (False —
    checkout indistinguishable); a bogus rev answers None (unknown ->
    preserve old allow behavior); and the r10 artifact commit relative
    to its recorded pre-commit git_head must NOT count as source change
    on its own (it added only .json/.md)."""
    import importlib.util
    import subprocess

    spec = importlib.util.spec_from_file_location(
        "bench_under_test2", "/root/repo/bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    here = "/root/repo"
    head = subprocess.run(
        ["git", "-C", here, "rev-parse", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    assert bench._code_changed_since(here, head) is False
    assert bench._code_changed_since(here, "not-a-rev") is None


def test_resume_scratch_sweeps_dead_and_stale_dirs(tmp_path):
    """Scratch hygiene (r10 review + r10 ADVICE refinement): dead-owner
    dirs reclaim immediately regardless of age; a LIVE owner's dir is
    liveness-protected — its checkpoint/output are read LAZILY and dir
    mtime does not tick while a query writes into subdirs, so age alone
    must not kill it — until the 6 h pid-recycling backstop; unparseable
    names reclaim on the 30 min bound only."""
    import os
    import time as _time

    from oem_gateway_spark.suite.statestore_extra import _sweep_stale_scratch

    base = str(tmp_path)
    dead = os.path.join(base, "resume-999999999-0")  # pid can't exist
    fresh = os.path.join(base, f"resume-{os.getpid()}-7")
    old_live = os.path.join(base, f"resume-{os.getpid()}-8")  # 1 h, live
    ancient_live = os.path.join(base, f"resume-{os.getpid()}-9")  # > 6 h
    junk_fresh = os.path.join(base, "resume-notapid-1")
    junk_old = os.path.join(base, "resume-notapid-2")  # > 30 min
    for d in (dead, fresh, old_live, ancient_live, junk_fresh, junk_old):
        os.makedirs(d)
    hour_ago = _time.time() - 3600
    os.utime(old_live, (hour_ago, hour_ago))
    os.utime(junk_old, (hour_ago, hour_ago))
    week_ago = _time.time() - 7 * 86400
    os.utime(ancient_live, (week_ago, week_ago))
    _sweep_stale_scratch(base)
    assert not os.path.exists(dead), "dead-owner dir must be reclaimed"
    assert os.path.exists(old_live), (
        "live owner's dir must survive mere age (lazy checkpoint reads)"
    )
    assert not os.path.exists(ancient_live), "6 h backstop must reclaim"
    assert os.path.exists(fresh), "live owner's fresh dir must survive"
    assert os.path.exists(junk_fresh), "unparseable fresh names are left"
    assert not os.path.exists(junk_old), "unparseable 30-min-stale reclaim"


def test_resume_scratch_sweeps_tmpfs_before_free_space_check(
    tmp_path, monkeypatch
):
    """r10 ADVICE (medium): the under-2-GiB tmpfs state that forces the
    .scratch fallback is exactly the leaked-checkpoint state the sweep
    reclaims, so the tmpfs base must be swept BEFORE the statvfs
    usability check — and the unchosen base must be swept too, or the
    slow-disk fallback becomes permanent.  Verified by pointing both
    bases at tmp_path dirs, seeding each with a dead-owner leak, and
    rigging statvfs to report tmpfs full: the fallback is chosen, yet
    BOTH leaks are gone afterwards."""
    import os

    from oem_gateway_spark.suite import statestore_extra as se

    tmpfs = str(tmp_path / "shm")
    fallback = str(tmp_path / "scratch")
    leak_t = os.path.join(tmpfs, "resume-999999999-1")
    leak_f = os.path.join(fallback, "resume-999999999-2")
    os.makedirs(leak_t)
    os.makedirs(leak_f)
    monkeypatch.setattr(se, "_TMPFS_BASE", tmpfs)
    monkeypatch.setattr(se, "_FALLBACK_BASE", fallback)
    swept_order: list[str] = []
    real_sweep = se._sweep_stale_scratch

    def recording_sweep(base):
        swept_order.append(base)
        real_sweep(base)

    monkeypatch.setattr(se, "_sweep_stale_scratch", recording_sweep)

    class FullFS:
        f_bavail = 0
        f_frsize = 4096

    # Patch the module-local indirection, NOT the global os.statvfs —
    # se.os is the shared module and a process-wide fake would starve
    # every concurrent statvfs caller (r11 review).
    monkeypatch.setattr(se, "_statvfs", lambda _p: FullFS())
    d = se._resume_scratch()
    assert d.startswith(fallback), "full tmpfs must fall back to .scratch"
    assert swept_order[0] == tmpfs, "tmpfs swept BEFORE the space check"
    assert not os.path.exists(leak_t), "tmpfs leak reclaimed despite fallback"
    assert not os.path.exists(leak_f), "fallback leak reclaimed too"


def test_orc_roundtrip_pushes_filter_into_orc_scan(spark):
    """The ORC datasource has its OWN pushdown stack: the ship-date
    filter must reach the ORC FileScan's PushedFilters (not evaluate
    post-scan), the scan must be the ORC format, and the vectorized
    batch path must be on."""
    from oem_gateway_spark.plans import explain_str, pushed_filters
    from oem_gateway_spark.suite import REGISTRY

    df = REGISTRY["q_orc_roundtrip"].fn(spark, SF)
    text = explain_str(df)
    assert "Scan orc" in text or "Format: ORC" in text, text
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    assert "Batched: true" in text, text
