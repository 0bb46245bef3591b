"""Witnesses read from run records.

A query's oracle proves its rows; these pin what the rows alone cannot
show — which state-store provider ran, whether changelog checkpointing
and the v3 join layout were live, how many micro-batches and stateful
operators a chained stream ran, where a kill/resume landed — from the
``RunRecord`` of the run that produced them.  Most read the session's
shared record (the ``runs`` fixture), so each streaming query runs once
per session.  The three that check session conf after a real run call
``run`` fresh.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oem_gateway_spark.suite.registry import REGISTRY, QuerySpec, run

SF = "/root/testdata/sf0.001"
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _conf_or_none(spark, key):
    try:
        return spark.conf.get(key)
    except Exception:
        return None


def _rocksdb_live(digest) -> bool:
    return any(k.startswith("rocksdb") for k in digest["custom"])


def test_run_records_are_per_run_and_left_inactive_after_failure(
    spark, monkeypatch
):
    """Two runs of one query fill two records; a builder that raises
    leaves no record active, so a later bare ``fn`` call writes to none."""
    from oem_gateway_spark.suite import registry

    a = run("u_pandas_udf_iter", spark, SF)
    b = run("u_pandas_udf_iter", spark, SF)
    assert a is not b and a.facts is not b.facts
    assert a.facts["iter_udf_inits"] > 0 and b.facts["iter_udf_inits"] > 0
    assert a.act_ms > 0 and a.build_ms > 0

    seen = []

    def boom(spark_, sf_dir):
        seen.append(registry._ACTIVE.get())
        registry.record(before_raise=1)
        raise RuntimeError("builder failed")

    monkeypatch.setitem(REGISTRY, "t_raises", QuerySpec("t_raises", boom, None))
    with pytest.raises(RuntimeError, match="builder failed"):
        run("t_raises", spark, SF)
    assert registry._ACTIVE.get() is None
    REGISTRY["u_pandas_udf_iter"].fn(spark, SF)  # records at build time
    assert seen[0].facts == {"before_raise": 1}


@pytest.mark.parametrize(
    "name", ["stream_join_then_window", "stream_upsert_rocksdb"]
)
def test_run_drops_the_memory_sink_table(spark, name):
    """A memory-sink builder's returned frame owns the sink's table, so
    ``run`` (through ``release_caches``) drops it: repeated runs leave
    the session's temporary-table count unchanged."""

    def temp_tables() -> int:
        return sum(t.isTemporary for t in spark.catalog.listTables())

    before = temp_tables()
    for _ in range(3):
        assert len(run(name, spark, SF).result) > 0
        assert temp_tables() == before


def test_rocksdb_provider_witnessed_and_conf_restored(spark, runs):
    """stream_upsert_rocksdb must (a) actually run on the RocksDB state
    store — rocksdb* custom metrics in the query progress are the
    proof; the default HDFS provider reports loadedMapCache* keys —
    (b) restore the provider conf afterwards, and (c) produce the same
    final state as the default-provider twin (provider choice is an
    execution detail, never semantics)."""
    before = _conf_or_none(spark, _PROVIDER_KEY)
    rec = run("stream_upsert_rocksdb", spark, SF)
    (digest,) = rec.streams
    assert _rocksdb_live(digest), digest["custom"]
    assert _conf_or_none(spark, _PROVIDER_KEY) == before  # no provider leak

    base = runs("stream_upsert_latest", SF).result
    r = rec.result.sort_values("node").reset_index(drop=True)
    b = base.sort_values("node").reset_index(drop=True)
    assert r.equals(b)


def test_rocksdb_upsert_changelog_live(runs):
    """stream_upsert_rocksdb runs with changelog checkpointing: changelog
    files in the state dir — the result hash alone cannot tell a snapshot
    commit from a changelog commit."""
    rec = runs("stream_upsert_rocksdb", SF)
    assert len(rec.result) > 0
    (digest,) = rec.streams
    assert _rocksdb_live(digest), (
        f"no rocksdb custom metrics — provider not live: "
        f"{sorted(digest['custom'])[:5]}"
    )
    assert rec.facts["changelog_files"] > 0, "changelog checkpointing not active"


def test_kill_resume_recovers_from_checkpoint(spark, runs):
    """The C2 recovery witness: a stateful twin stopped mid-replay and
    resumed by a NEW query on the same checkpoint must (a) actually
    resume — first resumed batchId >= 2 with input rows still to
    process, (b) run the 100 TB-default commit path — RocksDB changelog
    files in the state dir and rocksdb* custom metrics, (c) produce the
    exact final state of the uninterrupted twin (recovery is an
    execution detail, never semantics), and (d) restore every scoped
    conf."""
    keys = (
        _PROVIDER_KEY,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
    )
    before = {k: _conf_or_none(spark, k) for k in keys}

    rec = run("stream_upsert_resume", spark, SF)
    m = rec.facts

    # (a) the kill landed mid-replay and the new query RESUMED, not
    # restarted: >= 2 batches committed before the stop, < 4 total, and
    # the resumed query's first batch continues the offset log.
    assert 2 <= m["phase1_batches"] < 4, m
    assert m["resume_first_batch"] >= 2, m
    assert m["resume_rows"] > 0, m

    # (b) changelog checkpointing was live in the state dir, and the
    # resumed query ran on RocksDB.
    assert m["changelog_files"] > 0, m
    _phase1, resumed = rec.streams
    assert _rocksdb_live(resumed), resumed["custom"]

    # (c) recovery is invisible in the results.
    base = runs("stream_upsert_latest", SF).result
    r = rec.result.sort_values("node").reset_index(drop=True)
    b = base.sort_values("node").reset_index(drop=True)
    assert r.equals(b)

    # (d) no conf leaks out of the scope.
    assert {k: _conf_or_none(spark, k) for k in keys} == before


def test_state_reader_rocksdb_decodes_foreign_checkpoint(spark):
    """The statestore source must decode a ROCKSDB checkpoint (SST +
    changelog files) with NO session provider hint at read time, and
    the writer's own progress must prove the provider and changelog
    checkpointing were live."""
    rec = run("stream_state_reader_rocksdb", spark, SF)
    assert len(rec.result), "state reader returned no rows"
    # the scoped provider conf must not have leaked into the session
    assert "RocksDB" not in (spark.conf.get(_PROVIDER_KEY, "") or "")
    assert rec.facts["changelog_files"] > 0, "changelog checkpointing not live"
    (digest,) = rec.streams
    assert _rocksdb_live(digest), "writer ran without the RocksDB provider"
    # keys cover the distinct modulus space (89), not the HDFS twin's 97
    assert rec.result["k"].max() < 89


def test_rocksdb_full_outer_provider_live(runs):
    """The RocksDB full-outer twin must actually run on RocksDB with
    changelog checkpointing — not silently fall back to the default
    provider (the result hash alone cannot tell: semantics are
    provider-invariant by design)."""
    rec = runs("stream_stream_full_outer_rocksdb", SF)
    assert len(rec.result) > 0
    (digest,) = rec.streams
    assert _rocksdb_live(digest), (
        f"no rocksdb custom metrics — provider not live: "
        f"{sorted(digest['custom'])[:5]}"
    )
    assert rec.facts["changelog_files"] > 0, "changelog checkpointing not active"


def test_full_outer_rocksdb_join_state_format_v3(runs):
    """The RocksDB join twin runs join.stateFormatVersion=3 (one virtual-
    column-family store per partition instead of four named stores).
    v2's layout puts the four named store dirs (left/right x
    keyToNumValues/keyWithIndexToValue) under each partition dir; v3
    keeps the single store's files (SSTs/, changelogs) directly there —
    so the named-dir set is the format's on-disk fingerprint."""
    rec = runs("stream_stream_full_outer_rocksdb", SF)
    assert len(rec.result) > 0
    v2_dirs = {
        f"{side}-{store}"
        for side in ("left", "right")
        for store in ("keyToNumValues", "keyWithIndexToValue")
    }
    dirs = rec.facts["state_store_dirs"]
    assert not v2_dirs & set(dirs), f"expected v3 single-store layout, got {dirs}"
    assert rec.facts["changelog_files"] >= 1, rec.facts


def test_streaming_checkpoint_checksums_disabled(spark, runs):
    """Spark 4.1 writes a NON-hidden '<file>.crc' sidecar per checkpoint
    file when checkpoint.fileChecksum is enabled.  Pin the engine default
    AND the on-disk effect: the RocksDB join twin's checkpoint must hold
    zero Spark-level sidecars (Python glob skips Hadoop's dot-hidden
    LocalFS CRCs, so the count isolates the Spark feature)."""
    from oem_gateway_spark.session import DEFAULT_CONF

    key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    assert DEFAULT_CONF[key] == "false"
    assert spark.conf.get(key) == "false"
    rec = runs("stream_stream_full_outer_rocksdb", SF)
    assert rec.facts["spark_checksum_files"] == 0, rec.facts


def test_join_then_window_chain_shape(runs):
    """The chained query must execute BOTH stateful operators in ONE
    streaming query (join + windowed agg), replay the sentinel batch,
    and advance the watermark past all real data (the pushdown-trap
    regression pin: with the sentinel filter pushed into the scans, the
    watermark stalls at the real data's max and the last window never
    emits)."""
    rec = runs("stream_join_then_window", SF)
    assert len(rec.result) == 25  # sf0.001 ground truth (DuckDB join+GROUP BY)
    (m,) = rec.streams
    assert m["stateful_operators"] == ["stateStoreSave", "symmetricHashJoin"], m
    assert m["n_stateful_operators"] == 2, m
    assert m["n_batches"] >= 3, (
        f"expected data + sentinel + no-data batches, got {m['n_batches']}"
    )
    # watermark must have passed the sentinels (fails if the sentinel
    # rows are filtered at the source by predicate pushdown)
    assert m["final_watermark"] > "2024-02-20", m["final_watermark"]


def test_window_then_window_chain_shape(runs):
    """The window->window cascade must run BOTH aggregations as stateful
    operators in one query, replay the sentinel batch, and flush every
    real 2-hour window; peak_half_hour <= n with strict inequality
    somewhere (the two-level structure is doing work)."""
    rec = runs("stream_window_then_window", SF)
    rows = rec.result
    assert len(rows) > 0
    (m,) = rec.streams
    # two stateful aggregations, no join
    assert m["stateful_operators"] == ["stateStoreSave"], m
    assert m["n_stateful_operators"] == 2, m
    assert m["n_batches"] >= 3, m
    assert m["final_watermark"] > "2024-02-20", m["final_watermark"]
    assert (rows["peak_half_hour"] <= rows["n"]).all()
    assert (rows["peak_half_hour"] < rows["n"]).any(), (
        "every 2h window had a single half-hour — peak stat vacuous"
    )


def test_dedup_then_window_chain_shape(spark, runs):
    """The third multi-stateful chain must execute BOTH operators in ONE
    streaming query (dedup + windowed agg), actually DROP the doubled
    deliveries (counts equal the single-delivery batch twin), and
    advance the watermark past all real data via the sentinel batch."""
    from oem_gateway_spark.catalog import normalize_event_ts

    rec = runs("stream_dedup_then_window", SF)
    got = {(r.win_start, r.event_type): r.n for r in rec.result.itertuples()}
    batch = normalize_event_ts(
        spark.read.parquet(os.path.join(SF, "events.parquet"))
    )
    want = {
        (r.win_start, r.event_type): r.n
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
        .toPandas()
        .itertuples()
    }
    assert got == want  # doubled input, exactly-once output
    (m,) = rec.streams
    assert m["n_stateful_operators"] == 2, m
    assert "dedupeWithinWatermark" in m["stateful_operators"], m
    assert "stateStoreSave" in m["stateful_operators"], m
    assert m["final_watermark"] > "2024-02-20", m["final_watermark"]


def test_observe_metrics_fold(spark, runs):
    """observe() must deliver per-batch observation rows through the
    progress stream, and the entry's fold of them must equal the direct
    batch aggregate (the associativity contract monitoring relies on)."""
    from oem_gateway_spark.catalog import normalize_event_ts

    rec = runs("stream_observe_metrics", SF)
    got = rec.result.iloc[0]
    obs = rec.facts["observe_rows"]
    assert len(obs) >= 1  # at least one observed batch
    assert all(m["n_rows"] > 0 for m in obs)
    batch = normalize_event_ts(
        spark.read.parquet(os.path.join(SF, "events.parquet"))
    )
    want = batch.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
        F.min(F.unix_millis("ts")).alias("min_ts_ms"),
        F.max(F.unix_millis("ts")).alias("max_ts_ms"),
    ).collect()[0]
    assert got["n_rows"] == want["n_rows"] > 0
    assert got["n_clicks"] == want["n_clicks"] > 0
    assert got["n_high"] > 0
    assert got["min_ts_ms"] == want["min_ts_ms"]
    assert got["max_ts_ms"] == want["max_ts_ms"]


def test_pandas_udf_iter_init_amortized(runs):
    """SCALAR_ITER's contract IS the amortization: the 'model load' must
    run once per PARTITION (accumulator count == partitions touched),
    never once per row or per Arrow batch."""
    rec = runs("u_pandas_udf_iter", SF)
    n_rows = rec.result["n"].sum()
    inits = rec.facts["iter_udf_inits"]
    assert 0 < inits <= 32, inits  # bounded by cores/partitions
    assert inits < n_rows  # NOT per-row
    plan = rec.df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_serial_stream_replay_offset_contract(runs):
    """The g_serial_stream_replay witness numbers: phase 1 must consume
    exactly the COMPLETE lines in its prefix (the mid-line tail stays
    unconsumed — the reference's accumulate-until-newline semantics),
    phase 2 exactly the rest (split line once, whole), and together
    they account for every log line with no loss or duplication."""
    m = runs("g_serial_stream_replay", SF).facts
    assert m["phase1_rows"] == m["phase1_complete_lines"]
    assert m["phase1_rows"] > 0 and m["phase2_rows"] > 0
    assert m["phase1_rows"] + m["phase2_rows"] == m["total_lines"]


def test_framelog_stream_partitioned_phase_metrics(runs):
    """g_framelog_stream_partitioned's docstring claims, pinned from the
    run's own progress: both phases ingest rows (the checkpoint-resume
    handoff is real) and the late shard's rows land in phase 2."""
    rec = runs("g_framelog_stream_partitioned", SF)
    total = rec.result["n_frames"].sum()
    m = rec.facts
    assert m["n_shards"] == 8
    assert m["phase1_rows"] > 0 and m["phase2_rows"] > 0
    assert m["phase1_rows"] + m["phase2_rows"] == total
    # the late shard alone is ~1/8 of the corpus; phase 2 must carry at
    # least that much (its remainders make it strictly more)
    assert m["phase2_rows"] > total / 8
