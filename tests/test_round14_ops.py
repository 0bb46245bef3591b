"""Round-14 optimization pins.

Each test pins one r14 optimization LIVE (not just documented):

- near-dup scoring groups are size-bounded and emit the identical pair
  set (r13 VERDICT #1 — the uncapped per-bucket gram matrix was the
  round's one perf-weak spot);
- d_semdedup_centroid ships its centroid matrix as an executor-side
  broadcast variable released through the cache-ownership convention
  (r13 VERDICT #2 — no unbounded per-task closure pickle);
- the packed simhash popcount produces byte-identical signatures to the
  64-column spec form and fails LOUDLY on lane overflow (r13 VERDICT #7);
- ngram_jaccard_pairs persists its triple-referenced gram frame (guide
  §5) and releases it through release_caches.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oem_gateway_spark.operators.dedup import release_caches
from oem_gateway_spark.suite.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _brute_pairs(rows: list[tuple[int, int, list[float]]]) -> set:
    """Reference: all same-bucket id_a < id_b pairs with cosine >= 0.9999
    (pure-python float64, the pre-r14 single-group semantics)."""
    import numpy as np

    out = set()
    by_bucket: dict[int, list] = {}
    for bucket, vid, emb in rows:
        by_bucket.setdefault(bucket, []).append((vid, np.array(emb, "float64")))
    for members in by_bucket.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (ua, va), (ub, vb) = members[i], members[j]
                denom = float(np.linalg.norm(va) * np.linalg.norm(vb))
                cos = float(va @ vb) / denom if denom else float("nan")
                if cos >= 0.9999:
                    out.add((ua, ub, round(cos, 6)))
    return out


def test_neardup_pairs_bounded_groups_identical_pairs(spark):
    """_neardup_pairs with a tiny cap must (a) emit exactly the pair set
    of the uncapped single-group gram matrix, and (b) never feed one
    applyInPandas group more than ~2*cap vectors — the triangle
    decomposition's bound, deterministic here because the block split is
    pmod(xxhash64(vec_id), nblk)."""
    from oem_gateway_spark.suite.llm import _neardup_pairs

    # one hot bucket (60 vectors: 20 colinear triples) + one small bucket
    rows = []
    for i in range(20):
        base = [float(i + 1), float(2 * i + 1), 1.0, 0.5]
        rows.append((7, 3 * i, base))
        rows.append((7, 3 * i + 1, [x * 2.0 for x in base]))
        rows.append((7, 3 * i + 2, [x * 0.5 for x in base]))
    rows.append((9, 1000, [1.0, 0.0, 0.0, 0.0]))
    rows.append((9, 1001, [1.0, 1e-6, 0.0, 0.0]))
    b = spark.createDataFrame(
        [(bk, vid, emb) for bk, vid, emb in rows],
        "bucket long, vec_id long, embedding array<double>",
    )

    cap = 8
    got = {
        (r.id_a, r.id_b, round(r.cos_raw, 6))
        for r in _neardup_pairs(b, cap).collect()
    }
    assert got == _brute_pairs(rows)

    # group-size bound: replicate the split arithmetic over small rows
    cnt = b.groupBy("bucket").agg(F.count("*").alias("_m"))
    sizes = (
        b.join(F.broadcast(cnt), "bucket")
        .withColumn("_nblk", F.ceil(F.col("_m") / F.lit(float(cap))).cast("int"))
        .withColumn("_blk", F.pmod(F.xxhash64("vec_id"), F.col("_nblk")).cast("int"))
        .select(
            "bucket",
            "_blk",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("_nblk") - 1),
                    lambda t: F.struct(
                        F.least(F.col("_blk"), t).alias("i"),
                        F.greatest(F.col("_blk"), t).alias("j"),
                    ),
                )
            ).alias("_gp"),
        )
        .groupBy("bucket", "_gp")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert sizes <= 2 * cap + 4, f"a scoring group holds {sizes} vectors"


def test_neardup_query_keeps_flatmap_groups(spark):
    """The capped rewrite must stay an applyInPandas scoring plan —
    FlatMapGroupsInPandas present, no resurrected pair self-join
    (r13 VERDICT #1 done-criterion)."""
    from tests.test_plans import explain_str

    df = REGISTRY["s_embedding_neardup"].fn(spark, SF)
    text = explain_str(df)
    assert "FlatMapGroupsInPandas" in text, text
    assert "SortMergeJoin" not in text, text


def test_semdedup_centroids_ride_a_broadcast_variable(spark):
    """r13 VERDICT #2: the centroid matrix must reach executors as a
    spark Broadcast (torrent, once per executor, releasable) rather than
    a per-task closure pickle — pinned by the Broadcast handle riding
    the query's _owned_caches so release_caches frees it with the
    persisted frames."""
    from pyspark import Broadcast

    df = REGISTRY["d_semdedup_centroid"].fn(spark, SF)
    owned = getattr(df, "_owned_caches", [])
    bcs = [c for c in owned if isinstance(c, Broadcast)]
    assert bcs, f"no Broadcast among owned caches: {[type(c) for c in owned]}"
    ids, C, cnorm = bcs[0].value
    assert len(ids) == len(C) == len(cnorm) and len(C) > 0
    df.write.format("noop").mode("overwrite").save()
    release_caches(df)  # must not raise; Broadcast.unpersist is duck-typed


def test_semdedup_sparse_centroid_ids_fail_at_build(spark):
    """r13 ADVICE: sparse/offset vec_ids (nothing below k) used to raise
    a bare numpy ValueError inside the pandas UDF at EXECUTION time;
    now the build fails immediately with the contract violation."""
    import oem_gateway_spark.suite.mlstats_extra as M

    emb = spark.range(5).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(4)]).alias("embedding"),
    )
    real_load = M.load_table

    def fake_load(spark_, sf_dir, name):
        return emb if name == "embeddings" else real_load(spark_, sf_dir, name)

    M.load_table = fake_load
    try:
        with pytest.raises(ValueError, match="no centroid vectors"):
            M.d_semdedup_centroid(spark, SF)
    finally:
        M.load_table = real_load


def test_simhash_packed_equals_spec_form(spark):
    """The packed 4-lane popcount must produce byte-identical signatures
    to the 64-column spec form (simhash64_bit_cols) — including the
    empty-document all-zero row and multi-token majority votes."""
    from oem_gateway_spark.functions import hashing as H

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, ""),
            (3, "alpha alpha alpha beta"),
            (4, "x " * 500),
            (5, "unicode tökens mixéd ças"),
        ],
        "doc_id long, text string",
    )
    toks = df.select(
        "doc_id", F.explode_outer(H.words(F.col("text"))).alias("_w")
    )
    hashed = toks.select(
        "doc_id",
        H.md5_slice32(H.simhash64_token_md5(F.col("_w")), 1).alias("_lo"),
        H.md5_slice32(H.simhash64_token_md5(F.col("_w")), 9).alias("_hi"),
    )

    def bands_of(form: str) -> pd.DataFrame:
        if form == "spec":
            cols = H.simhash64_bit_cols(F.col("_lo"), F.col("_hi"))
            agg = hashed.groupBy("doc_id").agg(
                F.count("_lo").alias("_n"),
                *[F.sum(t).alias(f"_s{b}") for b, t in enumerate(cols)],
            )
            bands = H.simhash64_bands_from_bit_sums(
                [F.col(f"_s{b}") for b in range(H.SIMHASH_BITS)], F.col("_n")
            )
        else:
            cols = H.simhash64_packed_cols(F.col("_lo"), F.col("_hi"))
            agg = hashed.groupBy("doc_id").agg(
                F.count("_lo").alias("_n"),
                *[F.sum(t).alias(f"_s{g}") for g, t in enumerate(cols)],
            )
            bands = H.simhash64_bands_from_packed(
                [F.col(f"_s{g}") for g in range(len(cols))], F.col("_n")
            )
        return (
            agg.select(
                "doc_id", *[b.alias(f"sh_b{j}") for j, b in enumerate(bands)]
            )
            .orderBy("doc_id")
            .toPandas()
        )

    assert bands_of("spec").equals(bands_of("packed"))


def test_simhash_packed_overflow_guard_fires(spark):
    """A document beyond SIMHASH_PACKED_MAX_TOKENS tokens would carry
    between 16-bit lanes; the job must fail LOUDLY (never a silently
    wrong signature).  Two loud paths exist and both are acceptable:
    ANSI sum overflow during the aggregation (a dense top lane pushes
    the packed sum past 2^63 — fires for this all-identical-token doc),
    or the assert_true token-count guard at band computation (fires
    whenever the aggregation itself survives, e.g. sparse top lanes or
    lane-carry territory at n >= 2^16)."""
    from oem_gateway_spark.functions import hashing as H
    from oem_gateway_spark.operators.dedup import simhash64_signatures

    big = spark.createDataFrame(
        [(1, "tok " * (H.SIMHASH_PACKED_MAX_TOKENS + 1))],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="packed popcount|ARITHMETIC_OVERFLOW"):
        simhash64_signatures(big).write.format("noop").mode(
            "overwrite"
        ).save()


def test_simhash_packed_count_guard_fires_without_sum_overflow(spark):
    """The assert_true guard itself, isolated from ANSI overflow: feed
    simhash64_bands_from_packed a fabricated row whose packed sums are
    tiny but whose token count exceeds the lane bound — only the count
    guard can catch that shape."""
    from oem_gateway_spark.functions import hashing as H

    row = spark.createDataFrame(
        [tuple([H.SIMHASH_PACKED_MAX_TOKENS + 1] + [0] * 16)],
        "n long, " + ", ".join(f"s{g} long" for g in range(16)),
    )
    bands = H.simhash64_bands_from_packed(
        [F.col(f"s{g}") for g in range(16)], F.col("n")
    )
    bad = row.select(*[b.alias(f"b{j}") for j, b in enumerate(bands)])
    with pytest.raises(Exception, match="packed popcount"):
        bad.write.format("noop").mode("overwrite").save()


def test_simhash_signature_agg_buffer_is_packed(spark):
    """The live signature plan must aggregate 17 functions (count + 16
    packed sums), not the 65-wide unpacked buffer (r14 plan evidence:
    HashAggregate 'Functions [65' -> '[17')."""
    from tests.test_plans import explain_str

    df = REGISTRY["d_simhash"].fn(spark, SF)
    text = explain_str(df)
    assert "Functions [17" in text, text
    assert "Functions [65" not in text, text


def test_ngram_jaccard_persists_gram_frame(spark):
    """ngram_jaccard_pairs' gram frame feeds sizes + both intersection
    probes; the r14 persist must appear as InMemoryTableScan reuse in
    the plan, cut the documents scans to the pair source + one cached
    build, and be released through the ownership convention."""
    from tests.test_plans import explain_str

    df = REGISTRY["d_ngram_jaccard"].fn(spark, SF)
    try:
        text = explain_str(df)
        assert "InMemoryTableScan" in text, text
        assert text.count("documents.parquet") <= 4, text
        assert getattr(df, "_owned_caches", []), "gram persist not owned"
    finally:
        release_caches(df)


def test_full_outer_rocksdb_join_state_format_v3(spark):
    """The RocksDB join twin runs join.stateFormatVersion=3 (one virtual-
    column-family store per partition instead of four named stores —
    r13 VERDICT #4, interleaved A/B 1.35x median).  v2's layout puts the
    four named store dirs (left/right x keyToNumValues/keyWithIndexTo-
    Value) under each partition dir; v3 keeps the single store's files
    (SSTs/, changelogs) directly there — so the named-dir set is the
    format's on-disk fingerprint.  RocksDB liveness itself stays pinned
    by test_round13_ops.test_rocksdb_full_outer_provider_live."""
    from oem_gateway_spark.suite.statestore_extra import (
        STATE_METRICS,
        stream_stream_full_outer_rocksdb,
    )

    out = stream_stream_full_outer_rocksdb(spark, SF)
    assert out.count() > 0
    m = STATE_METRICS["stream_stream_full_outer_rocksdb"]
    v2_dirs = {
        f"{side}-{store}"
        for side in ("left", "right")
        for store in ("keyToNumValues", "keyWithIndexToValue")
    }
    assert not v2_dirs & set(m["state_store_dirs"]), (
        f"expected v3 single-store layout, got {m['state_store_dirs']}"
    )
    assert m["changelog_files"] >= 1, m


def test_streaming_checkpoint_checksums_disabled(spark):
    """Spark 4.1 writes a NON-hidden '<file>.crc' sidecar per checkpoint
    file when checkpoint.fileChecksum is enabled — doubling small-file
    churn per micro-batch commit for integrity the checkpoint store
    already provides (r14 session.py; interleaved A/B 1.14-1.44x on four
    twins).  Pin the engine default AND the on-disk effect: the RocksDB
    join twin's checkpoint must hold zero Spark-level sidecars (Python
    glob skips Hadoop's dot-hidden LocalFS CRCs, so the count isolates
    the Spark feature)."""
    from oem_gateway_spark.session import DEFAULT_CONF
    from oem_gateway_spark.suite.statestore_extra import STATE_METRICS

    key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    assert DEFAULT_CONF[key] == "false"
    assert spark.conf.get(key) == "false"
    m = STATE_METRICS.get("stream_stream_full_outer_rocksdb")
    if m is None:  # run order independence: build the witness ourselves
        from oem_gateway_spark.suite.statestore_extra import (
            stream_stream_full_outer_rocksdb,
        )

        stream_stream_full_outer_rocksdb(spark, SF).count()
        m = STATE_METRICS["stream_stream_full_outer_rocksdb"]
    assert m["spark_checksum_files"] == 0, m
