"""Deduplication operators for training-data pipelines.

Four families (BASELINE.json north star), each a DataFrame composition:

  exact        - content-hash groupBy: one shuffle on a 128-bit key.
  minhash-lsh  - shingle -> MinHash signature -> band buckets -> bucket
                 join.  Candidate generation is LINEAR (each doc lands in
                 n_bands buckets); only same-bucket pairs are compared, so
                 the 100 TB cost is ~(docs x bands) shuffle + small
                 per-bucket joins instead of an O(n^2) cross join.  Skewed
                 buckets (boilerplate text) are handled by AQE skew-join
                 splitting; at extreme skew, cap bucket size before the
                 self-join (drop degenerate mega-buckets — they are
                 near-certain duplicates anyway and can be routed whole).
  simhash      - 64-bit signature carried as 4 x 16-bit bands; banded LSH
                 (any equal band) gives exact-recall candidates for
                 hamming<=3, verified by popcount of the banded XOR.
  ngram-jaccard- exact character-shingle jaccard for candidate VERIFICATION
                 (run after LSH candidate generation, never standalone at
                 scale).

All hash math is md5-based (functions/hashing.py) so the DuckDB oracle can
replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oem_gateway_spark.functions import hashing as H
from oem_gateway_spark.functions import text as T


def _own_cache(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tag ``result`` with the persisted inputs it depends on.

    The persist() inside these operators must outlive the caller's action,
    so the operator cannot unpersist eagerly; instead the caller owns the
    lifetime: materialize, then call release_caches(result).  Long-running
    hosts (bench loops, the suite harness) would otherwise leak cached
    blocks across invocations (ADVICE r1)."""
    result._owned_caches = list(getattr(result, "_owned_caches", ())) + list(cached)
    return result


def _inherit_caches(result: DataFrame, source: DataFrame) -> DataFrame:
    """Make ``result``, derived from ``source``, own what ``source`` owns."""
    return _own_cache(result, *getattr(source, "_owned_caches", ()))


def release_caches(df: DataFrame) -> None:
    """Unpersist every cache an operator attached to ``df`` (no-op for
    DataFrames without owned caches).  Call after the action completes."""
    for cached in getattr(df, "_owned_caches", ()):
        try:
            cached.unpersist()
        except Exception:  # noqa: BLE001 - session already stopped
            pass
    df._owned_caches = []


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by normalized-content fingerprint.

    Returns (content_hash, n_copies, canonical_id=min id) for groups with
    more than one member.  One hash-shuffle; canonical choice deterministic.
    """
    return (
        df.select(
            F.col(id_col), T.fingerprint(F.col(text_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def exact_dedup_keep_min(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deduplicated survivors: the min-id row per content fingerprint.

    Planned as a row_number window over the fingerprint, not a
    groupBy+left-semi: the semi-join shape plans the scan+fingerprint
    subtree TWICE (both join inputs re-run the normalize/md5 work), while
    the window fingerprints once and shuffles once on the hash."""
    from pyspark.sql.window import Window

    keep_first = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        df.withColumn("content_hash", T.fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(keep_first))
        .filter(F.col("_rn") == 1)
        .drop("content_hash", "_rn")
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Append mh_0..mh_{n-1} MinHash components (seeds = 0..n-1).

    Pure per-row map (works on any df, no id required) — but the array
    lambdas run interpreted; prefer :func:`minhash_components` on the hot
    path when a unique id column exists."""
    shingle_arr = H.shingles(H.words(F.col(text_col)), k=shingle_k)
    out = df.withColumn("_shingles", shingle_arr)
    for s in range(n_hashes):
        out = out.withColumn(f"mh_{s}", H.minhash(F.col("_shingles"), s))
    return out.drop("_shingles")


def minhash_components(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, mh_0..mh_{n-1}) via shingle explode + n min-aggregates.

    Same math as :func:`minhash_signature`, different physical shape:
    Spark evaluates array-lambda HOFs interpreted (one pass per component,
    no codegen), while this runs the md5 chain on FLAT columns inside
    whole-stage codegen — the shingle array is built once per doc, each
    needed digest materializes ONCE per shingle row (4 components slice
    from each 128-bit digest), and hash-partial-aggregation collapses each
    doc to one row per partition before the single id shuffle, so at
    100 TB the exchange carries docs, not docs x shingles."""
    n_digests = -(-n_hashes // H.MINHASH_SLICES)  # ceil
    sh = df.select(
        F.col(id_col),
        F.explode(H.shingles(H.words(F.col(text_col)), k=shingle_k)).alias("_sh"),
    )
    digests = sh.select(
        F.col(id_col),
        *[
            H.minhash_digest(F.col("_sh"), d * H.MINHASH_SLICES).alias(f"_m{d}")
            for d in range(n_digests)
        ],
    )
    return digests.groupBy(id_col).agg(
        *[
            F.min(
                H.md5_slice32(
                    F.col(f"_m{s // H.MINHASH_SLICES}"),
                    1 + 8 * (s % H.MINHASH_SLICES),
                )
            ).alias(f"mh_{s}")
            for s in range(n_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    min_equal: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding.

    n_bands bands of n_hashes/n_bands rows each; docs sharing any full band
    become candidates; candidates keep >= min_equal equal MinHash components
    (estimated jaccard >= min_equal/n_hashes).  Returns
    (id_a, id_b, n_equal_minhash) with id_a < id_b, distinct.

    ``max_bucket_size`` is the boilerplate-skew valve (None = exact
    all-pairs within every bucket): a bucket of m near-identical docs
    (cookie banners, license headers) otherwise materializes m^2/2
    candidates — quadratic in the ONE place LSH can blow up.  Buckets over
    the cap contribute STAR candidates instead (bucket-min paired with
    every member): linear, loses only member-member edges WITHIN the mega
    bucket, and those are exactly the pairs downstream connected
    components re-derives transitively through the hub.  Verification is
    unchanged — star candidates pass the same min_equal filter."""
    rows = n_hashes // n_bands
    sig = minhash_components(df, id_col, text_col, n_hashes)
    # The signature feeds both join sides and every band: persist so the
    # md5/shingle work runs ONCE.  (At 100 TB: write signatures to a
    # bucketed table instead — same idea, durable.)
    sig = sig.persist()
    # One explode pass generates all band rows (no unioned re-scans).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh_{b * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        F.col(id_col),
        F.explode(band_structs).alias("bb"),
        *[F.col(f"mh_{s}") for s in range(n_hashes)],
    ).select(
        F.col(id_col),
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        *[F.col(f"mh_{s}") for s in range(n_hashes)],
    )
    if max_bucket_size is not None:
        # One extra aggregate on the SAME (band, bucket) key the join
        # shuffles on (no new exchange shape): per-bucket size + min id.
        stats = bands.groupBy("band", "bucket").agg(
            F.count("*").alias("_sz"), F.min(id_col).alias("_bmin")
        )
        bands = bands.join(stats, on=["band", "bucket"])
        mega = bands.filter(
            (F.col("_sz") > max_bucket_size) & (F.col(id_col) != F.col("_bmin"))
        )
        bands = bands.filter(F.col("_sz") <= max_bucket_size).drop("_sz", "_bmin")
        # Star candidates: hub (bucket min) signature joined back from the
        # persisted sig — |mega members| lookup rows, never m^2.
        hub = sig.select(
            F.col(id_col).alias("_bmin"),
            *[F.col(f"mh_{s}").alias(f"a_{s}") for s in range(n_hashes)],
        )
        star = mega.join(hub, on="_bmin").select(
            F.col("_bmin").alias("id_a"),
            F.col(id_col).alias("id_b"),
            *[F.col(f"a_{s}") for s in range(n_hashes)],
            *[F.col(f"mh_{s}").alias(f"b_{s}") for s in range(n_hashes)],
        )
    else:
        star = None
    left = bands.select(
        F.col(id_col).alias("id_a"),
        "band",
        "bucket",
        *[F.col(f"mh_{s}").alias(f"a_{s}") for s in range(n_hashes)],
    )
    right = bands.select(
        F.col(id_col).alias("id_b"),
        "band",
        "bucket",
        *[F.col(f"mh_{s}").alias(f"b_{s}") for s in range(n_hashes)],
    )
    cand = left.join(right, on=["band", "bucket"]).filter(
        F.col("id_a") < F.col("id_b")
    ).select(
        "id_a",
        "id_b",
        *[F.col(f"a_{s}") for s in range(n_hashes)],
        *[F.col(f"b_{s}") for s in range(n_hashes)],
    )
    if star is not None:
        cand = cand.unionByName(star)
    cand = cand.distinct()
    n_eq: Column = sum(
        F.when(F.col(f"a_{s}") == F.col(f"b_{s}"), 1).otherwise(0)
        for s in range(n_hashes)
    )
    result = (
        cand.withColumn("n_equal_minhash", n_eq.cast("int"))
        .filter(F.col("n_equal_minhash") >= min_equal)
        .select("id_a", "id_b", "n_equal_minhash")
        .distinct()
    )
    return _own_cache(result, sig)


def minhash_probe_pairs(
    corpus: DataFrame,
    is_new: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    min_equal: int = 6,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Asymmetric incremental MinHash-LSH: probe the NEW batch's banded
    buckets against the STORE's — never the store against itself.

    ``is_new`` is a boolean Column over ``id_col`` splitting the corpus
    into today's batch (small) and the accumulated store (huge).  Both
    sides band identically (same bands/buckets as
    :func:`minhash_lsh_pairs`, so recall against the store is the same
    as the symmetric join's cross-side recall), but the join is
    new-side-BROADCAST: the store's banded rows stream map-side past a
    hash table of the batch's buckets — zero store shuffle, zero
    store-store candidates.  This is the daily-crawl dedup shape: the
    store-store pairs were already found the day each store doc arrived,
    so recomputing them (what running the symmetric join over
    store+batch would do) is pure waste — at 100 TB it is the
    difference between shuffling the corpus and broadcasting the day.

    Returns (new_id, store_id, n_equal_minhash) distinct, candidates
    verified with >= ``min_equal`` equal components exactly like the
    symmetric operator.  The broadcast is GUARDED (r7 ADVICE): if the
    new side holds more than ``max_broadcast_rows`` docs (counted on the
    persisted signature build, so the check costs no extra scan of the
    corpus), the join falls back to a plain bucket-keyed shuffle join —
    a caller passing a large ``is_new`` slice gets the documented
    fallback instead of a driver/executor OOM.  At larger batch sizes
    the same plan holds with the store side reading a MATERIALIZED
    signature table (minhash_components written once, the
    incremental-fingerprint-store discipline of exact_dedup_increment).
    """
    rows = n_hashes // n_bands
    sig = minhash_components(corpus, id_col, text_col, n_hashes).withColumn(
        "_new", is_new
    )
    # One signature build feeds both sides (persist; at 100 TB the store
    # side reads the materialized signature table instead).
    sig = sig.persist()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh_{b * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        F.col(id_col),
        F.col("_new"),
        F.explode(band_structs).alias("bb"),
        *[F.col(f"mh_{s}") for s in range(n_hashes)],
    ).select(
        F.col(id_col),
        F.col("_new"),
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        *[F.col(f"mh_{s}") for s in range(n_hashes)],
    )
    new_b = bands.filter(F.col("_new")).select(
        F.col(id_col).alias("new_id"),
        "band",
        "bucket",
        *[F.col(f"mh_{s}").alias(f"a_{s}") for s in range(n_hashes)],
    )
    store_b = bands.filter(~F.col("_new")).select(
        F.col(id_col).alias("store_id"),
        "band",
        "bucket",
        *[F.col(f"mh_{s}").alias(f"b_{s}") for s in range(n_hashes)],
    )
    # Broadcast guard: the count runs on the persisted signature frame
    # (docs, not tokens — one cached-scan aggregate).  n_bands banded rows
    # per doc is still kilobytes/doc, so the row count is the right proxy.
    new_docs = sig.filter(F.col("_new")).count()
    probe_side = (
        F.broadcast(new_b) if new_docs <= max_broadcast_rows else new_b
    )
    cand = store_b.join(probe_side, on=["band", "bucket"]).select(
        "new_id",
        "store_id",
        *[F.col(f"a_{s}") for s in range(n_hashes)],
        *[F.col(f"b_{s}") for s in range(n_hashes)],
    ).distinct()
    n_eq: Column = sum(
        F.when(F.col(f"a_{s}") == F.col(f"b_{s}"), 1).otherwise(0)
        for s in range(n_hashes)
    )
    result = (
        cand.withColumn("n_equal_minhash", n_eq.cast("int"))
        .filter(F.col("n_equal_minhash") >= min_equal)
        .select("new_id", "store_id", "n_equal_minhash")
        .distinct()
    )
    return _own_cache(result, sig)


def simhash64_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh_b0..sh_b3, simhash_hex): 64-bit SimHash as 4 x 16-bit bands.

    Physical shape mirrors :func:`minhash_components`: token explode ->
    PACKED bit-popcount sums + one token count over FLAT hash columns
    (majority vote = ``2*popcount > n``) — whole-stage codegen, with
    partial aggregation collapsing each doc per partition before the
    single id shuffle, so at 100 TB the exchange carries docs, not tokens.
    (The alternative — 64 interpreted ``F.aggregate`` array folds — runs
    outside codegen and re-walks the token array per bit.)
    ``explode_outer`` keeps empty documents: SUM skips their NULL token
    hash and the count is 0, giving the all-zero signature.

    r14 (guide §2.3, r13 VERDICT #7): the 64 per-bit sums accumulate as
    16 packed longs (4 x 16-bit lanes; ONE shift + ONE mask per packed
    column per token instead of 64 extractions, 16 buffer adds instead
    of 64, and the partial-agg exchange row narrows 65 -> 17 longs).
    Lane sums unpack to the IDENTICAL integers, so signatures are
    byte-identical; a >32767-token document fails loudly via the lane
    overflow guard in ``simhash64_bands_from_packed`` (the spec form
    ``simhash64_bit_cols`` stays, pinned equivalent by
    tests/test_round14_ops.py).
    """
    toks = df.select(
        F.col(id_col), F.explode_outer(H.words(F.col(text_col))).alias("_w")
    )
    # ONE md5 per token; both 32-bit halves slice from its 32 hex chars
    # (a second digest for the high half would double the dominant cost).
    digests = toks.select(
        F.col(id_col), H.simhash64_token_md5(F.col("_w")).alias("_m")
    )
    hashed = digests.select(
        F.col(id_col),
        H.md5_slice32(F.col("_m"), 1).alias("_lo"),
        H.md5_slice32(F.col("_m"), 9).alias("_hi"),
    )
    packed = H.simhash64_packed_cols(F.col("_lo"), F.col("_hi"))
    agg = hashed.groupBy(id_col).agg(
        F.count("_lo").alias("_n"),
        *[F.sum(t).alias(f"_s{g}") for g, t in enumerate(packed)],
    )
    bands = H.simhash64_bands_from_packed(
        [F.col(f"_s{g}") for g in range(len(packed))], F.col("_n")
    )
    return agg.select(
        F.col(id_col), *[band.alias(f"sh_b{j}") for j, band in enumerate(bands)]
    ).withColumn(
        "simhash_hex",
        F.format_string(
            "%04x%04x%04x%04x",
            F.col("sh_b3"),
            F.col("sh_b2"),
            F.col("sh_b1"),
            F.col("sh_b0"),
        ),
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 0,
) -> DataFrame:
    """(id_a, id_b, hamming) SimHash near-dup pairs via banded LSH.

    Candidate generation is LINEAR: each doc lands in 4 (band, value)
    buckets; docs sharing ANY band become candidates, verified by the exact
    hamming distance (popcount of the banded XOR).  By pigeonhole, a pair
    within hamming <= 3 of 64 bits must agree on >= 1 of the 4 16-bit bands,
    so recall is EXACT for ``max_hamming`` <= 3 — no equal-full-signature
    self-join anywhere, and the exchange keys on (band, value) so skewed
    boilerplate buckets are per-band and AQE-splittable.
    """
    if not 0 <= max_hamming <= H.SIMHASH_BANDS - 1:
        raise ValueError(
            f"banded SimHash is exact only for max_hamming <= "
            f"{H.SIMHASH_BANDS - 1}, got {max_hamming}"
        )
    n_bands = H.SIMHASH_BANDS
    sig = simhash64_signatures(df, id_col, text_col).persist()
    band_arr = F.array(
        *[
            F.struct(F.lit(j).alias("band"), F.col(f"sh_b{j}").alias("val"))
            for j in range(n_bands)
        ]
    )
    bands = sig.select(
        F.col(id_col),
        F.explode(band_arr).alias("bb"),
        *[F.col(f"sh_b{j}") for j in range(n_bands)],
    ).select(
        F.col(id_col),
        F.col("bb.band").alias("band"),
        F.col("bb.val").alias("val"),
        *[F.col(f"sh_b{j}") for j in range(n_bands)],
    )
    left = bands.select(
        F.col(id_col).alias("id_a"),
        "band",
        "val",
        *[F.col(f"sh_b{j}").alias(f"a{j}") for j in range(n_bands)],
    )
    right = bands.select(
        F.col(id_col).alias("id_b"),
        "band",
        "val",
        *[F.col(f"sh_b{j}").alias(f"b{j}") for j in range(n_bands)],
    )
    cand = (
        left.join(right, on=["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            *[F.col(f"a{j}") for j in range(n_bands)],
            *[F.col(f"b{j}") for j in range(n_bands)],
        )
        .distinct()
    )
    hamming: Column = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}")))
        for j in range(n_bands)
    )
    result = (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return _own_cache(result, sig)


def ngram_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact char-n-gram jaccard for given (id_a, id_b) candidate pairs.

    Verification stage: joins each side to its distinct n-gram set sizes and
    intersection via explode + join (set ops stay distributed; no arrays
    cross the driver).
    """
    # Gram generation stays in whole-stage codegen: explode the
    # START-POSITION range and substring per exploded row, then dedup
    # (gid, gram) DISTRIBUTED.  The obvious
    # array_distinct(char_ngrams(...)) form evaluates as an interpreted
    # array lambda with O(len^2) distinct — measured ~370 ms PER DOC on
    # 2000-char texts (the whole query took 351 s at sf0.1); this form
    # runs the same corpus in seconds.  H.char_ngrams remains the
    # spec/oracle twin — the gram SET is identical.
    norm = docs.select(
        F.col(id_col).alias("gid"),
        T.normalize_text(F.col(text_col)).alias("t"),
    )
    grams = (
        norm.select(
            "gid",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("t") - n + 1, F.lit(1)))
            ).alias("pos"),
        )
        .select("gid", F.expr(f"substring(t, pos, {n})").alias("gram"))
        .distinct()
        # r14 (guide §5): grams feeds THREE consumers — sizes, and both
        # intersection probes — so without the persist the normalize +
        # position explode + distinct shuffle re-ran three times per
        # action (the same duplicated-stage shape r13 fixed in
        # d_minhash_accuracy's pair list).  Caller releases via the
        # _own_cache convention.
        .persist()
    )
    sizes = grams.groupBy("gid").agg(F.count("*").alias("n_grams"))
    a_g = grams.select(F.col("gid").alias("id_a"), "gram")
    b_g = grams.select(F.col("gid").alias("id_b"), F.col("gram").alias("gram"))
    inter = (
        pairs.select("id_a", "id_b")
        .join(a_g, on="id_a")
        .join(b_g, on=["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("gid").alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("gid").alias("id_b"), F.col("n_grams").alias("n_b"))
    return _own_cache(
        pairs.select("id_a", "id_b")
        .join(inter, on=["id_a", "id_b"], how="left")
        .join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0))),
                6,
            ).alias("jaccard"),
        ),
        grams,
    )


def exact_dedup_increment(
    new_df: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: survivors among ``new_df`` given the
    fingerprint store of everything already ingested (``seen``: one
    ``content_hash`` column) — the daily-ingest pattern at 100 TB, where
    re-deduplicating the full corpus per batch is a non-starter.

    Two steps, both linear in the BATCH (the store is only probed):
    keep-first within the batch (row_number window over the fingerprint),
    then anti-join the store on the hash.  Appending
    ``survivors.select(content_hash)`` to the store afterwards keeps the
    invariant; at scale the store lives as a table bucketed by
    content_hash so the anti-join co-locates without a shuffle.

    Returns the surviving rows plus their ``content_hash`` (so callers
    can append it to the store without recomputing)."""
    from pyspark.sql.window import Window

    keep_first = Window.partitionBy("content_hash").orderBy(id_col)
    batch_first = (
        new_df.withColumn("content_hash", T.fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(keep_first))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return batch_first.join(
        seen.select("content_hash"), on="content_hash", how="left_anti"
    )
