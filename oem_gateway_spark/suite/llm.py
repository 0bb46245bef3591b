"""LLM-data-pipeline suite (M5 / north star): dedup (exact, MinHash-LSH,
SimHash, n-gram jaccard, embedding near-dup), similarity search (brute
force + LSH ANN), text analysis, multimodal plumbing.

Oracle strategy: every hash/vector primitive lives in functions/hashing.py,
functions/vectors.py, operators/similarity.py with a ``*_sql`` DuckDB twin
generated from the SAME constants — the oracle replays identical md5-based
math, so results match exactly (no tolerances).

Duplicate corpus: documents has no duplicates by construction, so dedup
queries run on ``corpus`` = documents UNION a deterministic perturbed copy
(doc_id+10_000_000): every 3rd doc an exact copy, every 3rd a near-dup
(suffix appended), every 3rd a half-truncation.  Both engines build the
corpus from the same rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oem_gateway_spark.catalog import load_table
from oem_gateway_spark.functions import hashing as H
from oem_gateway_spark.functions import text as T
from oem_gateway_spark.functions import vectors as V
from oem_gateway_spark.operators import dedup as D
from oem_gateway_spark.operators import multimodal as M
from oem_gateway_spark.operators import similarity as S
from oem_gateway_spark.suite.registry import query

DOC_OFFSET = 10_000_000
NEAR_DUP_SUFFIX = " extra near duplicate suffix"

CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DOC_OFFSET} AS doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text
              WHEN doc_id % 3 = 1 THEN text || '{NEAR_DUP_SUFFIX}'
              ELSE substr(text, 1, CAST(floor(length(text) / 2) AS INT)) END AS text
  FROM documents
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mod = F.col("doc_id") % 3
    perturbed = docs.select(
        (F.col("doc_id") + DOC_OFFSET).alias("doc_id"),
        F.when(mod == 0, F.col("text"))
        .when(mod == 1, F.concat(F.col("text"), F.lit(NEAR_DUP_SUFFIX)))
        .otherwise(
            F.expr("substr(text, 1, CAST(floor(length(text) / 2) AS INT))")
        )
        .alias("text"),
    )
    # Testdata ships one small parquet file (1 split); spread the corpus
    # across cores before the CPU-bound shingle/hash work — stands in for
    # the many-split layout a real 100 TB corpus arrives in.
    corpus = docs.unionByName(perturbed)
    return corpus.repartition(spark.sparkContext.defaultParallelism)


# -------------------------------------------------------------------- dedup

@query(
    "d_exact_dedup_groups",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL})
    SELECT {T.fingerprint_sql('text')} AS content_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS canonical_id
    FROM corpus
    GROUP BY 1 HAVING count(*) > 1
    """,
)
def d_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: normalized-content md5, one hash shuffle;
    canonical = min doc_id (deterministic)."""
    return D.exact_dedup_groups(_corpus(spark, sf_dir))


@query(
    "d_exact_dedup_survivors",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    hashed AS (SELECT doc_id, text, {T.fingerprint_sql('text')} AS h FROM corpus),
    keep AS (SELECT h, min(doc_id) AS doc_id FROM hashed GROUP BY h)
    SELECT hashed.doc_id, CAST(length(hashed.text) AS INT) AS n_chars
    FROM hashed JOIN keep USING (h, doc_id)
    """,
)
def d_exact_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor set after exact dedup (min-id per content group)."""
    out = D.exact_dedup_keep_min(_corpus(spark, sf_dir))
    return out.select("doc_id", F.length("text").cast("int").alias("n_chars"))


@query(
    "d_exact_dedup_increment",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    hashed AS (SELECT doc_id, text, {T.fingerprint_sql('text')} AS content_hash
               FROM corpus),
    store AS (SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 5 <> 0),
    batch AS (SELECT * FROM hashed WHERE doc_id % 5 = 0),
    first AS (SELECT content_hash, min(doc_id) AS doc_id FROM batch GROUP BY 1)
    SELECT b.doc_id, b.content_hash, CAST(length(b.text) AS INT) AS n_chars
    FROM batch b JOIN first USING (content_hash, doc_id)
    WHERE b.content_hash NOT IN (SELECT content_hash FROM store)
    """,
)
def d_exact_dedup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup, driver-witnessed (VERDICT r3 gap #4): the
    corpus split deterministically into an already-ingested fingerprint
    store (doc_id % 5 != 0) and today's batch (doc_id % 5 == 0); survivors
    are batch keep-first minus store hits (operators/dedup.py:449 — linear
    in the batch, store probed via anti-join)."""
    corpus = _corpus(spark, sf_dir)
    batch = corpus.filter(F.col("doc_id") % 5 == 0)
    seen = (
        corpus.filter(F.col("doc_id") % 5 != 0)
        .select(T.fingerprint(F.col("text")).alias("content_hash"))
        .distinct()
    )
    out = D.exact_dedup_increment(batch, seen)
    return out.select(
        "doc_id", "content_hash", F.length("text").cast("int").alias("n_chars")
    )


def _minhash_oracle(n_hashes: int = 8) -> str:
    w = H.words_sql("text")
    sh = H.shingles_sql("w", 3)
    cols = ",\n           ".join(
        f"{H.minhash_sql('sh', s)} AS mh_{s}" for s in range(n_hashes)
    )
    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    toks AS (SELECT doc_id, {w} AS w FROM corpus),
    sh_t AS (SELECT doc_id, {sh} AS sh FROM toks)
    SELECT doc_id,
           {cols}
    FROM sh_t
    """


@query("d_minhash_signature", oracle=_minhash_oracle())
def d_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 md5-derived components over 3-word shingles):
    shingle explode + 8 min-aggregates — flat-column md5 in whole-stage
    codegen, partial agg collapses each doc before the one id shuffle."""
    corpus = _corpus(spark, sf_dir)
    return D.minhash_components(corpus)


def _lsh_pairs_oracle(n_hashes: int = 8, n_bands: int = 4, min_equal: int = 6) -> str:
    rows = n_hashes // n_bands
    sig = _minhash_oracle(n_hashes)
    band_selects = []
    for b in range(n_bands):
        cols = " || '_' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {cols} AS bucket,"
            f" {', '.join(f'mh_{s}' for s in range(n_hashes))} FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    eq = " + ".join(
        f"CASE WHEN a.mh_{s} = b.mh_{s} THEN 1 ELSE 0 END" for s in range(n_hashes)
    )
    return f"""
    WITH sig AS ({sig}),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             {', '.join(f'a.mh_{s}' for s in range(n_hashes))},
             {', '.join(f'b.mh_{s} AS bmh_{s}' for s in range(n_hashes))}
      FROM bands a JOIN bands b USING (band, bucket)
      WHERE a.doc_id < b.doc_id
    )
    SELECT DISTINCT id_a, id_b,
           CAST({' + '.join(f'CASE WHEN mh_{s} = bmh_{s} THEN 1 ELSE 0 END' for s in range(n_hashes))} AS INT) AS n_equal_minhash
    FROM cand
    WHERE {' + '.join(f'CASE WHEN mh_{s} = bmh_{s} THEN 1 ELSE 0 END' for s in range(n_hashes))} >= {min_equal}
    """


@query("d_minhash_lsh_pairs", oracle=_lsh_pairs_oracle())
def d_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: band-bucket join (4 bands x 2 rows)
    keeps candidate generation linear in docs; pairs keep >= 6/8 equal
    components (est. jaccard >= 0.75)."""
    return D.minhash_lsh_pairs(_corpus(spark, sf_dir))


_MINHASH_ACCURACY_ORACLE = f"""
    WITH pairs AS ({_lsh_pairs_oracle()}),
    corpus AS ({CORPUS_SQL}),
    toks AS (SELECT doc_id, {H.words_sql('text')} AS w FROM corpus),
    grams AS (SELECT doc_id, unnest(list_distinct({H.shingles_sql('w', 3)})) AS s
              FROM toks),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM grams
              GROUP BY doc_id),
    inter AS (
      SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS c
      FROM pairs p
        JOIN grams a ON a.doc_id = p.id_a
        JOIN grams b ON b.doc_id = p.id_b AND b.s = a.s
      GROUP BY p.id_a, p.id_b
    )
    SELECT p.id_a, p.id_b,
           round(p.n_equal_minhash / 8.0, 6) AS est_jaccard,
           round(COALESCE(i.c, 0) * 1.0
                 / (sa.n_sh + sb.n_sh - COALESCE(i.c, 0)), 6) AS true_jaccard,
           round(abs(p.n_equal_minhash / 8.0
                 - COALESCE(i.c, 0) * 1.0
                   / (sa.n_sh + sb.n_sh - COALESCE(i.c, 0))), 6) AS abs_err
    FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
"""


@query("d_minhash_accuracy", oracle=_MINHASH_ACCURACY_ORACLE)
def d_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch self-audit (the MinHash twin of s_ann_recall): for every
    LSH candidate pair, the signature-agreement jaccard ESTIMATE
    (n_equal/8) side by side with the TRUE jaccard over distinct 3-word
    shingle sets, and the absolute error — the in-engine measurement of
    what the 8-component sketch actually buys.

    Shape: the pair list is tiny relative to the corpus (LSH output), so
    it broadcasts into both shingle probes; the only heavy exchange is
    the per-pair intersection count, keyed on (id_a, id_b).  True-jaccard
    audits at 100 TB run exactly like this on a SAMPLE of pairs — the
    estimator is the product, the audit is the QA pass."""
    corpus = _corpus(spark, sf_dir)
    # Persist the pair list (r13): it feeds the intersection probe AND
    # the final join — without it the banded candidate self-join re-ran
    # per reference (the persist inside minhash_lsh_pairs only covers
    # the signature build below the band explode).
    pairs_full = D.minhash_lsh_pairs(corpus)
    pairs = pairs_full.persist()
    # r14 (guide §5): grams feeds THREE consumers — sizes and both
    # intersection probes (ga, gb) — so the corpus scan + tokenize +
    # shingle explode re-ran three times per action; persist it once
    # (released with the pair list below).
    grams = corpus.select(
        "doc_id",
        F.explode(
            F.array_distinct(H.shingles(H.words(F.col("text")), k=3))
        ).alias("s"),
    ).persist()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ga = grams.select(F.col("doc_id").alias("ga_id"), F.col("s").alias("ga_s"))
    gb = grams.select(F.col("doc_id").alias("gb_id"), F.col("s").alias("gb_s"))
    inter = (
        ga.join(F.broadcast(pairs.select("id_a", "id_b")), F.col("ga_id") == F.col("id_a"))
        .join(gb, (F.col("id_b") == F.col("gb_id")) & (F.col("ga_s") == F.col("gb_s")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    est = F.col("n_equal_minhash") / 8.0
    true_j = F.coalesce(F.col("c"), F.lit(0)) * 1.0 / (
        F.col("na") + F.col("nb") - F.coalesce(F.col("c"), F.lit(0))
    )
    out = (
        pairs.join(F.broadcast(sa), on="id_a")
        .join(F.broadcast(sb), on="id_b")
        .join(inter, on=["id_a", "id_b"], how="left")
        .select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(true_j, 6).alias("true_jaccard"),
            F.round(F.abs(est - true_j), 6).alias("abs_err"),
        )
    )
    from oem_gateway_spark.operators.dedup import _own_cache

    return _own_cache(
        out, pairs, grams, *getattr(pairs_full, "_owned_caches", ())
    )


_SIMHASH_HAMMING_SQL = " + ".join(
    f"bit_count(xor(a.sh_b{j}, b.sh_b{j}))" for j in range(H.SIMHASH_BANDS)
)


def _simhash_pairs_oracle(max_hamming: int) -> str:
    """All-pairs hamming filter — the oracle needn't scale, only agree;
    banded candidate generation is exact for hamming<=3, so the filtered
    cross join yields the identical pair set."""
    return f"""
    WITH corpus AS ({CORPUS_SQL}),{H.simhash64_sql_ctes()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({_SIMHASH_HAMMING_SQL} AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE {_SIMHASH_HAMMING_SQL} <= {max_hamming}
    """


@query(
    "d_simhash",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),{H.simhash64_sql_ctes()}
    SELECT doc_id, sh_b0, sh_b1, sh_b2, sh_b3, simhash_hex FROM sig
    """,
)
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures (bitwise majority of token hashes),
    carried as 4 x 16-bit band columns + hex rendering."""
    return D.simhash64_signatures(_corpus(spark, sf_dir))


@query("d_simhash_pairs", oracle=_simhash_pairs_oracle(0))
def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-0 SimHash duplicate pairs via banded LSH — candidates from
    any equal 16-bit band, verified by exact popcount; no full-signature
    self-join."""
    return D.simhash_hamming_pairs(_corpus(spark, sf_dir), max_hamming=0)


@query("d_simhash_hamming_k", oracle=_simhash_pairs_oracle(3))
def d_simhash_hamming_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming<=3 SimHash near-dup pairs: banded LSH candidate generation
    is EXACT at k<=3 by pigeonhole (4 bands, 3 differing bits)."""
    return D.simhash_hamming_pairs(_corpus(spark, sf_dir), max_hamming=3)


@query(
    "d_ngram_jaccard",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    norm AS (SELECT doc_id, {T.normalize_text_sql('text')} AS t FROM corpus),
    grams AS (
      SELECT doc_id, unnest(list_distinct({H.char_ngrams_sql('t')})) AS gram
      FROM norm),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
              FROM grams GROUP BY doc_id),
    pairs AS (SELECT doc_id AS id_a, doc_id + {DOC_OFFSET} AS id_b FROM documents),
    inter AS (
      SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM pairs p
      JOIN grams ga ON ga.doc_id = p.id_a
      JOIN grams gb ON gb.doc_id = p.id_b AND gb.gram = ga.gram
      GROUP BY p.id_a, p.id_b)
    SELECT p.id_a, p.id_b,
           round(coalesce(i.n_inter, 0) /
                 (sa.n_grams + sb.n_grams - coalesce(i.n_inter, 0)), 6) AS jaccard
    FROM pairs p
    LEFT JOIN inter i USING (id_a, id_b)
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
    """,
)
def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-trigram jaccard original-vs-perturbed (the verification
    stage after LSH candidates; distributed set ops via explode+join)."""
    corpus = _corpus(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + DOC_OFFSET).alias("id_b"),
    )
    return D.ngram_jaccard_pairs(pairs, corpus)


# ------------------------------------------------------------------- text

@query(
    "t_text_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {T.word_tokens_sql('text')} AS w FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(w) AS INT) AS n_words,
           round(list_aggregate(list_transform(w, x -> CAST(length(x) AS DOUBLE)), 'sum')
                 / greatest(len(w), 1), 4) AS avg_word_len,
           round(CAST({T.stopword_hits_sql('w', 'en')} AS DOUBLE)
                 / greatest(len(w), 1), 6) AS stopword_ratio,
           CAST({T.bpe_token_count_sql('text')} AS INT) AS bpe_tokens
    FROM toks
    """,
)
def t_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring stats: length, word count, mean word length,
    stopword ratio, BPE-ish token count — all codegen map work."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    w = T.word_tokens(F.col("text"))
    d = docs.withColumn("w", w)
    wlen_sum = F.aggregate(
        F.transform(F.col("w"), lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return d.select(
        "doc_id",
        F.length("text").cast("int").alias("n_chars"),
        F.size("w").cast("int").alias("n_words"),
        F.round(wlen_sum / F.greatest(F.size("w"), F.lit(1)), 4).alias("avg_word_len"),
        F.round(
            T.stopword_hits(F.col("w"), "en").cast("double")
            / F.greatest(F.size("w"), F.lit(1)),
            6,
        ).alias("stopword_ratio"),
        T.bpe_token_count(F.col("text")).cast("int").alias("bpe_tokens"),
    )


@query(
    "t_langid",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {T.word_tokens_sql('text')} AS w FROM documents)
    SELECT doc_id, lang AS labeled_lang, {T.langid_sql('w')} AS pred_lang
    FROM toks
    """,
)
def t_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (deterministic argmax heuristic;
    labeled lang carried for accuracy eval downstream)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    w = T.word_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.langid(w).alias("pred_lang"),
    )


@query(
    "t_fingerprint",
    oracle=f"""
    SELECT doc_id, {T.fingerprint_sql('text')} AS fingerprint,
           substr({T.fingerprint_sql('text')}, 1, 4) AS shard_key
    FROM documents
    """,
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text) + 16-bit shard prefix —
    the partition key for dedup-sharded storage at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    fp = T.fingerprint(F.col("text"))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_key"),
    )


@query(
    "t_quality_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {T.word_tokens_sql('text')} AS w FROM documents),
    feats AS (
      SELECT doc_id,
             CAST(len(w) AS INT) AS n_words,
             CAST(length(text) AS INT) AS n_chars,
             CAST({T.stopword_hits_sql('w', 'en')} AS INT) AS sw_hits,
             CAST(length(text)
                  - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                  AS INT) AS n_punct
      FROM toks)
    SELECT doc_id,
           CAST(4 * least(n_words, 100)
                + 30 * least(sw_hits, 10)
                + CASE WHEN 20 * n_punct <= n_chars THEN 100 ELSE 0 END
                AS INT) AS points,
           CASE WHEN 4 * least(n_words, 100) + 30 * least(sw_hits, 10)
                     + CASE WHEN 20 * n_punct <= n_chars THEN 100 ELSE 0 END
                     >= 500 THEN 'high'
                WHEN 4 * least(n_words, 100) + 30 * least(sw_hits, 10)
                     + CASE WHEN 20 * n_punct <= n_chars THEN 100 ELSE 0 END
                     >= 250 THEN 'medium'
                ELSE 'low' END AS tier
    FROM feats
    """,
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score as INTEGER points (capped word
    count, capped stopword evidence, low-punctuation bonus) + tier label.
    All-integer arithmetic on purpose: ratio-weighted float scores sit on
    rounding midpoints where engines disagree (see oracle-parity notes);
    points order documents identically and filter identically at any
    scale — and the whole thing is one codegen map pass, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    w = T.word_tokens(F.col("text"))
    feats = docs.select(
        "doc_id",
        F.size(w).cast("int").alias("n_words"),
        F.length("text").cast("int").alias("n_chars"),
        T.stopword_hits(w, "en").cast("int").alias("sw_hits"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
        )
        .cast("int")
        .alias("n_punct"),
    )
    points = (
        F.lit(4) * F.least(F.col("n_words"), F.lit(100))
        + F.lit(30) * F.least(F.col("sw_hits"), F.lit(10))
        + F.when(F.lit(20) * F.col("n_punct") <= F.col("n_chars"), 100).otherwise(0)
    )
    return feats.select(
        "doc_id",
        points.cast("int").alias("points"),
        F.when(points >= 500, "high")
        .when(points >= 250, "medium")
        .otherwise("low")
        .alias("tier"),
    )


# -------------------------------------------------------------- similarity

def _cosine_topk_oracle(k: int = 5, stride: int = 100) -> str:
    cos = V.cosine_sql_duckdb("c.embedding", "q.embedding")
    return f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % {stride} = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {cos} AS cos_raw
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_raw DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@query("s_cosine_topk", oracle=_cosine_topk_oracle())
def s_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query (every 100th vector queries the
    corpus).  Broadcast queries x corpus: map-only until the tiny top-k
    window; the exact baseline ANN is judged against."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.brute_force_topk(emb, queries, k=5)


def _ann_oracle(k: int = 3, stride: int = 100) -> str:
    bucket = S.lsh_bucket_sql("embedding")
    cos = V.cosine_sql_duckdb("c.embedding", "q.embedding")
    return f"""
    WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id % {stride} = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
             {cos} AS cos_raw
      FROM b c JOIN q USING (bucket)
      WHERE c.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, bucket, round(cos_raw, 6) AS cosine,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_raw DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@query("s_ann_lsh_topk", oracle=_ann_oracle())
def s_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-3: 8 random hyperplanes -> 256 sign buckets;
    only same-bucket pairs compared (the 100 TB partition-pruned path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.lsh_ann_topk(emb, queries, k=3)


@query(
    "s_embedding_neardup",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {DOC_OFFSET},
             list_transform(embedding, x -> x * 2.0e0 :: FLOAT) FROM embeddings),
    b AS (SELECT vec_id, embedding, {S.lsh_bucket_sql('embedding')} AS bucket FROM corpus)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round({V.cosine_sql_duckdb('a.embedding', 'c.embedding')}, 6) AS cosine
    FROM b a JOIN b c USING (bucket)
    WHERE a.vec_id < c.vec_id
      AND {V.cosine_sql_duckdb('a.embedding', 'c.embedding')} >= 0.9999
    """,
)
def s_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: LSH bucket grouping + cosine >= 0.9999.
    Corpus = embeddings + exactly-colinear copies (x2 scale — scale-
    invariant cosine must catch all of them; same-bucket by construction).

    Plan (r13 optimization, guide §8 — decide with small rows): the
    within-bucket pair scoring runs as applyInPandas gram matrices, so
    the Python boundary carries each vector ONCE per scoring group
    instead of once per candidate pair.  The pre-r13 bucket self-join
    materialized ~m^2/2 pair rows per bucket EACH carrying two embedding
    arrays through ArrowEvalPython (~40x the bytes at sf0.1; measured
    7.4 s -> see OPTIMIZATION_r13.md).

    r14 (r13 VERDICT #1): the scoring groups are SIZE-BOUNDED — an LSH
    bucket is where near-dups concentrate by construction, so at 100 TB
    a hot bucket fed one Python worker an uncapped m x m gram matrix
    (single-task OOM).  ``_neardup_pairs`` splits oversized buckets into
    block-pair groups of at most ~2 x _NEARDUP_GROUP_CAP vectors while
    emitting the IDENTICAL pair set (triangle decomposition — every
    same-bucket pair scores in exactly one group)."""
    emb = load_table(spark, sf_dir, "embeddings")
    copy = emb.select(
        (F.col("vec_id") + DOC_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(copy)
    b = corpus.select(
        "vec_id",
        "embedding",
        S.lsh_bucket_fast(F.col("embedding")).alias("bucket"),
    )
    pairs = _neardup_pairs(b, _NEARDUP_GROUP_CAP)
    return pairs.select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))


# Max vectors per near-dup scoring group: a block pair holds <= 2*cap
# vectors, so the per-task gram scratch is bounded by ~cap^2 doubles
# (4096 -> ~134 MB worst case) regardless of how hot an LSH bucket gets.
_NEARDUP_GROUP_CAP = 4096


def _neardup_pairs(b: DataFrame, cap: int) -> DataFrame:
    """All same-bucket (id_a < id_b, cos_raw) pairs with cosine >= 0.9999
    over ``b`` (columns: bucket, vec_id, embedding), scored in
    SIZE-BOUNDED applyInPandas groups.

    Triangle decomposition (r14; guide §2.5 salting + §8): each bucket of
    m vectors hash-splits into nblk = ceil(m / cap) blocks
    (pmod(xxhash64(vec_id), nblk) — deterministic, so task retries
    reproduce the assignment), and every unordered block pair (i <= j)
    scores as its own group; a vector in block g replicates into exactly
    the nblk groups {(min(g, t), max(g, t)) : t < nblk}.  Any two
    same-bucket vectors u, v co-occur in EXACTLY ONE scoring role:
    same-block pairs in the diagonal group (bu, bu) via the strict upper
    triangle, cross-block pairs in (min(bu, bv), max(bu, bv)) via the
    A x B rectangle — so the emitted pair set (and each pair's float64
    cosine) is the single-group gram matrix's, while per-task memory is
    bounded by the block pair (<= ~2*cap vectors, ~cap^2 scratch)
    instead of m^2.  The replication factor nblk = m/cap per vector is
    the standard bounded-triangle-join price and is 1 (zero overhead
    beyond the count join) for every bucket at or under cap."""
    import numpy as np
    import pandas as pd

    cnt = b.groupBy("bucket").agg(F.count("*").alias("_m"))
    bb = (
        b.join(F.broadcast(cnt), "bucket")
        .withColumn(
            "_nblk", F.ceil(F.col("_m") / F.lit(float(cap))).cast("int")
        )
        .withColumn(
            "_blk", F.pmod(F.xxhash64("vec_id"), F.col("_nblk")).cast("int")
        )
    )
    gp = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.col("_nblk") - 1),
            lambda t: F.struct(
                F.least(F.col("_blk"), t).alias("i"),
                F.greatest(F.col("_blk"), t).alias("j"),
            ),
        )
    )
    groups = bb.select(
        "bucket", "vec_id", "embedding", "_blk", gp.alias("_gp")
    ).select(
        "bucket",
        "vec_id",
        "embedding",
        "_blk",
        F.col("_gp.i").alias("_gi"),
        F.col("_gp.j").alias("_gj"),
    )

    def _cos_matrix(X: "np.ndarray", Y: "np.ndarray") -> "np.ndarray":
        dots = X @ Y.T
        nx = np.sqrt(np.einsum("ij,ij->i", X, X))
        ny = np.sqrt(np.einsum("ij,ij->i", Y, Y))
        denom = np.outer(nx, ny)
        return np.where(denom != 0, dots / np.where(denom == 0, 1, denom), np.nan)

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cos_raw": "float64"}
        )
        gi = int(pdf["_gi"].iat[0])
        gj = int(pdf["_gj"].iat[0])
        pdf = pdf.sort_values("vec_id")
        if gi == gj:
            ids = pdf["vec_id"].to_numpy()
            if len(ids) < 2:
                return empty
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            cos = _cos_matrix(X, X)
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = cos[iu, ju] >= 0.9999
            return pd.DataFrame(
                {
                    "id_a": ids[iu[keep]],
                    "id_b": ids[ju[keep]],
                    "cos_raw": cos[iu[keep], ju[keep]],
                }
            )
        a = pdf[pdf["_blk"].to_numpy() == gi]
        c = pdf[pdf["_blk"].to_numpy() == gj]
        if not len(a) or not len(c):
            return empty
        A = np.stack(a["embedding"].to_numpy()).astype("float64")
        Cm = np.stack(c["embedding"].to_numpy()).astype("float64")
        cos = _cos_matrix(A, Cm)
        ia, ic = np.nonzero(cos >= 0.9999)
        ida = a["vec_id"].to_numpy()[ia]
        idc = c["vec_id"].to_numpy()[ic]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ida, idc),
                "id_b": np.maximum(ida, idc),
                "cos_raw": cos[ia, ic],
            }
        )

    return groups.groupBy("bucket", "_gi", "_gj").applyInPandas(
        per_group, "id_a long, id_b long, cos_raw double"
    )


# -------------------------------------------------------------- multimodal

@query(
    "m_multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_bytes,
           CAST(list_aggregate(list_transform(range(1, length(text) + 1),
                i -> ascii(substr(text, i, 1))), 'sum') % 1000003 AS BIGINT) AS byte_sum,
           CAST(n_chars % 640 AS INT) AS width,
           CAST((doc_id * 37) % 480 AS INT) AS height
    FROM documents
    """,
)
def m_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: text packed as BINARY media blob +
    typed metadata struct -> Arrow-batched mapInPandas feature extraction
    (numpy over raw bytes).  The codec seam is operators/multimodal.py::
    decode_image (stubbed: no image libs in this container); the oracle
    checks the byte-exact features (ASCII corpus => length/ascii sums
    match UTF-8 byte math)."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_media(docs)
    return M.extract_features(media)


def _ivf_oracle(k: int = 3, stride: int = 100) -> str:
    cell = S.ivf_cell_sql("embedding")
    cos = V.cosine_sql_duckdb("c.embedding", "q.embedding")
    return f"""
    WITH b AS (SELECT vec_id, embedding, {cell} AS cell FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id % {stride} = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cell,
             {cos} AS cos_raw
      FROM b c JOIN q USING (cell)
      WHERE c.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, cell, round(cos_raw, 6) AS cosine,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_raw DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@query("s_ivf_ann_topk", oracle=_ivf_oracle())
def s_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-3: nearest-centroid cells prune the search space (the
    k-means flavored alternative to hyperplane LSH; deterministic centroid
    constants shared with the oracle, argmin tie order = numpy's)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.ivf_ann_topk(emb, queries, k=3)


def _ivf_nprobe_oracle(k: int = 3, stride: int = 100, nprobe: int = 2) -> str:
    """Twin of the multi-probe path: rank ALL cells per query by the same
    score numpy argsorts (||c||^2 - 2 v.c), keep the nprobe best."""
    cell = S.ivf_cell_sql("embedding")
    cos = V.cosine_sql_duckdb("c.embedding", "q.embedding")
    return f"""
    WITH b AS (SELECT vec_id, embedding, {cell} AS cell FROM embeddings),
    q0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % {stride} = 0),
    qscore AS (
      SELECT vec_id, embedding,
             unnest(range({S.N_CENTROIDS})) AS cell,
             unnest({S.ivf_scores_sql("embedding")}) AS score
      FROM q0),
    probed AS (
      SELECT vec_id, embedding, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY score, cell) AS cell_rank
            FROM qscore)
      WHERE cell_rank <= {nprobe}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cell,
             {cos} AS cos_raw
      FROM b c JOIN probed q USING (cell)
      WHERE c.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, cell, round(cos_raw, 6) AS cosine,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_raw DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@query("s_ivf_nprobe", oracle=_ivf_nprobe_oracle())
def s_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-3 with nprobe=2: each query probes its two nearest
    cells, recovering neighbors a hard cell boundary hides from
    single-probe IVF — recall > s_ivf_ann_topk at 2x the pruned-scan
    cost (still |corpus| * nprobe / n_cells, never all-pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.ivf_ann_topk(emb, queries, k=3, nprobe=2)


_DATA_PREP_ORACLE = f"""
    WITH corpus AS ({CORPUS_SQL}),
    toks AS (
      SELECT doc_id, text, {H.words_sql('text')} AS w FROM corpus
    ), scored AS (
      SELECT doc_id, text,
             CAST(len(w) AS INT) AS n_words,
             CAST({T.bpe_token_count_sql('text')} AS INT) AS bpe_tokens,
             CAST({T.stopword_hits_sql('w', 'en')} AS BIGINT) AS sw_hits,
             {T.fingerprint_sql('text')} AS fp
      FROM toks
    ), quality AS (
      SELECT * FROM scored
      WHERE n_words >= 20 AND bpe_tokens <= 2000 AND sw_hits >= 1
    ), dedup AS (
      SELECT fp, min(doc_id) AS doc_id FROM quality GROUP BY fp
    )
    SELECT q.doc_id, q.n_words, q.bpe_tokens
    FROM quality q JOIN dedup d ON q.fp = d.fp AND q.doc_id = d.doc_id
    """


@query("pipeline_data_prep", oracle=_DATA_PREP_ORACLE)
def pipeline_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep (the north-star composition): corpus
    -> quality gates (min words, token budget, stopword evidence) -> exact
    dedup keep-first -> surviving docs.  Every stage is an operator tested
    elsewhere; this query proves they compose into one Catalyst plan.

    Dedup keep-first runs as a row_number window over the fingerprint, not
    the groupBy+semi-join twin: the semi-join shape plans the scoring
    subtree TWICE (both join inputs recompute the regex/md5 gates — 2x the
    scan and CPU at any scale), while the window shape scores once, filters
    before the single fp exchange, and keeps the min-doc_id row per group.
    """
    from pyspark.sql.window import Window

    corpus = _corpus(spark, sf_dir)
    w = H.words(F.col("text"))
    scored = corpus.select(
        "doc_id",
        F.size(w).alias("n_words"),
        T.bpe_token_count(F.col("text")).cast("int").alias("bpe_tokens"),
        T.stopword_hits(w, "en").cast("long").alias("sw_hits"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    quality = scored.filter(
        (F.col("n_words") >= 20)
        & (F.col("bpe_tokens") <= 2000)
        & (F.col("sw_hits") >= 1)
    )
    keep_first = Window.partitionBy("fp").orderBy("doc_id")
    return (
        quality.withColumn("_rn", F.row_number().over(keep_first))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "n_words", "bpe_tokens")
    )




@query(
    "m_frame_sample",
    oracle="""
    WITH frames AS (
      SELECT doc_id,
             CAST(greatest(1, ceil(length(text) / 64.0)) AS INT) AS n_frames,
             CAST(unnest(range(0, CAST(greatest(1, ceil(length(text) / 64.0))
                                       AS INT), 2)) AS INT) AS frame_idx,
             text
      FROM documents
    )
    SELECT doc_id, frame_idx, n_frames,
           md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_fp
    FROM frames
    """,
)
def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: the media blob splits into 64-byte
    frames and every 2nd frame is kept, one row per sampled frame
    (mapInPandas FAN-OUT — rows out > rows in, the real demux shape).
    The oracle recomputes each sampled frame's md5 from the same bytes
    (ASCII corpus: substr char math == byte math); a real video backend
    swaps the splitter for keyframe extraction behind the decode seam
    (operators/multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.frame_sample(M.attach_media(docs), frame_bytes=64, every_n=2)


@query(
    "m_media_resize",
    oracle="""
    WITH sized AS (
      SELECT doc_id, text,
             CAST(greatest(1, length(text) // 192) AS INT) AS stride
      FROM documents
    ),
    sampled AS (
      SELECT doc_id, stride,
             list_aggregate(
               list_transform(
                 range(1, CAST((length(text) - 1) // stride AS INT) + 2),
                 i -> substr(text, 1 + (i - 1) * stride, 1)),
               'string_agg', '') AS s
      FROM sized
    )
    SELECT doc_id, stride,
           CAST(length(s) AS INT) AS n_bytes_out,
           md5(s) AS resized_fp
    FROM sampled
    """,
)
def m_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stand-in: every-stride-th byte of the blob (nearest-neighbor
    downsample to ~192 bytes), fingerprinted so the oracle verifies the
    exact resized payload.  The pipeline shape (Arrow batches, executor-
    side byte work, metadata out) is what a Pillow-backed resize drops
    into behind the decode seam."""
    docs = load_table(spark, sf_dir, "documents")
    return M.resize_media(M.attach_media(docs), target_bytes=192)


# ------------------------------------------------ JL random projection (r13)

def _jl_distortion_oracle(stride: int = 50, id_cap: int = 5000) -> str:
    proj = S.jl_project_sql_duckdb("embedding")
    cos_e = V.cosine_sql_duckdb("a.embedding", "b.embedding")
    cos_p = V.cosine_sql_duckdb("a.proj", "b.proj")
    return f"""
    WITH s AS (
      SELECT vec_id, embedding, {proj} AS proj
      FROM embeddings WHERE vec_id % {stride} = 0 AND vec_id < {id_cap}),
    pr AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({cos_e}, 6) AS cos_exact,
             round({cos_p}, 6) AS cos_proj
      FROM s a JOIN s b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos_exact, cos_proj,
           round(abs(cos_exact - cos_proj), 6) AS abs_gap
    FROM pr
    """


@query("s_jl_projection", oracle=_jl_distortion_oracle())
def s_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS SIGN PROJECTION, witnessed as a distortion
    audit: every 64-dim embedding in a deterministic sample is projected
    to 32 dims through a fixed +-1 matrix (md5-derived — crc32 parity is
    GF(2)-linear and factorizes into a rank-1 sign matrix, found live;
    regenerated
    identically on every executor AND inside the DuckDB oracle — no
    fitted state), and every sample pair's projected cosine sits next to
    its exact cosine with the absolute gap.

    New engine surface: DATA-INDEPENDENT DIMENSIONALITY REDUCTION — the
    missing first stage of the embedding family.  s_quantize_int8
    shrinks the VALUE width (4x, same dims); this shrinks the DIMENSION
    count (2x here, typically 24x for 1536-dim production embeddings)
    with a distribution-free guarantee (JL: gap std ~ 1/sqrt(K)), no
    training pass, and no model artifact to version — the matrix is a
    pure function of (j, i).  At 100 TB: map-only Arrow-batched matmul
    (one BLAS call per batch, zero shuffle), after which every
    downstream index build (s_ivf_*'s k-means, s_ann_lsh's planes,
    brute-force rerank) runs on K-dim vectors — the standard recipe for
    taming web-scale ANN index cost.  The oracle recomputes the
    projection by left-fold over the embedded sign rows and hash-proves
    both cosines pair-for-pair; the distortion BOUND (mean gap, tail)
    is pinned in tests/test_round13_ops.py, so the witness is the JL
    guarantee itself, not just the arithmetic.  Floats only reach the
    output through round(,6) (house float discipline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.jl_distortion_pairs(emb, stride=50, id_cap=5000)
