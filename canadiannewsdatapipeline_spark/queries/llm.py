"""LLM-training-data pipeline corpus (BASELINE.json extensions):
deduplication, similarity search, text analysis, multimodal plumbing,
and the streaming twin — each with a DuckDB oracle where SQL can
express it.

Dialect parity notes: Spark arrays are 0-indexed, DuckDB lists
1-indexed (oracles use ``[j + 1]``); shingle/token position series in
the oracles go through a static generate_series + filter (DuckDB's
table-function form rejects correlated bounds); all hash functions are
md5-derived strings so both engines agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dup_groups,
    jaccard_pairs,
    lsh_verified_pairs,
    minhash_lsh_candidates,
    simhash,
)
from ..operators.multimodal import attach_binary_payload, decode_features
from ..operators.similarity import (
    _probe_masks,
    ann_lsh_multiprobe_pairs,
    ann_lsh_multitable_pairs,
    ann_topk,
    cosine_pairs,
    cosine_topk,
)
from ..operators.textstats import (
    LANG_STOPWORDS,
    fingerprint,
    language_scores,
    quality_features,
    token_counts,
)
from ..sources.registry import load_table, load_table_raw
from .registry import register

# Shared oracle fragments -------------------------------------------------

_TOKS = "SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents"

# distinct 3-gram shingles per doc (1-based list indexing)
_SHINGLES = f"""
toks AS ({_TOKS}),
sh AS (
  SELECT DISTINCT doc_id AS id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, (SELECT unnest(generate_series(1, 200)) AS i) g
  WHERE i <= len(t) - 2
)"""

_JACCARD_THRESHOLD = 0.5
_COS_THRESHOLD = 0.4

# distinct 31-bit shingle hashes per doc (mirrors
# operators/dedup.py::shingle_hash_set: one md5 per shingle, reduced
# mod 2^31-1; the 12 minhash functions derive from h by exact bigint
# universal hashing, so both engines agree bit-for-bit)
_SHINGLE_HASHES = f"""
toks AS ({_TOKS}),
shs AS (
  SELECT DISTINCT doc_id AS id,
         CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15)) AS BIGINT) % 2147483647 AS h
  FROM toks, (SELECT unnest(generate_series(1, 200)) AS i) g
  WHERE i <= len(t) - 2
)"""

_MH_CTE = """
mh AS (
  SELECT shs.id, g.i,
         MIN(((1000003 * g.i + 1) * shs.h + g.i) % 2147483647) AS mh
  FROM shs, (SELECT unnest(generate_series(0, 11)) AS i) g
  GROUP BY shs.id, g.i
),
bands AS (
  SELECT id, CAST(FLOOR(i / 3) AS INTEGER) AS band,
         CAST(MAX(CASE WHEN i % 3 = 0 THEN mh END) AS VARCHAR) || '|' ||
         CAST(MAX(CASE WHEN i % 3 = 1 THEN mh END) AS VARCHAR) || '|' ||
         CAST(MAX(CASE WHEN i % 3 = 2 THEN mh END) AS VARCHAR) AS sig
  FROM mh GROUP BY id, CAST(FLOOR(i / 3) AS INTEGER)
)"""

_COMMON_JACCARD = f"""
WITH {_SHINGLES},
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)"""


@register(
    "dedup_exact",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
           COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
    FROM documents GROUP BY 1
    """,
    doc="exact dedup: hash-groupBy on normalized content",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "text", "doc_id")


@register(
    "dedup_ngram_jaccard",
    _COMMON_JACCARD
    + f"""
    SELECT c.id_a, c.id_b,
           CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.id = c.id_a
    JOIN sizes sb ON sb.id = c.id_b
    WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common)
          >= {_JACCARD_THRESHOLD}
    """,
    doc="exact n-gram-Jaccard near-dup pairs (baseline for LSH)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "text", "doc_id", n=3, threshold=_JACCARD_THRESHOLD)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLE_HASHES},
    {_MH_CTE}
    SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared_bands
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
    GROUP BY 1, 2
    """,
    doc="MinHash+LSH candidate pairs: shingle->minhash->band->bucket-join",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs, "text", "doc_id", num_hashes=12, rows_per_band=3)


@register(
    "dedup_lsh_verified",
    f"""
    WITH {_SHINGLE_HASHES},
    {_MH_CTE},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
    ),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM shs GROUP BY id),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN shs a ON a.id = c.id_a
      JOIN shs b ON b.id = c.id_b AND b.h = a.h
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.id = c.id_a
    JOIN sizes sb ON sb.id = c.id_b
    WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common)
          >= {_JACCARD_THRESHOLD}
    """,
    doc="production near-dup: LSH candidates + exact Jaccard verify (no all-pairs scan)",
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lsh_verified_pairs(
        docs, "text", "doc_id", num_hashes=12, rows_per_band=3,
        threshold=_JACCARD_THRESHOLD,
    )


@register(
    "dedup_simhash",
    f"""
    WITH toks AS ({_TOKS}),
    dt AS (
      SELECT DISTINCT doc_id AS id, tok.t AS tok
      FROM toks, unnest(toks.t) AS tok(t)
    ),
    votes AS (
      SELECT id, g.b,
             SUM(2 * (ascii(substr(md5(CAST(g.b AS VARCHAR) || ':' || tok), 1, 1)) % 2) - 1)
               AS vote
      FROM dt, (SELECT unnest(generate_series(0, 15)) AS b) g
      GROUP BY id, g.b
    )
    SELECT id, CAST(SUM(CASE WHEN vote > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS simhash
    FROM votes GROUP BY id
    """,
    doc="16-bit SimHash fingerprint (near-dups collide on the fingerprint)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "text", "doc_id", bits=16)


_COS_ORACLE_CORE = """
pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
el AS (
  SELECT id_a, id_b,
         SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
         SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
         SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
  FROM pr, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY id_a, id_b
)"""


@register(
    "dedup_embedding_cosine",
    f"""
    WITH {_COS_ORACLE_CORE}
    SELECT id_a, id_b, ROUND(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM el
    WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 4) >= {_COS_THRESHOLD}
    """,
    doc="embedding-cosine near-dup pairs, exact brute force",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, "vec_id", "embedding", threshold=_COS_THRESHOLD)


@register(
    "sim_topk_cosine",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    pr AS (
      SELECT q.vec_id AS query_id, c.vec_id AS id_b,
             q.embedding AS ea, c.embedding AS eb
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    el AS (
      SELECT query_id, id_b,
             SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
             SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
             SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
      FROM pr, (SELECT unnest(generate_series(1, 64)) AS i) g
      GROUP BY query_id, id_b
    ),
    ranked AS (
      SELECT query_id, id_b AS neighbor_id,
             ROUND(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY ROUND(dot / (sqrt(na) * sqrt(nb)), 4) DESC, id_b ASC) AS rnk
      FROM el
    )
    SELECT query_id, neighbor_id, rnk, cos_sim FROM ranked WHERE rnk <= 5
    """,
    doc="brute-force cosine top-k neighbors (ANN baseline)",
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, "vec_id", "embedding", F.col("vec_id") < 20, k=5)


# 16 tables x 4 planes: measured 58/59 recall @ cos>=0.4 on sf0.01
# (vs 41/59 at 12x5) with zero post-verify false positives; recall
# rises with tables (OR) and falls with planes (AND).
_LSH_TABLES = 16
_LSH_PLANES = 4


@register(
    "sim_ann_lsh",
    f"""
    WITH planes AS (
      SELECT t.t, p.p, j.j,
             CAST((ascii(substr(md5(CAST(t.t AS VARCHAR) || ':' || CAST(p.p AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 1, 1)) % 7) - 3 AS DOUBLE) AS h
      FROM (SELECT unnest(generate_series(0, {_LSH_TABLES - 1})) AS t) t,
           (SELECT unnest(generate_series(0, {_LSH_PLANES - 1})) AS p) p,
           (SELECT unnest(generate_series(0, 63)) AS j) j
    ),
    dots AS (
      SELECT e.vec_id, pl.t, pl.p,
             ROUND(SUM(CAST(e.embedding[pl.j + 1] AS DOUBLE) * pl.h), 6) AS dot
      FROM embeddings e, planes pl
      GROUP BY e.vec_id, pl.t, pl.p
    ),
    buckets AS (
      SELECT vec_id, t,
             CAST(SUM(CASE WHEN dot >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a
      JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
                    AND a.vec_id < b.vec_id
    ),
    el AS (
      SELECT c.id_a, c.id_b,
             SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS dot,
             SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)) AS na,
             SUM(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS nb
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b,
           (SELECT unnest(generate_series(1, 64)) AS i) g
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, ROUND(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM el
    WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 4) >= {_COS_THRESHOLD}
    """,
    doc="multi-table sign-LSH ANN (OR-of-ANDs): one (tbl,bucket) equi-join + exact verify",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_multitable_pairs(
        emb,
        "vec_id",
        "embedding",
        threshold=_COS_THRESHOLD,
        n_tables=_LSH_TABLES,
        n_planes=_LSH_PLANES,
    )


# Bit-pool multi-probe operating point (round 5, the scale-safe
# configuration for the threshold-0.4 contract — sim_ann_lsh's frozen
# 16x4 point is superlinear on fresh vectors, SCALE.md §Round-5).
# Measured at sf0.01: recall 59/59 true pairs (the 16x4 point: 58/59);
# on ladder-fresh vectors (n=2000): 985/1005 = 98.0%.
_MP_POOL = 252
_MP_BITS = 12
_MP_TABLES = 160
_MP_RADIUS = 1
_MP_HAMMING = 112

_MP_MASKS = ", ".join(str(m) for m in _probe_masks(_MP_BITS, _MP_RADIUS))


@register(
    "sim_ann_lsh_multiprobe",
    f"""
    WITH emb_ok AS (
      -- mirror the Spark pipeline's null guard (similarity.py,
      -- _ann_lsh_multiprobe_distinct: isNotNull & ~exists(isNull)):
      -- a NULL vector or any NULL ELEMENT excludes the row entirely.
      -- Without this, SQL SUM would skip the NULL terms and hash a
      -- partial dot while Spark's NULL-propagating aggregate drops
      -- the vector — a latent engine/oracle divergence if fuzz data
      -- ever emits NULL elements (none does today).
      SELECT * FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ),
    planes AS (
      SELECT j.j, c.c,
             CAST((ascii(substr(md5('mp:' || CAST(j.j AS VARCHAR) || ':' || CAST(c.c AS VARCHAR)), 1, 1)) % 7) - 3 AS DOUBLE) AS h
      FROM (SELECT unnest(generate_series(0, {_MP_POOL - 1})) AS j) j,
           (SELECT unnest(generate_series(0, 63)) AS c) c
    ),
    bits AS (
      SELECT e.vec_id, pl.j,
             CASE WHEN ROUND(SUM(CAST(e.embedding[pl.c + 1] AS DOUBLE) * pl.h), 6) >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM emb_ok e, planes pl
      GROUP BY e.vec_id, pl.j
    ),
    words AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN j BETWEEN 0 AND 62 THEN CAST(bit AS BIGINT) << (62 - j) ELSE 0 END) AS BIGINT) AS w0,
             CAST(SUM(CASE WHEN j BETWEEN 63 AND 125 THEN CAST(bit AS BIGINT) << (125 - j) ELSE 0 END) AS BIGINT) AS w1,
             CAST(SUM(CASE WHEN j BETWEEN 126 AND 188 THEN CAST(bit AS BIGINT) << (188 - j) ELSE 0 END) AS BIGINT) AS w2,
             CAST(SUM(CASE WHEN j BETWEEN 189 AND 251 THEN CAST(bit AS BIGINT) << (251 - j) ELSE 0 END) AS BIGINT) AS w3
      FROM bits GROUP BY vec_id
    ),
    subsets AS (
      SELECT t, j, rn - 1 AS i FROM (
        SELECT t.t, j.j,
               ROW_NUMBER() OVER (
                 PARTITION BY t.t
                 ORDER BY md5('sub:' || CAST(t.t AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), j.j) AS rn
        FROM (SELECT unnest(generate_series(0, {_MP_TABLES - 1})) AS t) t,
             (SELECT unnest(generate_series(0, {_MP_POOL - 1})) AS j) j
      ) WHERE rn <= {_MP_BITS}
    ),
    buckets AS (
      SELECT b.vec_id, s.t,
             CAST(SUM(CAST(b.bit AS BIGINT) << ({_MP_BITS - 1} - s.i)) AS BIGINT) AS bucket
      FROM bits b JOIN subsets s ON s.j = b.j
      GROUP BY b.vec_id, s.t
    ),
    cand AS (
      SELECT DISTINCT p.vec_id AS id_a, h.vec_id AS id_b
      FROM buckets p,
           (SELECT unnest([{_MP_MASKS}]) AS mask) m,
           buckets h
      WHERE h.t = p.t
        AND h.bucket = xor(p.bucket, CAST(m.mask AS BIGINT))
        AND p.vec_id < h.vec_id
    ),
    screened AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN words a ON a.vec_id = c.id_a
      JOIN words b ON b.vec_id = c.id_b
      -- bit_count returns TINYINT in DuckDB; the 4-word sum can reach
      -- 252 and overflows 127 without the widening cast
      WHERE CAST(bit_count(xor(a.w0, b.w0)) AS INTEGER)
          + CAST(bit_count(xor(a.w1, b.w1)) AS INTEGER)
          + CAST(bit_count(xor(a.w2, b.w2)) AS INTEGER)
          + CAST(bit_count(xor(a.w3, b.w3)) AS INTEGER) <= {_MP_HAMMING}
    ),
    el AS (
      SELECT c.id_a, c.id_b,
             SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS dot,
             SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)) AS na,
             SUM(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS nb
      FROM screened c
      JOIN emb_ok ea ON ea.vec_id = c.id_a
      JOIN emb_ok eb ON eb.vec_id = c.id_b,
           (SELECT unnest(generate_series(1, 64)) AS i) g
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, ROUND(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM el
    WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 4) >= {_COS_THRESHOLD}
    """,
    doc="bit-pool multi-probe sign-LSH + Hamming prefilter + exact verify (scale path for threshold 0.4)",
)
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_multiprobe_pairs(
        emb,
        "vec_id",
        "embedding",
        threshold=_COS_THRESHOLD,
        pool=_MP_POOL,
        n_bits=_MP_BITS,
        n_tables=_MP_TABLES,
        probe_radius=_MP_RADIUS,
        hamming_max=_MP_HAMMING,
    )


# LSH bucket CTE (planes -> dots -> buckets) at the registered L x k
# operating point, used by the ANN top-k oracle below. sim_ann_lsh's
# oracle above carries its own inline copy of the same derivation:
# that oracle text is frozen for driver re-sampling (round-1 fix,
# never re-confirmed), so it is not rewritten to share this constant —
# if the bucket derivation ever changes, change BOTH in lockstep.
_LSH_BUCKETS_CTE = f"""
planes AS (
  SELECT t.t, p.p, j.j,
         CAST((ascii(substr(md5(CAST(t.t AS VARCHAR) || ':' || CAST(p.p AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 1, 1)) % 7) - 3 AS DOUBLE) AS h
  FROM (SELECT unnest(generate_series(0, {_LSH_TABLES - 1})) AS t) t,
       (SELECT unnest(generate_series(0, {_LSH_PLANES - 1})) AS p) p,
       (SELECT unnest(generate_series(0, 63)) AS j) j
),
dots AS (
  SELECT e.vec_id, pl.t, pl.p,
         ROUND(SUM(CAST(e.embedding[pl.j + 1] AS DOUBLE) * pl.h), 6) AS dot
  FROM embeddings e, planes pl
  GROUP BY e.vec_id, pl.t, pl.p
),
buckets AS (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN dot >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)
           AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, t
)"""


@register(
    "sim_topk_ann",
    f"""
    WITH {_LSH_BUCKETS_CTE},
    q AS (SELECT vec_id FROM embeddings WHERE vec_id < 20),
    cand AS (
      SELECT DISTINCT qa.vec_id AS query_id, b.vec_id AS id_b
      FROM buckets qa
      JOIN q ON qa.vec_id = q.vec_id
      JOIN buckets b ON qa.t = b.t AND qa.bucket = b.bucket
                    AND b.vec_id <> qa.vec_id
    ),
    cnt AS (SELECT query_id, COUNT(*) AS n_cand FROM cand GROUP BY 1),
    short AS (
      SELECT q.vec_id AS query_id
      FROM q LEFT JOIN cnt ON cnt.query_id = q.vec_id
      WHERE COALESCE(cnt.n_cand, 0) < 5
    ),
    full_cand AS (
      SELECT c.query_id, c.id_b FROM cand c
      WHERE c.query_id NOT IN (SELECT query_id FROM short)
      UNION ALL
      SELECT s.query_id, e.vec_id AS id_b
      FROM short s JOIN embeddings e ON e.vec_id <> s.query_id
    ),
    el AS (
      SELECT c.query_id, c.id_b,
             SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS dot,
             SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)) AS na,
             SUM(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS nb
      FROM full_cand c
      JOIN embeddings ea ON ea.vec_id = c.query_id
      JOIN embeddings eb ON eb.vec_id = c.id_b,
           (SELECT unnest(generate_series(1, 64)) AS i) g
      GROUP BY c.query_id, c.id_b
    ),
    ranked AS (
      SELECT query_id, id_b AS neighbor_id,
             ROUND(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY ROUND(dot / (sqrt(na) * sqrt(nb)), 4) DESC, id_b ASC) AS rnk
      FROM el
    )
    SELECT query_id, neighbor_id, rnk, cos_sim FROM ranked WHERE rnk <= 5
    """,
    doc="ANN-backed top-k: LSH-bucket candidates exact-ranked, per-query brute-force fallback on shortfall",
)
def sim_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk(
        emb,
        "vec_id",
        "embedding",
        F.col("vec_id") < 20,
        k=5,
        n_tables=_LSH_TABLES,
        n_planes=_LSH_PLANES,
    )


def _in_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@register(
    "text_langid",
    f"""
    WITH toks AS ({_TOKS}),
    sc AS (
      SELECT doc_id AS id,
             len(list_intersect(list_distinct(t), {_in_list(LANG_STOPWORDS['en'])})) AS score_en,
             len(list_intersect(list_distinct(t), {_in_list(LANG_STOPWORDS['fr'])})) AS score_fr,
             len(list_intersect(list_distinct(t), {_in_list(LANG_STOPWORDS['es'])})) AS score_es,
             len(list_intersect(list_distinct(t), {_in_list(LANG_STOPWORDS['de'])})) AS score_de
      FROM toks
    )
    SELECT id, score_en, score_fr, score_es, score_de,
           CASE WHEN score_en >= score_fr AND score_en >= score_es AND score_en >= score_de THEN 'en'
                WHEN score_fr >= score_es AND score_fr >= score_de THEN 'fr'
                WHEN score_es >= score_de THEN 'es'
                ELSE 'de' END AS predicted_lang
    FROM sc
    """,
    doc="stopword-hit language-ID heuristic",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return language_scores(docs, "text", "doc_id")


@register(
    "text_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents
    )
    SELECT doc_id AS id,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_distinct_tokens,
           length(text) AS n_chars,
           CAST(length(COALESCE(array_to_string(t, ''), '')) AS DOUBLE)
             / GREATEST(CAST(len(t) AS DOUBLE), 1.0) AS avg_token_len,
           0.4 * (CAST(len(list_intersect(list_distinct(t), {_in_list(LANG_STOPWORDS['en'])})) AS DOUBLE)
                  / GREATEST(CAST(len(t) AS DOUBLE), 1.0))
           + 0.3 * LEAST(CAST(len(t) AS DOUBLE) / 100, 1.0)
           + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE)
                    / GREATEST(CAST(len(t) AS DOUBLE), 1.0)) AS quality_score
    FROM toks
    """,
    doc="quality scoring: length/diversity/stopword ratios",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_features(docs, "text", "doc_id")


@register(
    "text_token_count",
    r"""
    SELECT doc_id AS id,
           len(regexp_extract_all(text, '\S+')) AS ws_token_count,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
             AS bpe_ish_token_count
    FROM documents
    """,
    doc="token counting: whitespace + BPE-ish regex",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs, "text", "doc_id")


@register(
    "text_fingerprint",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM documents
    )
    SELECT doc_id AS id,
           -- COALESCE: DuckDB array_to_string([]) is NULL where Spark
           -- array_join([]) is '' — an empty doc must still fingerprint
           -- (md5('')), not go NULL (fuzz-caught)
           md5(COALESCE(array_to_string(list_sort(list_distinct(t)), ' '), ''))
             AS fingerprint
    FROM toks
    """,
    doc="order-insensitive document fingerprint (sorted token-set md5)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs, "text", "doc_id")


@register(
    "mm_binary_stats",
    """
    SELECT doc_id AS id,
           octet_length(encode(text)) AS n_bytes,
           CAST(length(text) % 640 AS INTEGER) AS width,
           CAST(length(text) % 480 AS INTEGER) AS height,
           3 AS channels
    FROM documents
    """,
    doc="multimodal plumbing: opaque binary payload + typed metadata",
)
def mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return attach_binary_payload(docs, "text", "doc_id").select(
        "id", "n_bytes", "width", "height", "channels"
    )


@register(
    "mm_decode_features",
    # The fake decoder is deterministic sha256 arithmetic
    # (operators/multimodal.py:fake_decode), so it has an exact SQL twin:
    # DuckDB sha256(VARCHAR) hashes the UTF-8 bytes — identical to
    # hashlib.sha256(payload) since payload = encode(text).
    """
    WITH h AS (SELECT doc_id AS id, text, sha256(text) AS hx FROM documents)
    SELECT id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(CAST(concat('0x', substr(hx, 1, 4)) AS INTEGER) % 640 AS INTEGER) AS width,
           CAST(CAST(concat('0x', substr(hx, 5, 4)) AS INTEGER) % 480 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(CAST(concat('0x', substr(hx, 9, 8)) AS BIGINT) AS DOUBLE)
             / 4294967296.0 AS feat_mean
    FROM h
    """,
    doc="mapInPandas feature extraction over binary payloads (fake decoder)",
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return decode_features(attach_binary_payload(docs, "text", "doc_id"))


@register(
    "stream_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling-window agg (AvailableNow, complete mode)",
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import windowed_event_counts

    # memoized raw frame: conf pinning + footer read happen once per
    # session, not per stream start (the r4->r5 bench regression on
    # this row was exactly this per-call setup). state_partitions=2:
    # the aggregate holds ~720 hourly windows x a handful of event
    # types, and a state-store instance is created per partition per
    # micro-batch — measured 0.68-0.76 s at 2 partitions vs 0.96-1.35
    # at 8 (sf0.1); size it to key cardinality, per _state_partitions.
    events_raw = load_table_raw(spark, sf_dir, "events")
    return windowed_event_counts(spark, events_raw, state_partitions=2)


@register(
    "events_sessionize_stats",
    """
    WITH s AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM s
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1000000 AS duration_sec,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, session_id
    """,
    doc="sessionization: lag gap-detect + running-sum session ids + per-session aggs",
)
def events_sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import session_stats

    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=30)


@register(
    "sim_ann_ivf",
    f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 32),
    d AS (
      SELECT e.vec_id, c.cid,
             ROUND(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)) /
               (sqrt(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) *
                sqrt(SUM(CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)))), 6) AS cos_c
      FROM embeddings e, cent c, (SELECT unnest(generate_series(1, 64)) AS i) g
      GROUP BY e.vec_id, c.cid
    ),
    cells AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, cid ASC) AS rn
        FROM d
      ) WHERE rn <= 6
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cells a
      JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    cand_e AS (
      SELECT c.id_a, c.id_b, ea.embedding AS ea, eb.embedding AS eb
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
    ),
    el AS (
      SELECT id_a, id_b,
             SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
             SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
             SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
      FROM cand_e, (SELECT unnest(generate_series(1, 64)) AS i) g
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, ROUND(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM el
    WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 4) >= {_COS_THRESHOLD}
    """,
    doc="IVF-bucketed ANN (scale path): multi-probe (top-6 of 32 cells), verify in-cell; 57/59 recall, 0 FP at sf0.01",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ann_ivf_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_ivf_pairs(
        emb, "vec_id", "embedding", threshold=_COS_THRESHOLD,
        centroid_filter=F.col("vec_id") < 32, n_probe=6,
    )


@register(
    "doc_length_histogram",
    """
    SELECT CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY 1
    """,
    doc="corpus length histogram: fixed-width binning, one map-side-combined shuffle",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length distribution scan every corpus-curation run starts with;
    bucket count is bounded so the final agg is tiny regardless of
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / F.lit(100)).cast("bigint")
    return docs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "doc_posexplode_tokens",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT doc_id, i - 1 AS pos, t[i] AS token
    FROM toks, (SELECT unnest(generate_series(1, 40)) AS i) g
    WHERE i <= least(len(t), 40)
    """,
    doc="lateral positional explode: first-40-token prefix per sampled doc (0-indexed)",
)
def doc_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode over a sliced token array — the prefix slice happens
    BEFORE the explode, so the fan-out is bounded at 40 rows/doc no
    matter how long the document is (explode-then-filter would
    materialize every token). Spark pos is 0-based; the oracle shifts
    its 1-based series to match."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    toks = F.slice(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0), 1, 40
    )
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "token")
    ).withColumn("pos", F.col("pos").cast("bigint"))


@register(
    "stream_static_join_counts",
    """
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    doc="Structured Streaming stream-static broadcast join + tumbling agg (AvailableNow)",
)
def stream_static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import stream_static_enrich

    events_raw = load_table_raw(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return stream_static_enrich(
        spark,
        events_raw,
        dim,
        lambda s, d: s["user_id"] == d["c_custkey"],
        "c_mktsegment",
    )


@register(
    "mm_frame_sample",
    # documents.text is pure ASCII in this corpus (verified), so
    # char-slicing == byte-slicing and DuckDB md5(VARCHAR) over the
    # substring equals hashlib.md5 over the same payload bytes.
    """
    WITH f AS (
      SELECT doc_id AS id, CAST(i AS INTEGER) AS frame_idx,
             substr(text, i * 64 + 1, 64) AS frame
      FROM documents, (SELECT unnest(generate_series(0, 18)) AS i) g
      WHERE i * 64 < length(text) AND i % 2 = 0
    )
    SELECT id, frame_idx,
           CAST(length(frame) AS INTEGER) AS frame_bytes,
           md5(frame) AS frame_md5
    FROM f
    """,
    doc="multimodal frame sampling: every 2nd 64-byte frame + checksum via mapInPandas",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary_payload, frame_sample

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(
        attach_binary_payload(docs, "text", "doc_id"), frame_size=64, stride=2
    )


@register(
    "f_higher_order_arrays",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
      FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> length(x) > 3)) AS INTEGER) AS n_long,
           CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT)
             AS total_chars,
           COALESCE(array_to_string(list_sort(list_distinct(
             list_transform(toks, x -> substr(x, 1, 1)))), ''), '') AS initials
    FROM t
    """,
    doc="higher-order array functions: lambda filter/transform/aggregate, all JVM-side",
)
def f_higher_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter/transform/aggregate lambdas run inside codegen — the
    whole per-document token pipeline is one map-only stage, zero
    explode (no row blow-up) and zero Python."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda x: F.length(x) > 3)).alias("n_long"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("total_chars"),
        F.array_join(
            F.array_sort(F.array_distinct(F.transform(toks, lambda x: F.substring(x, 1, 1)))),
            "",
        ).alias("initials"),
    )


@register(
    "emb_label_centroids",
    """
    WITH ex AS (
      SELECT label, i AS pos,
             CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(28,14)) AS v
      FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) g
    )
    SELECT label, CAST(pos AS INTEGER) AS pos,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) + 0.0 AS c
    FROM ex GROUP BY label, pos
    """,
    doc="per-class embedding centroids: element-wise mean (IVF/k-means training primitive)",
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode + (label, pos) aggregate — one shuffle of (label,
    pos, v) triples, partial-aggregated map-side so the exchange moves
    ~num_labels x dim rows, not num_vectors x dim.

    Summation goes through DECIMAL(28,14): a raw double SUM is
    partition-order-dependent (both engines would drift in the low
    bits, and the old ROUND(,6) then sat one boundary flip away — the
    events_dwell_time_stats failure mode). The decimal quantization of
    each float is identical in both engines (same binary value, same
    half-up), the sum is exact under any grouping order, and the final
    /COUNT is one IEEE op on identical inputs — so no ROUND is needed
    at all. `+ 0.0` normalizes IEEE -0.0."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    )
    return ex.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("double").cast("decimal(28,14)")).cast("double")
            / F.count(F.lit(1))
            + F.lit(0.0)
        ).alias("c")
    )


_ENTROPY_ORACLE = """
    WITH p AS (
      SELECT doc_id, lower(text) AS t FROM documents
    ),
    q AS (
      SELECT doc_id, t, CAST((length(t) - length(replace(t, 'a', ''))) + (length(t) - length(replace(t, 'b', ''))) + (length(t) - length(replace(t, 'c', ''))) + (length(t) - length(replace(t, 'd', ''))) + (length(t) - length(replace(t, 'e', ''))) + (length(t) - length(replace(t, 'f', ''))) + (length(t) - length(replace(t, 'g', ''))) + (length(t) - length(replace(t, 'h', ''))) + (length(t) - length(replace(t, 'i', ''))) + (length(t) - length(replace(t, 'j', ''))) + (length(t) - length(replace(t, 'k', ''))) + (length(t) - length(replace(t, 'l', ''))) + (length(t) - length(replace(t, 'm', ''))) + (length(t) - length(replace(t, 'n', ''))) + (length(t) - length(replace(t, 'o', ''))) + (length(t) - length(replace(t, 'p', ''))) + (length(t) - length(replace(t, 'q', ''))) + (length(t) - length(replace(t, 'r', ''))) + (length(t) - length(replace(t, 's', ''))) + (length(t) - length(replace(t, 't', ''))) + (length(t) - length(replace(t, 'u', ''))) + (length(t) - length(replace(t, 'v', ''))) + (length(t) - length(replace(t, 'w', ''))) + (length(t) - length(replace(t, 'x', ''))) + (length(t) - length(replace(t, 'y', ''))) + (length(t) - length(replace(t, 'z', ''))) AS DOUBLE) AS tot FROM p
    )
    SELECT doc_id,
           CASE WHEN tot = 0 THEN 0.0
                ELSE ROUND(-((CASE WHEN length(t) > length(replace(t, 'a', '')) THEN ((length(t) - length(replace(t, 'a', ''))) / tot) * ln((length(t) - length(replace(t, 'a', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'b', '')) THEN ((length(t) - length(replace(t, 'b', ''))) / tot) * ln((length(t) - length(replace(t, 'b', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'c', '')) THEN ((length(t) - length(replace(t, 'c', ''))) / tot) * ln((length(t) - length(replace(t, 'c', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'd', '')) THEN ((length(t) - length(replace(t, 'd', ''))) / tot) * ln((length(t) - length(replace(t, 'd', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'e', '')) THEN ((length(t) - length(replace(t, 'e', ''))) / tot) * ln((length(t) - length(replace(t, 'e', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'f', '')) THEN ((length(t) - length(replace(t, 'f', ''))) / tot) * ln((length(t) - length(replace(t, 'f', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'g', '')) THEN ((length(t) - length(replace(t, 'g', ''))) / tot) * ln((length(t) - length(replace(t, 'g', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'h', '')) THEN ((length(t) - length(replace(t, 'h', ''))) / tot) * ln((length(t) - length(replace(t, 'h', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'i', '')) THEN ((length(t) - length(replace(t, 'i', ''))) / tot) * ln((length(t) - length(replace(t, 'i', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'j', '')) THEN ((length(t) - length(replace(t, 'j', ''))) / tot) * ln((length(t) - length(replace(t, 'j', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'k', '')) THEN ((length(t) - length(replace(t, 'k', ''))) / tot) * ln((length(t) - length(replace(t, 'k', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'l', '')) THEN ((length(t) - length(replace(t, 'l', ''))) / tot) * ln((length(t) - length(replace(t, 'l', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'm', '')) THEN ((length(t) - length(replace(t, 'm', ''))) / tot) * ln((length(t) - length(replace(t, 'm', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'n', '')) THEN ((length(t) - length(replace(t, 'n', ''))) / tot) * ln((length(t) - length(replace(t, 'n', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'o', '')) THEN ((length(t) - length(replace(t, 'o', ''))) / tot) * ln((length(t) - length(replace(t, 'o', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'p', '')) THEN ((length(t) - length(replace(t, 'p', ''))) / tot) * ln((length(t) - length(replace(t, 'p', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'q', '')) THEN ((length(t) - length(replace(t, 'q', ''))) / tot) * ln((length(t) - length(replace(t, 'q', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'r', '')) THEN ((length(t) - length(replace(t, 'r', ''))) / tot) * ln((length(t) - length(replace(t, 'r', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 's', '')) THEN ((length(t) - length(replace(t, 's', ''))) / tot) * ln((length(t) - length(replace(t, 's', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 't', '')) THEN ((length(t) - length(replace(t, 't', ''))) / tot) * ln((length(t) - length(replace(t, 't', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'u', '')) THEN ((length(t) - length(replace(t, 'u', ''))) / tot) * ln((length(t) - length(replace(t, 'u', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'v', '')) THEN ((length(t) - length(replace(t, 'v', ''))) / tot) * ln((length(t) - length(replace(t, 'v', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'w', '')) THEN ((length(t) - length(replace(t, 'w', ''))) / tot) * ln((length(t) - length(replace(t, 'w', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'x', '')) THEN ((length(t) - length(replace(t, 'x', ''))) / tot) * ln((length(t) - length(replace(t, 'x', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'y', '')) THEN ((length(t) - length(replace(t, 'y', ''))) / tot) * ln((length(t) - length(replace(t, 'y', ''))) / tot) ELSE 0.0 END) + (CASE WHEN length(t) > length(replace(t, 'z', '')) THEN ((length(t) - length(replace(t, 'z', ''))) / tot) * ln((length(t) - length(replace(t, 'z', ''))) / tot) ELSE 0.0 END)) / ln(2), 6) + 0.0 END AS entropy_bits
    FROM q
"""


@register(
    "text_char_entropy",
    _ENTROPY_ORACLE,
    doc="character-entropy quality signal: fixed-alphabet, map-only, zero explode",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of the letter distribution per document —
    a cheap perplexity proxy for corpus quality filtering (gibberish
    and boilerplate sit at the entropy extremes).

    Scale shape: for a FIXED alphabet, per-char counts are 26
    length-difference expressions — no per-char explode (which would
    multiply 100 TB of text into rows), no shuffle. The counts fold
    through higher-order array lambdas over NAMED intermediate columns
    (each count referenced 3x, so CollapseProject keeps them
    materialized) — inlining all 26 terms flat blows the 64 KB
    whole-stage-codegen method limit and silently falls back to
    interpreted eval. The left fold visits terms in the oracle's
    textual order, so the double arithmetic is bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    alpha = F.array(*[F.lit(c) for c in "abcdefghijklmnopqrstuvwxyz"])
    counts = F.transform(
        alpha,
        lambda ch: (F.length(t) - F.length(F.replace(t, ch, F.lit("")))).cast(
            "double"
        ),
    )
    d = docs.select("doc_id", counts.alias("counts")).select(
        "doc_id",
        "counts",
        F.aggregate("counts", F.lit(0.0), lambda a, x: a + x).alias("tot"),
    )
    tot = F.col("tot")
    terms = F.aggregate(
        "counts",
        F.lit(0.0),
        lambda a, n: a
        + F.when(n > 0, (n / tot) * F.log(n / tot)).otherwise(F.lit(0.0)),
    )
    ent = F.round(-terms / F.log(F.lit(2.0)), 6) + F.lit(0.0)
    return d.select(
        "doc_id",
        F.when(tot == 0, F.lit(0.0)).otherwise(ent).alias("entropy_bits"),
    )


@register(
    "f_json_path_ops",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           json_extract_string(props, '$.k') AS k_str,
           json_extract(props, '$.missing') IS NOT NULL AS has_missing
    FROM events WHERE event_id % 10 = 0
    """,
    doc="JSON path ops: typed extract, string extract, existence probe",
)
def f_json_path_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object path extraction — schema-on-read for
    semi-structured props columns; for hot paths with a known schema,
    from_json into a struct once beats repeated path probes."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.missing").isNotNull().alias("has_missing"),
    )


@register(
    "sketch_hash_sample_quantiles",
    """
    WITH s AS (
      SELECT o_totalprice FROM orders
      WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < 10
    )
    SELECT COUNT(*) AS n_sampled,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM s
    """,
    doc="deterministic hash-sample quantiles: bounded-memory approximate percentiles, reproducible on any engine",
)
def sketch_hash_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles the reproducible way: a deterministic
    md5-bucket sample (same 10% on every engine/run — unlike
    approx_percentile, whose sketch is engine-specific) then exact
    interpolated percentiles on the bounded sample. At 100 TB the
    sample keeps the final sort at 1/10th scale with ~1% quantile
    error; tighten/loosen via the bucket threshold."""
    from ..operators.training import _hash_pct

    o = load_table(spark, sf_dir, "orders")
    s = o.filter(_hash_pct(F.col("o_orderkey")) < 10)
    return s.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


_PROJ_OUT = 8


@register(
    "emb_project_matmul",
    f"""
    WITH w AS (
      SELECT i.i, j.j,
             CAST((ascii(substr(md5(CAST(i.i AS VARCHAR) || 'x' || CAST(j.j AS VARCHAR)), 1, 1)) % 7) - 3 AS DOUBLE) AS wij
      FROM (SELECT unnest(generate_series(0, 63)) AS i) i,
           (SELECT unnest(generate_series(0, {_PROJ_OUT - 1})) AS j) j
    )
    SELECT e.vec_id, CAST(w.j AS INTEGER) AS j,
           ROUND(SUM(CAST(e.embedding[w.i + 1] AS DOUBLE) * w.wij), 6) + 0.0 AS out_val
    FROM embeddings e, w
    WHERE e.vec_id % 10 = 0
    GROUP BY e.vec_id, w.j
    """,
    doc="dense matrix projection (64->8) as higher-order array fold — batch scoring without a UDF",
)
def emb_project_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear projection of every embedding through a deterministic
    md5-derived 64x8 weight matrix — the batch-scoring primitive
    (logistic head, PCA transform, random projection) expressed as
    zip_with + sequential fold per output dim: pure codegen, zero
    Python, zero shuffle (map-only until the optional regroup). The
    fold visits i ascending — the same order as the oracle's
    generate_series SUM, so the double arithmetic is bit-identical
    (same rule as the cosine family). Weights are constant-folded by
    Catalyst; at 100 TB the weight matrix would broadcast instead.
    ``+ 0.0`` normalizes IEEE -0.0."""
    import hashlib

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def w_col(j: int):
        # mirror of the oracle's md5 weight derivation (python md5 ==
        # engine md5 on the same ascii key; values in [-3, 3])
        vals = [
            (hashlib.md5(f"{i}x{j}".encode()).hexdigest()[0].encode()[0] % 7) - 3
            for i in range(64)
        ]
        # one parsed expression instead of 64 py4j F.lit round-trips
        # (same fix as operators/similarity._plane; values are exact
        # small integers so repr round-trips to the identical double)
        return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")")

    outs = F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(e, w_col(j), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            )
            + F.lit(0.0)
            for j in range(_PROJ_OUT)
        ]
    )
    return emb.select(
        "vec_id", F.posexplode(outs).alias("j", "out_val")
    ).withColumn("j", F.col("j").cast("int"))


@register(
    "stream_dedup_daily_active",
    """
    WITH dedup AS (
      SELECT DISTINCT user_id, CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute
      FROM events
    )
    SELECT CAST(date_trunc('day', minute) AS TIMESTAMP) AS day,
           COUNT(*) AS n_active_slots
    FROM dedup GROUP BY 1
    """,
    doc="streaming watermarked dedup -> daily activity counts (third registered stream query)",
)
def stream_dedup_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream deduplication: at most one counted slot per
    (user, minute) via dropDuplicatesWithinWatermark — the
    bounded-state dedup (state evicts past the watermark horizon,
    never grows with stream length) — then a tumbling daily count.
    The day is a function of the dedup key, so which physical row
    survives cannot change the answer (the rule for making streaming
    dedup deterministic)."""
    from ..streaming.ingest import (
        _normalize_ts,
        _stream_from_batch_source,
        complete_to_memory,
    )

    events_raw = load_table_raw(spark, sf_dir, "events")
    stream = _normalize_ts(_stream_from_batch_source(spark, events_raw))
    dedup = (
        stream.withColumn("minute", F.date_trunc("minute", "ts"))
        .withWatermark("minute", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "minute"])
    )
    agg = dedup.groupBy(
        F.date_trunc("day", "minute").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_active_slots"))
    return complete_to_memory(spark, agg, [events_raw], "sda", 8)


@register(
    "dedup_minhash_estimate",
    f"""
    WITH {_SHINGLE_HASHES},
    {_MH_CTE},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
    ),
    wa AS (SELECT id, i, mh FROM mh),
    agree AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      FROM cand c
      JOIN wa x ON x.id = c.id_a
      JOIN wa y ON y.id = c.id_b AND y.i = x.i
      GROUP BY c.id_a, c.id_b
    ),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM shs GROUP BY id),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN shs a ON a.id = c.id_a
      JOIN shs b ON b.id = c.id_b AND b.h = a.h
      GROUP BY 1, 2
    )
    SELECT g.id_a, g.id_b,
           ROUND(CAST(g.n_agree AS DOUBLE) / 12, 6) AS jaccard_est,
           ROUND(CAST(COALESCE(cm.n_common, 0) AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - COALESCE(cm.n_common, 0)), 6)
             AS jaccard_exact
    FROM agree g
    LEFT JOIN common cm ON cm.id_a = g.id_a AND cm.id_b = g.id_b
    JOIN sizes sa ON sa.id = g.id_a
    JOIN sizes sb ON sb.id = g.id_b
    """,
    doc="MinHash Jaccard estimator vs exact, side by side per candidate pair (sketch quality measured in-engine)",
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimator behind LSH: P(minhash agree) = Jaccard, so the
    agreement fraction over 12 signatures IS the estimate — computed
    here next to the exact value for every LSH candidate so the
    sketch's error is observable (and monitorable in production)
    without ever leaving the engine. Signature agreement joins on the
    unpivoted (id, i, mh) frame; exact Jaccard reuses the shingle-hash
    sets."""
    from pyspark.storagelevel import StorageLevel

    from ..operators.dedup import _mh_min, shingle_hash_set

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_hash_set(docs, "text", "doc_id", 3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    wide = sh.groupBy("id").agg(
        *[_mh_min(i) for i in range(12)], F.count(F.lit(1)).alias("n_sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    band_exprs = ", ".join(
        f"{b}, concat_ws('|', " + ", ".join(f"mh{b * 3 + r}" for r in range(3)) + ")"
        for b in range(4)
    )
    bands = wide.select("id", F.expr(f"stack(4, {band_exprs}) AS (band, sig)"))
    ba = bands.select(F.col("id").alias("id_a"), "band", "sig")
    bb = bands.select(F.col("id").alias("id_b"), "band", "sig")
    cand = (
        ba.join(bb, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    stack_expr = ", ".join(f"{i}, mh{i}" for i in range(12))
    unpivot = wide.select("id", F.expr(f"stack(12, {stack_expr}) AS (i, mh)"))
    xa = unpivot.select(F.col("id").alias("id_a"), "i", F.col("mh").alias("mh_a"))
    xb = unpivot.select(F.col("id").alias("id_b"), "i", F.col("mh").alias("mh_b"))
    agree = (
        cand.join(xa, "id_a")
        .join(xb, ["id_b", "i"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_agree")
        )
    )
    a = sh.select(F.col("id").alias("id_a"), "h")
    b = sh.select(F.col("id").alias("id_b"), "h")
    common = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = wide.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = wide.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        agree.join(common, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_agree").cast("double") / 12, 6).alias("jaccard_est"),
            F.round(
                nc.cast("double") / (F.col("n_a") + F.col("n_b") - nc), 6
            ).alias("jaccard_exact"),
        )
    )
