"""LLM-training-data pipeline plans (SURVEY §2 #37-47): dedup tiers,
similarity search, text analysis — over the ``documents`` and
``embeddings`` tables, each with a DuckDB oracle where the semantics
are SQL-expressible. SimHash uses an engine-portable md5-derived hash
so even its hash-dependent output is oracle-checked bit-for-bit; only
the ANN top-k queries (bucketing-dependent result sets) stay
rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datasets import load
from ..num import DEC, davg
from ..operators import curation as _curation_ops
from ..operators import dedup, similarity, text, transforms
# reset_shared_caches and shared_tiers are re-exported: bench.py,
# tools/perf_probe.py and perfbench import them from this module
from .tiers import reset_shared_caches, shared_tier, shared_tiers  # noqa: F401

NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
JACCARD_THRESHOLD = 0.8
EMBED_THRESHOLD = 0.45
KNN_K = 5
KNN_QUERY_MAX_ID = 10
EMB_DIM = 64

# ---------------------------------------------------------------------------
# #37 exact dedup


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", "text")


DEDUP_EXACT_SQL = f"""
WITH norm AS (SELECT doc_id, {NORM_SQL} AS t FROM documents)
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM norm
GROUP BY t
"""

# ---------------------------------------------------------------------------
# #38 n-gram Jaccard near-dup (exact)

SHINGLES_CTE = f"""
words AS (SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, unnest(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
  UNION
  SELECT DISTINCT doc_id, array_to_string(w, ' ') AS shingle
  FROM words WHERE len(w) < 3
)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IS the shared pair tier: same PPJoin (k=3, module threshold) and
    # the tier's exact (id_a, id_b, jaccard) schema — recomputing the
    # prefix-filtered join here was the one pair-tier derivation the
    # memo didn't cover (~3 s/pass at sf0.1, the suite's 3rd most
    # expensive line, for work the build pass had already done).
    return _shared_pair_tier(spark, sf_dir)


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# #39 MinHash LSH


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # signatures and verification arrays both read the shared shingle
    # checkpoint (Catalyst does no cross-branch CSE)
    return dedup.minhash_lsh_pairs(
        _shared_shingle_tier(spark, sf_dir), "doc_id",
        num_hashes=64, bands=16, threshold=JACCARD_THRESHOLD,
    )


# Oracle: the full exact-Jaccard pair set. Sound because every
# LSH-emitted pair is exact-verified (⊆ exact always, with identical
# jaccard values), and complete because 16 bands × 4 rows over this
# corpus finds every τ=0.8 pair — banding theory puts miss probability
# at (1-j⁴)¹⁶ ≤ 4% per pair at j=0.8, and the signatures are
# DETERMINISTIC (seeded xxhash64 of fixed data), so recall=1.0 here is
# a verified constant of the corpus, not a lucky draw (checked at
# sf0.001/0.01/0.1: tests/test_dedup_consistency.py::
# test_minhash_subset_of_exact measures it). A recall miss would show
# up as a row-count mismatch — exactly what the gate should catch.
DEDUP_MINHASH_LSH_SQL = DEDUP_NGRAM_JACCARD_SQL


# ---------------------------------------------------------------------------
# #40 SimHash


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "doc_id", "text", bands=6, max_hamming=3)


# Full-pipeline oracle: the 60-bit token hash is md5-derived
# (dedup.portable_hash60) so DuckDB recomputes the IDENTICAL simhash
# per doc, then brute-forces all pairs within Hamming radius 3 — which
# is exactly simhash_pairs' output, since band blocking is provably
# exact within the radius (pigeonhole; tests/test_dedup_consistency.py
# ::test_simhash_blocking_is_exact_within_radius).
SIMHASH_MAX_HAMMING = 3
DEDUP_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
votes AS (
  SELECT doc_id, j, SUM((h >> j) & 1) AS ones, COUNT(*) AS n
  FROM hashed, unnest(generate_series(0, {dedup.SIMHASH_BITS - 1})) AS t(j)
  GROUP BY doc_id, j
),
sim AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN 2 * ones > n THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# #41 embedding cosine near-dup

DOT_AB = (
    "(SELECT SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) "
    f"FROM unnest(generate_series(1, {EMB_DIM})) AS t(i))"
)
NORM_CTE = (
    "norms AS (SELECT vec_id, embedding, "
    "sqrt((SELECT SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) "
    f"FROM unnest(generate_series(1, {EMB_DIM})) AS t(i))) AS nrm FROM embeddings)"
)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_vectorized(emb, EMBED_THRESHOLD)


DEDUP_EMBEDDING_SQL = f"""
WITH {NORM_CTE},
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({DOT_AB} / (a.nrm * b.nrm), 6) AS cosine
  FROM norms a JOIN norms b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {EMBED_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# #42 brute-force cosine top-k


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared dense tier sliced at rank <= KNN_K — an EXACT prefix
    # of the deeper tier list (the ranking is a total order: cosine
    # DESC, neighbor_id), so this equals ranking at KNN_K directly
    return _shared_dense_topk(spark, sf_dir).filter(F.col("rank") <= KNN_K)


KNN_BRUTEFORCE_SQL = f"""
WITH {NORM_CTE},
q AS (SELECT vec_id AS query_id, embedding, nrm FROM norms WHERE vec_id < {KNN_QUERY_MAX_ID}),
scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id,
         round(
           (SELECT SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) AS t(i)) / (a.nrm * b.nrm),
           6) AS cosine
  FROM q a JOIN norms b ON b.vec_id <> a.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {KNN_K}
"""

# ---------------------------------------------------------------------------
# #43 LSH ANN — oracle-checked end-to-end: the hyperplane signs are
# md5-parity-derived (similarity.plane_signs), which hashlib, Spark and
# DuckDB all agree on, so the oracle re-derives the planes IN SQL and
# replays bucketing + candidate join + exact rescoring + ranking.

LSH_PLANES = 6
LSH_TABLES = 16


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # planes=6/tables=16 tuned for THIS corpus: synthetic embeddings
    # have weak neighbor structure (rank-5 cosine ~0.3 ⇒ per-plane
    # collision ~0.6), giving measured recall@5 = 0.6 at ~4× candidate
    # pruning. Real embedding corpora (neighbor cosine 0.8+) support
    # more planes/fewer tables at far higher recall.
    # Serves from the shared LSH top-K tier (r9): the bucketing scan is
    # built once per (session, sf_dir) and reused by ann_recall.
    return _shared_lsh_topk(spark, sf_dir)


KNN_LSH_SQL = f"""
WITH {NORM_CTE},
comp AS (
  SELECT vec_id, t, p,
         SUM(CAST(embedding[j + 1] AS DOUBLE) *
             CASE WHEN substr(md5(CAST(t AS VARCHAR) || '_' || CAST(p AS VARCHAR)
                                  || '_' || CAST(j AS VARCHAR)), 1, 1)
                       IN ('1','3','5','7','9','b','d','f')
                  THEN 1.0 ELSE -1.0 END) AS dot
  FROM norms, range(0, {LSH_TABLES}) r1(t), range(0, {LSH_PLANES}) r2(p),
       range(0, {EMB_DIM}) r3(j)
  GROUP BY vec_id, t, p
),
buckets AS (
  SELECT vec_id, t,
         SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM comp GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM buckets qb
  JOIN buckets cb ON qb.t = cb.t AND qb.bucket = cb.bucket
  WHERE qb.vec_id < {KNN_QUERY_MAX_ID} AND cb.vec_id <> qb.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(
           (SELECT SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) AS t(i)) / (a.nrm * b.nrm),
           6) AS cosine
  FROM cand c
  JOIN norms a ON a.vec_id = c.query_id
  JOIN norms b ON b.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
FROM ranked WHERE rank <= {KNN_K}
"""


# ---------------------------------------------------------------------------
# #43b IVF-Flat ANN — oracle-checked end-to-end: the centroid sample
# orders by md5(vec_id) (portable across hashlib/Spark/DuckDB), so the
# oracle re-derives the quantizer, replays list assignment (argmax with
# Spark's first-position tie-break), probing (top-nprobe with Spark's
# reverse-sort tie-break: score DESC, centroid index DESC), and exact
# rescoring.

IVF_NLIST = 16
IVF_NPROBE = 4


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # serves from the shared IVF top-K tier (r9): the centroid scoring
    # + probe scan is built once per (session, sf_dir), reused by
    # ann_recall
    return _shared_ivf_topk(spark, sf_dir)


# the quantizer + list-assignment CTE chain is shared by the IVF
# retrieval oracle (#43b) and the list-balance diagnostic (#224) —
# one builder so the two can never drift
_IVF_ASSIGN_CTES = f"""{NORM_CTE},
cent AS (
  SELECT embedding, nrm, c FROM (
    SELECT embedding, nrm,
           CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS c
    FROM norms
  ) WHERE c <= {IVF_NLIST}
),
scores AS (
  SELECT n.vec_id, c.c,
         (SELECT SUM(CAST(n.embedding[i] AS DOUBLE)
                     * (CAST(c.embedding[i] AS DOUBLE) / c.nrm))
          FROM unnest(generate_series(1, {EMB_DIM})) t(i)) AS s
  FROM norms n, cent c
),
assigned AS (
  SELECT vec_id, c AS list_id FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn
    FROM scores
  ) WHERE rn = 1
)"""

KNN_IVF_SQL = f"""
WITH {_IVF_ASSIGN_CTES},
probes AS (
  SELECT vec_id AS query_id, c AS list_id FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) AS rn
    FROM scores WHERE vec_id < {KNN_QUERY_MAX_ID}
  ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a USING (list_id)
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(
           (SELECT SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) AS t(i)) / (a.nrm * b.nrm),
           6) AS cosine
  FROM cand c
  JOIN norms a ON a.vec_id = c.query_id
  JOIN norms b ON b.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
FROM ranked WHERE rank <= {KNN_K}
"""


# ---------------------------------------------------------------------------
# #235 IVF-PQ ANN (VERDICT r10 ask #4) — the memory-bound serving tier
# on top of the #43b coarse quantizer (Jégou, Douze & Schmid 2011,
# with the FAISS IndexRefineFlat exact-rescore stage): candidates come
# from the SAME nprobe inverted lists, are ranked from m-subspace
# product-quantization codes + an exact stored norm (48 bits + a
# double per vector here vs 256 bytes of floats), and the top-REFINE
# shortlist is rescored exactly — the standard layout when 100 TB of
# float embeddings won't fit the serving fleet's memory. Codebooks are
# the md5-ordered deterministic sample (the ivf_centroids discipline),
# so the oracle re-derives codebooks, per-subspace code assignments,
# query LUTs, the quantized candidate scores, the shortlist cut AND
# the exact rescoring in SQL — encoding, probing and serving are all
# value-checked end to end. Query LUT entries are micro-quantized so
# the per-candidate subspace sum is exact-integer (engine-order-
# independent by construction — the quantize-first rule).

PQ_M = 8  # subspaces (EMB_DIM/PQ_M dims each)
PQ_KSUB = 64  # codes per subspace → m·log2(ksub) = 48 bits/vector
PQ_REFINE = 50  # exact-rescore shortlist depth (10× KNN_K)


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_ivfpq(
        emb,
        queries,
        k=KNN_K,
        nlist=IVF_NLIST,
        nprobe=IVF_NPROBE,
        m=PQ_M,
        ksub=PQ_KSUB,
        refine=PQ_REFINE,
        dim=EMB_DIM,
    )


def _knn_ivfpq_sql() -> str:
    sub = EMB_DIM // PQ_M
    return f"""
WITH {_IVF_ASSIGN_CTES},
subs AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s),
pqsample AS (
  SELECT embedding, c AS code_id FROM (
    SELECT embedding,
           CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS c
    FROM norms
  ) WHERE c <= {PQ_KSUB}
),
subcodes AS (
  SELECT subs.s, p.code_id, p.embedding,
         (SELECT SUM(CAST(p.embedding[subs.s * {sub} + i] AS DOUBLE)
                     * CAST(p.embedding[subs.s * {sub} + i] AS DOUBLE))
          FROM unnest(generate_series(1, {sub})) t(i)) AS n2
  FROM pqsample p CROSS JOIN subs
),
encdist AS (
  SELECT n.vec_id, sc.s, sc.code_id,
         sc.n2 - 2 * (SELECT SUM(CAST(n.embedding[sc.s * {sub} + i] AS DOUBLE)
                                 * CAST(sc.embedding[sc.s * {sub} + i] AS DOUBLE))
                      FROM unnest(generate_series(1, {sub})) t(i)) AS dist
  FROM norms n CROSS JOIN subcodes sc
),
enc AS (
  SELECT vec_id, s, code_id FROM (
    SELECT vec_id, s, code_id,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist, code_id) AS rn
    FROM encdist
  ) WHERE rn = 1
),
qlut AS (
  SELECT n.vec_id AS query_id, sc.s, sc.code_id,
         CAST(floor((SELECT SUM(CAST(n.embedding[sc.s * {sub} + i] AS DOUBLE)
                                * CAST(sc.embedding[sc.s * {sub} + i] AS DOUBLE))
                     FROM unnest(generate_series(1, {sub})) t(i))
                    * 1000000 + 0.5) AS BIGINT) AS lut
  FROM norms n CROSS JOIN subcodes sc
  WHERE n.vec_id < {KNN_QUERY_MAX_ID}
),
probes AS (
  SELECT vec_id AS query_id, c AS list_id FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c DESC) AS rn
    FROM scores WHERE vec_id < {KNN_QUERY_MAX_ID}
  ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a USING (list_id)
  WHERE a.vec_id <> p.query_id
),
approx AS (
  SELECT c.query_id, c.neighbor_id, CAST(SUM(l.lut) AS BIGINT) AS dot_micro
  FROM cand c
  JOIN enc e ON e.vec_id = c.neighbor_id
  JOIN qlut l ON l.query_id = c.query_id AND l.s = e.s
             AND l.code_id = e.code_id
  GROUP BY 1, 2
),
pqscored AS (
  SELECT a.query_id, a.neighbor_id,
         floor((CAST(a.dot_micro AS DOUBLE) / 1000000.0
                / (qn.nrm * cn.nrm)) * 1000000 + 0.5) / 1000000 AS cosine_pq
  FROM approx a
  JOIN norms qn ON qn.vec_id = a.query_id
  JOIN norms cn ON cn.vec_id = a.neighbor_id
),
pqranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_pq DESC, neighbor_id) AS pq_rank
  FROM pqscored
),
refined AS (
  SELECT r.query_id, r.neighbor_id,
         round(
           (SELECT SUM(CAST(a.embedding[i] AS DOUBLE)
                       * CAST(b.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) t(i))
           / (a.nrm * b.nrm), 6) AS cosine
  FROM pqranked r
  JOIN norms a ON a.vec_id = r.query_id
  JOIN norms b ON b.vec_id = r.neighbor_id
  WHERE r.pq_rank <= {PQ_REFINE}
),
finalrank AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM refined
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
FROM finalrank WHERE rank <= {KNN_K}
"""


KNN_IVFPQ_SQL = _knn_ivfpq_sql()


# ---------------------------------------------------------------------------
# #44 language ID


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    scored = text.lang_scores(docs, "text")
    return scored.select(
        "doc_id", *[f"score_{lang}" for lang in text.LANGS], "lang_pred"
    )


def _lang_id_sql() -> str:
    exprs = text.sql_lang_scores("text")
    score_cols = ",\n       ".join(
        f"{exprs[lang]} AS score_{lang}" for lang in text.LANGS
    )
    return f"""
WITH scored AS (
  SELECT doc_id,
       {score_cols}
  FROM documents
)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in text.LANGS)},
       {exprs["lang_pred"]} AS lang_pred
FROM scored
"""


LANG_ID_SQL = _lang_id_sql()

# ---------------------------------------------------------------------------
# #45 quality scoring


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consumes the shared gate-features staging tier: the tier's
    # quality columns are the SAME quality_features expressions this
    # query computed inline (materialized once per pipeline run)
    feats = _shared_gate_tier(spark, sf_dir)
    return feats.select(
        "doc_id",
        "n_words",
        "avg_word_len",
        "punct_ratio",
        "stopword_ratio",
        "distinct_ratio",
        "quality_score",
    )


QUALITY_SCORE_SQL = f"""
WITH norm AS (
  SELECT doc_id, {NORM_SQL} AS t, string_split({NORM_SQL}, ' ') AS w
  FROM documents
),
feats AS (
  SELECT doc_id,
         length(t) AS n_chars,
         len(w) AS n_words,
         len(list_distinct(w)) AS n_distinct,
         CAST(len(regexp_extract_all(t, '{text.stopword_regex(text.LANG_STOPWORDS["en"])}')) AS DOUBLE) AS stop,
         CAST(len(regexp_extract_all(t, '{text.PUNCT_PATTERN}')) AS DOUBLE) AS punct
  FROM norm
)
SELECT doc_id,
       n_words,
       CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
       punct / n_chars AS punct_ratio,
       stop / n_words AS stopword_ratio,
       CAST(n_distinct AS DOUBLE) / n_words AS distinct_ratio,
       0.4 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
         + 0.3 * (CAST(n_distinct AS DOUBLE) / n_words)
         + 0.3 * least((stop / n_words) * 5.0, 1.0) AS quality_score
FROM feats
"""

# ---------------------------------------------------------------------------
# #46 token counting


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.token_counts(docs, "text").select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens"
    )


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len(string_split({NORM_SQL}, ' ')) AS n_ws_tokens,
       len(regexp_extract_all({NORM_SQL}, '{text.BPE_PATTERN}')) AS n_bpe_tokens
FROM documents
"""

# ---------------------------------------------------------------------------
# #47 document fingerprinting


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.fingerprints(docs, "text").select(
        "doc_id", "doc_md5", "min_shingle_md5"
    )


DOC_FINGERPRINT_SQL = f"""
WITH norm AS (SELECT doc_id, {NORM_SQL} AS t FROM documents),
words AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM norm),
sh AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, unnest(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
  UNION ALL
  SELECT doc_id, t AS shingle FROM words WHERE len(w) < 3
),
mins AS (SELECT doc_id, MIN(md5(shingle)) AS min_shingle_md5 FROM sh GROUP BY doc_id)
SELECT n.doc_id, md5(n.t) AS doc_md5, m.min_shingle_md5
FROM norm n JOIN mins m ON n.doc_id = m.doc_id
"""


# ---------------------------------------------------------------------------
# #51 document chunking (overlapping token windows)

CHUNK_SIZE = 50
CHUNK_STRIDE = 40


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.chunk_documents(
        docs, "doc_id", "text", size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )


DOC_CHUNKING_SQL = f"""
WITH w AS (SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents)
SELECT doc_id,
       CAST((i - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
       array_to_string(w[i:i + {CHUNK_SIZE} - 1], ' ') AS chunk_text,
       least({CHUNK_SIZE}, len(w) - i + 1) AS n_tokens
FROM w, unnest(generate_series(1, len(w), {CHUNK_STRIDE})) AS t(i)
"""


# ---------------------------------------------------------------------------
# #52 deterministic train/val/test split assignment

SPLIT_SEED = "v1"


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return transforms.assign_split(docs, "doc_id", seed=SPLIT_SEED).select(
        "doc_id", "split"
    )


TRAIN_VAL_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         ('0x' || substr(md5('{SPLIT_SEED}' || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# #53 dedup survivors: the actual cleaned corpus (anti-join materialization)


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = _shared_pair_tier(spark, sf_dir)
    return dedup.near_dedup_survivors(docs, pairs, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


DEDUP_SURVIVORS_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
losers AS (
  SELECT DISTINCT id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM losers)
"""


# ---------------------------------------------------------------------------
# Shared staging tiers, in derivation order (plans/tiers.py holds the
# memo, the reset and the consumer lookup; consumers declare the tiers
# they read with register(..., tiers=...) in registry.py).


@shared_tier("doc_shingle_tier")
def _shared_shingle_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus shingle staging tier: (doc_id, _sh, _n) — each
    document's distinct k=3 word-shingle array plus its size — computed
    ONCE per (session, sf_dir) and eagerly localCheckpointed. It is the
    input every near-dup operator takes (``ngram_jaccard_pairs``,
    ``containment_pairs``, ``minhash_lsh_pairs``, ``decontaminate``,
    ``decontaminate_neardup``). Documents with NULL text have no row
    (``doc_shingle_frame`` drops them, as the oracle's ``SHINGLES_CTE``
    gives them no shingles), so they are in no pair and no
    decontamination hit, and q_ngram_novelty has no row for them.

    Round-12 measurement (VERDICT r12 top ask): the pair-tier build,
    ``containment_pairs``, ``decontaminate_neardup`` (and through it
    q_curation_funnel), q_ngram_novelty and the MinHash tier each
    re-ran normalize→split→shingle over the corpus per invocation —
    3-5 INTERPRETED full-corpus passes per pipeline run (HOF lambdas
    never enter whole-stage codegen), the dominant remaining 100 TB
    cost. This tier is the materialized staging table a production
    dedup pipeline writes once and every report reads (guide §2.4);
    every consumer's plan now shows a ``Scan ExistingRDD`` where the
    shingling Project used to be. The checkpoint is corpus-sized
    (arrays of shingles), the price a staging table always pays —
    bounded by ~3× the text bytes, and at 100 TB it replaces 3-5 full
    interpreted corpus passes."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.doc_shingle_frame(docs, "doc_id", "text", k=3)
    return sh.localCheckpoint(eager=True)


@shared_tier("ppjoin_pair_tier")
def _shared_pair_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PPJoin near-dup pair tier (id_a, id_b at the module
    threshold), computed ONCE per (session, sf_dir) and eagerly
    localCheckpointed, then reused by every consumer — both CC
    formulations (#63 label-propagation, #63b large/small-star) iterate
    over the SAME edge set, so re-deriving the prefix-filtered join per
    invocation doubled the most expensive work in the suite (VERDICT
    r3 #8). Derives from the shingle tier. The checkpoint is
    pair-tier-sized (edges, not corpus); at 100 TB this is the same
    pattern as materializing the edge list to a table between stages
    of a production CC run."""
    pairs = dedup.ngram_jaccard_pairs(
        _shared_shingle_tier(spark, sf_dir), "doc_id",
        threshold=JACCARD_THRESHOLD,
    )
    # jaccard rides along: the cluster-stats report (#112) needs it,
    # and edge-only consumers just project it away from the checkpoint
    return pairs.select("id_a", "id_b", "jaccard").localCheckpoint(eager=True)


@shared_tier("cc_labels_tier")
def _shared_cluster_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connected-component labels (vertex, component) over the
    shared pair tier, computed ONCE per (session, sf_dir) — round-12
    measurement: SEVEN queries (dedup_clusters, dedup_cluster_stats,
    dedup_survivors_quality, split_repair, and the three curation
    audits) each re-ran the full iterative CC loop (edge checkpoint +
    per-round join/aggregate/convergence-collect jobs) over the SAME
    edge set per bench pass. connected_components returns its converged
    round's lazily checkpointed, vertex-count-bounded frame, which the
    convergence collect has already materialized, so the memo just
    holds that reference."""
    from ..operators import graph

    pairs = _shared_pair_tier(spark, sf_dir)
    return graph.connected_components(pairs, src="id_a", dst="id_b")


@shared_tier("bm25_topn_tier")
def _shared_bm25_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 top-N frame (#127's output), computed ONCE per
    (session, sf_dir) and eagerly localCheckpointed — #210's hybrid
    fusion consumes the SAME retrieval as the standalone BM25 query,
    and the two corpus token scans behind it are the expensive part
    (~1.7 s at sf0.1), so re-deriving them per consumer would repeat
    the pair-tier mistake (r3 #8). The checkpoint is N=20 rows —
    trivially bounded."""
    return _bm25_topn(spark, sf_dir).localCheckpoint(eager=True)


def dense_tier_k() -> int:
    """Rank depth of the shared dense tier: deep enough that EVERY
    consumer's top-K is an exact prefix (the ranking is a total order —
    cosine DESC, neighbor_id — so filtering rank <= k on a deeper list
    is identical to ranking at k directly)."""
    return max(KNN_K, RRF_TOP_N, MMR_POOL)


@shared_tier("dense_topk_tier")
def _shared_dense_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brute-force dense top-K lists (#42's scorer) for the bounded
    query set ``vec_id < KNN_QUERY_MAX_ID``, at rank depth
    :func:`dense_tier_k`, computed ONCE per (session, sf_dir) and
    eagerly localCheckpointed (third shared tier, r8 verdict ask #2).
    Six queries re-derived this exact corpus cosine scan per
    invocation — q_knn_bruteforce, q_knn_label_purity, q_ann_recall
    (its baseline side), q_hybrid_rrf / q_retrieval_overlap /
    q_mmr_rerank (the RRF_QUERY_VEC_ID slice) — ~2-3 s/pass at sf0.1.
    The checkpoint is ≤ KNN_QUERY_MAX_ID · dense_tier_k() rows (200) —
    trivially bounded. q_hard_negatives is NOT a consumer: its
    different-label predicate filters BEFORE the top-K, so its lists
    are not derivable from the unfiltered tier."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_bruteforce(
        emb, queries, k=dense_tier_k()
    ).localCheckpoint(eager=True)


@shared_tier("lsh_topk_tier")
def _shared_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH approximate top-K lists (#43's output) for the bounded
    query set, checkpointed once per (session, sf_dir) — consumed
    identically by q_knn_lsh and q_ann_recall's LSH branch, which each
    re-derived the 16-table × 6-plane bucketing scan (~1.3 s at sf0.1).
    ≤ KNN_QUERY_MAX_ID · KNN_K rows."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_lsh(
        emb, queries, k=KNN_K, planes=LSH_PLANES, tables=LSH_TABLES,
        dim=EMB_DIM,
    ).localCheckpoint(eager=True)


@shared_tier("ivf_topk_tier")
def _shared_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-Flat approximate top-K lists (#43b's output) for the
    bounded query set, checkpointed once per (session, sf_dir) —
    consumed identically by q_knn_ivf and q_ann_recall's IVF branch
    (each previously re-derived the centroid scoring + probe scan,
    ~1.0 s at sf0.1). q_ivf_balance is NOT a consumer: it needs the
    full-corpus list ASSIGNMENT, not the query top-K."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_ivf(
        emb, queries, k=KNN_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE
    ).localCheckpoint(eager=True)


@shared_tier("bpe_merges_tier")
def _shared_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table (#233's output), computed ONCE per
    (session, sf_dir) — the corpus word-count scan + 6 argmax rounds
    behind it (~1.8 s at sf0.1) are consumed identically by
    q_bpe_merges and the #233b encoder q_bpe_encode, which applies the
    table map-side. ≤ BPE_ROUNDS rows (driver-local by construction —
    each round collects exactly one argmax row)."""
    return _bpe_merges_impl(spark, sf_dir).localCheckpoint(eager=True)


@shared_tier("gate_features_tier")
def _shared_gate_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher-gate + quality-feature staging tier: every document's
    repetition/shape features + keep flag (operators/curation.
    repetition_features) composed with the quality features + score
    (operators/text.quality_features), text carried, computed ONCE per
    (session, sf_dir) and eagerly localCheckpointed.

    Round-13 measurement: SIX queries re-ran the interpreted feature
    pass over the corpus per invocation — q_gopher_quality,
    q_quality_score, q_curation_pipeline, q_curation_pipeline_v2,
    q_repaired_split_balance, q_curation_funnel. The n-gram repetition
    features are per-element HOF folds (never whole-stage codegen), the
    same expression class as the shingle tier's chain — one materialized
    pass (guide §2.4 staging table) replaces up to six. Exactly the
    v2 feature chain (repetition_features carry=text →
    quality_features), so every consumer reads IDENTICAL values to the
    expressions it previously computed inline."""
    docs = load(spark, sf_dir, "documents")
    feats = _curation_ops.repetition_features(
        docs, "doc_id", "text", carry=("text",)
    )
    return text.quality_features(feats, "text").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# #63 dedup clusters: connected components over the near-dup pair graph
# (delta-iteration analog — operators/graph.py; reference
# flink_typora.md:885 Delta Iteration)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document labeled with its duplicate-cluster id (minimum
    doc_id reachable through near-dup pairs; singletons label
    themselves). Unlike the greedy pair-wise survivor rule (#53), the
    cluster id is TRANSITIVE: a~b and b~c put a, b, c in one cluster
    even when a and c are not directly similar."""
    docs = load(spark, sf_dir, "documents")
    cc = _shared_cluster_tier(spark, sf_dir)
    return (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["vertex"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(v, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.v, e.b FROM reach JOIN edges e ON e.a = reach.r
),
cluster AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN cluster c ON d.doc_id = c.doc_id
"""


# ---------------------------------------------------------------------------
# #67 stratified sampling: rebalance the corpus per language


SAMPLE_SEED = "v1"
SAMPLE_FRACTIONS = {"en": 0.5, "zh": 1.0, "es": 1.0, "de": 1.0, "fr": 1.0}


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the over-represented language (en → 50%) while
    keeping the rest whole — deterministic md5-bucket sampleBy, the
    reproducible corpus-rebalancing op."""
    docs = load(spark, sf_dir, "documents")
    return transforms.stratified_sample(
        docs, "lang", "doc_id", SAMPLE_FRACTIONS, seed=SAMPLE_SEED
    ).select("doc_id", "lang", "source", "n_chars")


STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT *,
         ('0x' || substr(md5('{SAMPLE_SEED}' || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
  FROM documents
)
WHERE b < (CASE lang {" ".join(f"WHEN '{k}' THEN {int(round(v * 10000))}" for k, v in sorted(SAMPLE_FRACTIONS.items()))} ELSE 0 END)
"""


# ---------------------------------------------------------------------------
# #76 int8 embedding quantization (storage/bandwidth reduction for ANN)


def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings(emb, "vec_id", "embedding")


EMBED_QUANTIZE_SQL = """
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, scale,
         list_transform(embedding,
           x -> CASE WHEN scale > 0.0
                     THEN CAST(round(CAST(x AS DOUBLE) / scale) AS INT)
                     ELSE 0 END) AS qv
  FROM s
)
SELECT vec_id, scale,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
FROM q
"""


# ---------------------------------------------------------------------------
# #77 vocabulary induction: per-language top-k token frequencies

VOCAB_K = 10


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.vocab_topk(docs, "lang", "text", k=VOCAB_K)


VOCAB_TOPK_SQL = f"""
WITH toks AS (
  SELECT lang, tok FROM (
    SELECT lang, unnest(string_split({NORM_SQL}, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
counts AS (SELECT lang, tok AS token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT lang, token, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
  FROM counts
)
SELECT lang, token, n, rank FROM ranked WHERE rank <= {VOCAB_K}
"""


# ---------------------------------------------------------------------------
# #76b SQ8-serving top-k: search the quantized corpus (scales cancel in
# cosine → the score is a pure function of integer dots → exact oracle)


def knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    return similarity.knn_quantized(emb, queries, k=KNN_K)


KNN_QUANTIZED_SQL = f"""
WITH q8 AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CASE WHEN scale > 0.0
                     THEN CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END) AS qv
  FROM (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
    FROM embeddings
  )
),
norms AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qq
  FROM q8
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(
           CAST((SELECT SUM(a.qv[i] * b.qv[i])
                 FROM unnest(generate_series(1, {EMB_DIM})) AS t(i)) AS DOUBLE)
           / (sqrt(CAST(a.qq AS DOUBLE)) * sqrt(CAST(b.qq AS DOUBLE))), 6) AS qcosine
  FROM norms a JOIN norms b
    ON a.vec_id < {KNN_QUERY_MAX_ID} AND b.vec_id <> a.vec_id
  WHERE a.qq > 0 AND b.qq > 0
),
ranked AS (
  SELECT query_id, neighbor_id, qcosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY qcosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, qcosine FROM ranked WHERE rank <= {KNN_K}
"""


# ---------------------------------------------------------------------------
# #85 batched model inference (operators/inference.py): the scorer is a
# deterministic md5-seeded fake (no model runtime in this container),
# which makes the WHOLE inference path oracle-checkable — the SQL
# replays the model bit-for-bit, so the mapInPandas plumbing (Arrow
# batching, schema, per-task model load) is value-verified, not just
# shape-tested. Swapping in a real model changes only the factory.


def model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import inference

    docs = load(spark, sf_dir, "documents")
    return inference.score_documents(docs).select("doc_id", "score", "model")


MODEL_SCORE_SQL = """
SELECT doc_id,
       round(
         0.5 * (('0x' || substring(md5(text), 1, 16))::UBIGINT / 18446744073709551616.0)
         + 0.5 * (CASE WHEN regexp_replace(text, '^\\s+$', '') = '' THEN 0.0
                       ELSE len(list_distinct(regexp_split_to_array(
                                regexp_replace(regexp_replace(text, '^\\s+', ''), '\\s+$', ''), '\\s+')))
                            / CAST(len(regexp_split_to_array(
                                regexp_replace(regexp_replace(text, '^\\s+', ''), '\\s+$', ''), '\\s+')) AS DOUBLE)
                  END), 6) AS score,
       'fake-md5-scorer' AS model
FROM documents
"""


# ---------------------------------------------------------------------------
# #89 curriculum difficulty bucketing: equal-population score deciles
# (the curriculum-learning prep step: train easy→hard by bucket, or
# mix buckets at controlled rates). ntile over a TOTAL order
# (score, doc_id) — without the id tie-break, equal scores make decile
# boundaries engine-dependent. One vocabulary-free shuffle: ntile is a
# single window over (score, id), then a 10-group aggregate.

CURRICULUM_BUCKETS = 10


def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import inference
    from ..operators.transforms import global_ntile

    docs = load(spark, sf_dir, "documents")
    scored = inference.score_documents(docs).select("doc_id", "score")
    return (
        global_ntile(scored, CURRICULUM_BUCKETS, ["score", "doc_id"])
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("bucket")
    )


CURRICULUM_BUCKETS_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         round(
           0.5 * (('0x' || substring(md5(text), 1, 16))::UBIGINT / 18446744073709551616.0)
           + 0.5 * (CASE WHEN regexp_replace(text, '^\\s+$', '') = '' THEN 0.0
                         ELSE len(list_distinct(regexp_split_to_array(
                                  regexp_replace(regexp_replace(text, '^\\s+', ''), '\\s+$', ''), '\\s+')))
                              / CAST(len(regexp_split_to_array(
                                  regexp_replace(regexp_replace(text, '^\\s+', ''), '\\s+$', ''), '\\s+')) AS DOUBLE)
                    END), 6) AS score
  FROM documents
),
bucketed AS (
  SELECT score, ntile({CURRICULUM_BUCKETS}) OVER (ORDER BY score, doc_id) AS bucket
  FROM scored
)
SELECT bucket, COUNT(*) AS n_docs,
       MIN(score) AS min_score, MAX(score) AS max_score
FROM bucketed GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# #84 SemDeDup — semantic dedup: cluster the embedding space, score
# cosine pairs only WITHIN clusters, keep the atypical member of each
# over-τ pair (Abbas et al. 2023). The quadratic work is bounded by the
# largest cluster, never the corpus.

SEMDEDUP_TAU = 0.4
SEMDEDUP_NLIST = 16


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, tau=SEMDEDUP_TAU, nlist=SEMDEDUP_NLIST
    )


SEMANTIC_DEDUP_SQL = f"""
WITH {NORM_CTE},
cent AS (
  SELECT embedding, nrm, c FROM (
    SELECT embedding, nrm,
           CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS c
    FROM norms
  ) WHERE c <= {SEMDEDUP_NLIST}
),
scores AS (
  SELECT n.vec_id, n.nrm, c.c,
         (SELECT SUM(CAST(n.embedding[i] AS DOUBLE)
                     * (CAST(c.embedding[i] AS DOUBLE) / c.nrm))
          FROM unnest(generate_series(1, {EMB_DIM})) t(i)) AS s
  FROM norms n, cent c
),
assigned AS (
  SELECT vec_id, c AS list_id, round(s / nrm, 6) AS cos_cent FROM (
    SELECT vec_id, nrm, c, s,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn
    FROM scores
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.list_id,
         CASE WHEN a.cos_cent < b.cos_cent
                   OR (a.cos_cent = b.cos_cent AND a.vec_id < b.vec_id)
              THEN a.vec_id ELSE b.vec_id END AS keep_id,
         CASE WHEN a.cos_cent < b.cos_cent
                   OR (a.cos_cent = b.cos_cent AND a.vec_id < b.vec_id)
              THEN b.vec_id ELSE a.vec_id END AS drop_id,
         round((SELECT SUM(CAST(x.embedding[i] AS DOUBLE)
                           * CAST(y.embedding[i] AS DOUBLE))
                FROM unnest(generate_series(1, {EMB_DIM})) t(i))
               / (x.nrm * y.nrm), 6) AS cosine
  FROM assigned a
  JOIN assigned b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  JOIN norms x ON x.vec_id = a.vec_id
  JOIN norms y ON y.vec_id = b.vec_id
)
SELECT list_id, keep_id, drop_id, cosine
FROM pairs WHERE cosine >= {SEMDEDUP_TAU}
"""


# ---------------------------------------------------------------------------
# #86 corpus clustering report: k-means-style cluster assignment over
# the deterministic quantizer (the map-only assignment the IVF /
# SemDeDup tiers share), aggregated to per-cluster population +
# cohesion stats — the "what does my embedding space look like"
# deliverable (cluster sizes drive SemDeDup's nlist and IVF's probe
# tuning). One map-only assignment + one tiny aggregate.


def embed_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    vecs, norms = similarity.ivf_centroids(emb, SEMDEDUP_NLIST)
    assigned = similarity.assign_to_centroids(emb, vecs, norms)
    return (
        assigned.groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                F.sum(F.col("cos_cent").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cohesion"),
            F.min("vec_id").alias("min_member"),
        )
        .orderBy("list_id")
    )


EMBED_CLUSTER_SQL = f"""
WITH {NORM_CTE},
cent AS (
  SELECT embedding, nrm, c FROM (
    SELECT embedding, nrm,
           CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS c
    FROM norms
  ) WHERE c <= {SEMDEDUP_NLIST}
),
scores AS (
  SELECT n.vec_id, n.nrm, c.c,
         (SELECT SUM(CAST(n.embedding[i] AS DOUBLE)
                     * (CAST(c.embedding[i] AS DOUBLE) / c.nrm))
          FROM unnest(generate_series(1, {EMB_DIM})) t(i)) AS s
  FROM norms n, cent c
),
assigned AS (
  SELECT vec_id, c AS list_id, round(s / nrm, 6) AS cos_cent FROM (
    SELECT vec_id, nrm, c, s,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT list_id, COUNT(*) AS n_members,
       round(CAST(SUM(CAST(cos_cent AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_cohesion,
       MIN(vec_id) AS min_member
FROM assigned
GROUP BY list_id
ORDER BY list_id
"""


# ---------------------------------------------------------------------------
# #87 heavy-hitter tokens (Misra-Gries candidates + exact filter).
# The MG sketch provides a provable candidate SUPERSET with fixed
# memory; membership is decided by exact counts, so the output is
# deterministic ({token : freq > n/(k+1)}) and fully oracle-checkable
# (round-3 emitted partition-dependent estimates and was rows-only).

HH_K = 64


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.heavy_hitter_tokens(docs, "text", k=HH_K)


HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split({NORM_SQL}, ' ')) AS token FROM documents
),
tok AS (SELECT token FROM toks WHERE token <> ''),
cnt AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
n AS (SELECT COUNT(*) AS n FROM tok)
SELECT token, cnt FROM cnt CROSS JOIN n WHERE cnt * {HH_K + 1} > n
"""


# ---------------------------------------------------------------------------
# #63b dedup clusters via large-star/small-star (adversarial-diameter path)


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as :func:`dedup_clusters`, computed with the
    O(log² n)-round star formulation instead of O(diameter) label
    propagation — the variant to reach for when duplicate chains can
    be long (same DuckDB recursive-CTE oracle, so both formulations
    are independently value-checked on the same data)."""
    from ..operators import graph

    docs = load(spark, sf_dir, "documents")
    pairs = _shared_pair_tier(spark, sf_dir)
    cc = graph.connected_components_star(pairs, src="id_a", dst="id_b")
    return (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["vertex"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )


DEDUP_CLUSTERS_STAR_SQL = DEDUP_CLUSTERS_SQL

# ---------------------------------------------------------------------------
# #82 TF-IDF keyword extraction

TFIDF_K = 5


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.tfidf_topk(docs, "doc_id", "text", k=TFIDF_K)


TFIDF_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2
),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT doc_id, token, tf,
         ROUND(tf * LN(n / (COUNT(*) OVER (PARTITION BY token))), 9) AS score
  FROM tf CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
  FROM scored
)
SELECT doc_id, token, tf, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TFIDF_K}
"""

# ---------------------------------------------------------------------------
# #38b sorted-neighborhood near-dup (multi-pass SNM)

SNM_WIDTH = 10


def dedup_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.sorted_neighborhood_pairs(
        docs, "doc_id", "text", k=3, width=SNM_WIDTH, threshold=JACCARD_THRESHOLD
    )


DEDUP_SNM_SQL = f"""
WITH nrm AS (SELECT doc_id, {NORM_SQL} AS nkey FROM documents),
{SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
keyed AS (
  SELECT 0 AS pass, doc_id, nkey AS k FROM nrm
  UNION ALL
  SELECT 1 AS pass, doc_id, reverse(nkey) AS k FROM nrm
),
ranked AS (
  SELECT pass, doc_id, k, split_part(k, ' ', 1) AS blk,
         row_number() OVER (PARTITION BY pass, split_part(k, ' ', 1)
                            ORDER BY k, doc_id) AS rn
  FROM keyed
),
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                  greatest(a.doc_id, b.doc_id) AS id_b
  FROM ranked a
  JOIN ranked b ON a.pass = b.pass AND a.blk = b.blk
               AND b.rn > a.rn AND b.rn <= a.rn + {SNM_WIDTH}
),
ovl AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.id_a
  JOIN sh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
  GROUP BY c.id_a, c.id_b
),
jac AS (
  SELECT o.id_a, o.id_b,
         CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
  FROM ovl o
  JOIN sizes sa ON sa.doc_id = o.id_a
  JOIN sizes sb ON sb.doc_id = o.id_b
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# #93 corpus report card: per-source corpus overview — the profile the
# curation tiers are tuned against (dup rate → dedup thresholds, token
# mass → mixing quotas, language spread → lang-ID gates). Two-phase
# aggregate: groupBy(source, content-hash) first, so the per-source
# rollup counts docs, tokens AND distinct texts from ONE pre-aggregated
# pass — no count_distinct expansion, no second scan.


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_text = (
        docs.select(
            "source",
            F.sha2(text.normalize(F.col("text")), 256).alias("_h"),
            F.size(text.words(F.col("text"))).alias("_toks"),
            F.col("n_chars"),
        )
        .groupBy("source", "_h")
        .agg(
            F.count(F.lit(1)).alias("_copies"),
            F.sum("_toks").alias("_tok_sum"),
            F.sum(F.col("n_chars").cast("decimal(18,6)")).alias("_chars"),
        )
    )
    langs = docs.groupBy("source").agg(
        F.countDistinct("lang").alias("n_langs")
    )
    return (
        per_text.groupBy("source")
        .agg(
            F.sum("_copies").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique_texts"),
            F.sum("_tok_sum").alias("n_tokens"),
            F.round(
                F.lit(1.0) - F.count(F.lit(1)) / F.sum("_copies"), 6
            ).alias("dup_rate"),
            F.round(
                F.sum("_chars").cast("double") / F.sum("_copies"), 6
            ).alias("avg_chars"),
        )
        .join(langs, "source")
        .select(
            "source", "n_docs", "n_unique_texts", "n_tokens",
            "dup_rate", "avg_chars", "n_langs",
        )
        .orderBy("source")
    )


CORPUS_STATS_SQL = f"""
WITH per_text AS (
  SELECT source, sha256({NORM_SQL}) AS h,
         COUNT(*) AS copies,
         SUM(len(string_split({NORM_SQL}, ' '))) AS tok_sum,
         SUM(CAST(n_chars AS DECIMAL(18,6))) AS chars
  FROM documents
  GROUP BY source, sha256({NORM_SQL})
),
langs AS (
  SELECT source, COUNT(DISTINCT lang) AS n_langs FROM documents GROUP BY source
)
SELECT p.source,
       CAST(SUM(copies) AS BIGINT) AS n_docs,
       COUNT(*) AS n_unique_texts,
       CAST(SUM(tok_sum) AS BIGINT) AS n_tokens,
       round(1.0 - COUNT(*) / CAST(SUM(copies) AS DOUBLE), 6) AS dup_rate,
       round(CAST(SUM(chars) AS DOUBLE) / SUM(copies), 6) AS avg_chars,
       ANY_VALUE(l.n_langs) AS n_langs
FROM per_text p JOIN langs l ON p.source = l.source
GROUP BY p.source
ORDER BY p.source
"""


# ---------------------------------------------------------------------------
# #96 unigram-LM quality scoring: mean token log-probability under the
# corpus's own unigram distribution — the classic cheap LM filter
# (kenlm-perplexity's little sibling; operators/text.py:unigram_logprob)


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.unigram_logprob(docs, "doc_id", "text")


UNIGRAM_LOGPROB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS token FROM documents
),
tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT SUM(cnt) AS total FROM freq),
lp AS (
  SELECT token,
         CAST(round(ln(CAST(cnt AS DOUBLE) / total), 9) AS DECIMAL(18,9)) AS lp
  FROM freq CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
FROM tok JOIN lp USING (token)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# #97 per-source KL divergence from the corpus unigram distribution —
# domain-drift diagnostics feeding the temperature domain mixer (#73)


def source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.source_kl_divergence(docs, "source", "text")


SOURCE_KL_SQL = f"""
WITH toks AS (
  SELECT source, unnest(string_split({NORM_SQL}, ' ')) AS token FROM documents
),
tok AS (SELECT source, token FROM toks WHERE token <> ''),
corpus AS (
  SELECT token, COUNT(*) AS c_cnt FROM tok GROUP BY token
),
ctot AS (SELECT SUM(c_cnt) AS c_tot FROM corpus),
per_src AS (
  SELECT source, token, COUNT(*) AS s_cnt FROM tok GROUP BY source, token
),
stot AS (SELECT source, SUM(s_cnt) AS s_tot FROM per_src GROUP BY source),
terms AS (
  SELECT p.source,
         st.s_tot,
         CAST(round(
           (CAST(s_cnt AS DOUBLE) / s_tot)
           * ln((CAST(s_cnt AS DOUBLE) / s_tot) / (CAST(c_cnt AS DOUBLE) / c_tot)),
         9) AS DECIMAL(18,9)) AS term
  FROM per_src p
  JOIN stot st ON p.source = st.source
  JOIN corpus c ON p.token = c.token
  CROSS JOIN ctot
)
SELECT source, CAST(MAX(s_tot) AS BIGINT) AS n_tokens,
       round(CAST(SUM(term) AS DOUBLE), 6) AS kl_divergence
FROM terms
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# #98 cross-source duplicate overlap matrix: which source pairs share
# identical (normalized) documents — the provenance diagnostic behind
# dedup policy (a pair with heavy overlap means one source mirrors
# another; run BEFORE choosing per-source sampling rates)


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_shared) for every source pair sharing at
    least one exact-normalized duplicate document, source_a < source_b.

    Scale shape: distinct (digest, source) pairs first (one hash agg —
    corpus collapses to its distinct-content × source grid), then a
    digest-keyed self-join whose per-key fan-out is bounded by the
    number of sources carrying that content (≤ |sources|², and only on
    actually-duplicated digests), then a tiny pair aggregate."""
    docs = load(spark, sf_dir, "documents")
    h = (
        docs.select(
            F.md5(text.normalize(F.col("text"))).alias("_h"), "source"
        )
        .distinct()
    )
    a = h.select(F.col("_h"), F.col("source").alias("source_a"))
    b = h.select(F.col("_h"), F.col("source").alias("source_b"))
    return (
        a.join(b, "_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(F.desc("n_shared"), "source_a", "source_b")
    )


SOURCE_OVERLAP_SQL = f"""
WITH h AS (
  SELECT DISTINCT md5({NORM_SQL}) AS _h, source FROM documents
)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
FROM h a JOIN h b ON a._h = b._h AND a.source < b.source
GROUP BY 1, 2
ORDER BY n_shared DESC, source_a, source_b
"""


# ---------------------------------------------------------------------------
# #105 duplicate-neighborhood centrality: fixed-iteration PageRank over
# the symmetrized near-dup pair graph (operators/graph.py:pagerank —
# the bulk-iteration analog; reference flink_typora.md:885). Per-round
# rounding makes the iteration a pure function of the edge list, so the
# oracle replays the EXACT rounds as an unrolled SQL pipeline.

PR_ITERS = 6
PR_DAMPING = 0.85


def pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    docs = load(spark, sf_dir, "documents")
    pairs = _shared_pair_tier(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    pr = graph.pagerank(
        edges,
        "src",
        "dst",
        vertices=docs.select(F.col("doc_id").alias("src")),
        iterations=PR_ITERS,
        damping=PR_DAMPING,
    )
    return pr.select(F.col("vertex").alias("doc_id"), "pagerank")


def _pagerank_sql() -> str:
    rounds = []
    for i in range(1, PR_ITERS + 1):
        rounds.append(f"""r{i} AS (
  SELECT vv.v,
         floor(((1.0 - {PR_DAMPING}) / (SELECT n FROM n)
               + {PR_DAMPING} * COALESCE(c.inp, 0.0)) * 1e9 + 0.5) / 1e9 AS pr
  FROM verts vv LEFT JOIN (
    SELECT e.d AS v,
           CAST(SUM(CAST(floor(r.pr / deg.deg * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS inp
    FROM edges e JOIN r{i - 1} r ON e.s = r.v JOIN deg ON deg.s = e.s
    GROUP BY e.d
  ) c ON vv.v = c.v
)""")
    # edges/deg are referenced once per unrolled round — DuckDB 1.0
    # inlines plain CTEs, so without MATERIALIZED the shingle pair
    # join above them would be re-evaluated PR_ITERS times (oracle
    # strings are DuckDB-only; the hint costs Spark nothing).
    return f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
verts AS MATERIALIZED (SELECT doc_id AS v FROM documents),
n AS MATERIALIZED (SELECT COUNT(*) AS n FROM verts),
deg AS MATERIALIZED (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
r0 AS (SELECT v, floor(1.0 / (SELECT n FROM n) * 1e9 + 0.5) / 1e9 AS pr FROM verts),
{",".join(rounds)}
SELECT v AS doc_id, pr AS pagerank FROM r{PR_ITERS}
"""


PAGERANK_DUPGRAPH_SQL = _pagerank_sql()


# ---------------------------------------------------------------------------
# #48b multimodal content stats — the JVM tier of the multimodal
# plumbing (operators/multimodal.py) made driver-checkable: media rows
# are derived deterministically from the documents table (content =
# UTF-8 text bytes, modality from the source id), then size + sha256
# attach WITHOUT Python. The Arrow-batch tiers (histogram/decode/
# frames) stay pytest-proven — their fakes are labeled, not oracled.


def multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return multimodal.attach_content_stats(media).select(
        "doc_id", "modality", "content_size", "content_sha256"
    )


MULTIMODAL_STATS_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS INT) AS content_size,
       sha256(text) AS content_sha256  -- duckdb sha256 hashes the UTF-8 bytes
FROM documents
"""


# ---------------------------------------------------------------------------
# #112 dedup-cluster quality report: per-cluster size and cohesion
# (mean pairwise jaccard over the cluster's DIRECT near-dup pairs) —
# the sizing instrument for dedup policy (huge low-cohesion clusters
# mean the threshold is too loose; reuses the shared checkpointed pair
# tier and the CC labels, so the marginal cost is two joins + two
# aggregates over pair/cluster-sized frames).


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs_j = _shared_pair_tier(spark, sf_dir)
    cc = _shared_cluster_tier(spark, sf_dir)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    edge_stats = (
        pairs_j.join(cc, pairs_j["id_a"] == cc["vertex"])
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_jaccard"),
        )
    )
    return (
        sizes.join(edge_stats, "component")
        .select(
            F.col("component").alias("cluster_id"),
            "n_members",
            "n_pairs",
            "mean_jaccard",
        )
        .orderBy("cluster_id")
    )


DEDUP_CLUSTER_STATS_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM jac
  UNION
  SELECT id_b, id_a FROM jac
),
reach(v, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.v, e.b FROM reach JOIN edges e ON e.a = reach.r
),
cluster AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
members AS (
  SELECT cluster_id, COUNT(*) AS n_members FROM cluster GROUP BY cluster_id
),
edge_stats AS (
  SELECT c.cluster_id, COUNT(*) AS n_pairs,
         round(CAST(SUM(CAST(j.jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
           AS mean_jaccard
  FROM jac j JOIN cluster c ON j.id_a = c.doc_id
  GROUP BY c.cluster_id
)
SELECT m.cluster_id, m.n_members, e.n_pairs, e.mean_jaccard
FROM members m JOIN edge_stats e ON m.cluster_id = e.cluster_id
ORDER BY m.cluster_id
"""


# ---------------------------------------------------------------------------
# #126 bigram-LM quality scoring: mean conditional log-probability
# p(w_t | w_{t-1}) under the corpus's own bigram distribution — one
# order up from #96's unigram filter (catches word-salad documents
# whose unigrams are individually common). Same determinism contract:
# per-bigram logprob rounded to 9 digits, decimal-summed.


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: bigram/context tables are vocabulary²-bounded
    (Heaps-sublinear in the corpus, though fatter than unigram), built
    with ONE aggregate each over the exploded bigram stream; the join
    back to documents is token-keyed and AQE-sized. No smoothing term:
    every document bigram exists in the corpus distribution by
    construction (the corpus scores itself), so the probability is
    always finite."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import widen
    from ..operators.text import normalize

    w = F.split(normalize(F.col("text")), " ")
    bigrams = (
        widen(docs)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                    F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    bg_cnt = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_n12"))
    from pyspark.sql import Window

    w_ctx = Window.partitionBy("w1")
    probs = (
        bg_cnt.withColumn("_n1", F.sum("_n12").over(w_ctx))
        .withColumn(
            "_lp",
            F.round(F.log(F.col("_n12") / F.col("_n1")), 9).cast("decimal(18,9)"),
        )
        .select("w1", "w2", "_lp")
    )
    return (
        bigrams.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("_lp").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_logprob"
            ),
        )
    )


BIGRAM_LOGPROB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(w) AS token, generate_subscripts(w, 1) AS pos
  FROM (SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents)
),
bigrams AS (
  SELECT doc_id, w1, token AS w2
  FROM (
    SELECT doc_id, token,
           lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
    FROM toks
  )
  WHERE w1 IS NOT NULL AND w1 <> '' AND token <> ''
),
bg AS (SELECT w1, w2, COUNT(*) AS n12 FROM bigrams GROUP BY w1, w2),
probs AS (
  SELECT w1, w2,
         CAST(round(ln(CAST(n12 AS DOUBLE) /
                       SUM(n12) OVER (PARTITION BY w1)), 9)
              AS DECIMAL(18,9)) AS lp
  FROM bg
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
FROM bigrams JOIN probs USING (w1, w2)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# #127 BM25 retrieval scoring: rank documents against a fixed query
# term set with the classic Okapi BM25 (k1=1.2, b=0.75) — the sparse
# half of any RAG retrieval stack. idf and each term's contribution
# are rounded to 9 digits and decimal-summed (term-order-independent,
# engine-exact); doc length / avgdl use the whitespace token count.

BM25_TERMS = ("query", "join", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_N = 20


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_bm25_tier(spark, sf_dir)


def _bm25_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (round-12 rework, guide §2.4): ONE tokenization of
    the corpus. The old form exploded every token twice (a dl pass —
    explode + token-level shuffle — and a tf pass) and joined tf back
    to dl; but dl is a PER-DOC scalar (`size` of the non-empty token
    array), so it is now a map-side projection computed next to the
    token array, checkpointed once, and CARRIED through the tf explode
    — the dl shuffle and the tf×dl join disappear outright (plan: 7 →
    4 shuffles on the build). The tf tier still filters to the |Q|
    query terms BEFORE its shuffle; df/idf and avgdl are |Q|-row /
    single-row broadcast frames. No per-query corpus rescan — a query
    batch would join its term set the same way. The checkpoint is the
    (doc_id, dl, tokens) frame — corpus-sized, the same staging-table
    class as containment's shingle base."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import widen
    from ..operators.text import normalize

    base = (
        widen(docs)
        .select(
            "doc_id",
            F.filter(
                F.split(normalize(F.col("text")), " "),
                lambda t: t != F.lit(""),
            ).alias("_w"),
        )
        .withColumn("dl", F.size("_w").cast("long"))
        .localCheckpoint(eager=False)
    )
    # dl > 0: the old token-level dl aggregate (and the oracle's dl CTE)
    # never saw a doc whose text normalizes to zero tokens — N and avgdl
    # are defined over docs with at least one token
    n_avg = base.filter(F.col("dl") > 0).agg(
        F.count(F.lit(1)).alias("_N"),
        (F.sum(F.col("dl").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "_avgdl"
        ),
    )
    terms = F.array(*[F.lit(t) for t in BM25_TERMS])
    tf = (
        base.select("doc_id", "dl", F.explode("_w").alias("token"))
        .filter(F.array_contains(terms, F.col("token")))
        .groupBy("doc_id", "token")
        # dl is constant per doc_id; max() just carries it through the
        # aggregate so no join back to the doc-length tier is needed
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    # df as a WINDOW over the (small) tf frame, not a second aggregate:
    # a groupBy-derived df_t frame re-computes the whole tf subtree
    # (explode + shuffle) as a separate plan branch — Catalyst does no
    # cross-branch CSE. The window costs one small token-keyed
    # exchange+sort over the bounded tf frame itself (tf's aggregate
    # exchange is (doc_id, token)-keyed, so the window cannot literally
    # reuse it — advice r12); the win is not re-deriving the explode
    # subtree. tf is bounded by docs-containing-query-terms × |Q|.
    from pyspark.sql import Window as _W

    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(_W.partitionBy("token"))
    )
    contrib = (
        with_df.crossJoin(F.broadcast(n_avg))  # single-row scalars; exempt
        .withColumn(
            "idf",
            F.round(
                F.log(
                    1.0
                    + (F.col("_N") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ),
                9,
            ),
        )
        .withColumn(
            "_c",
            F.round(
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("_avgdl"))
                ),
                9,
            ).cast("decimal(18,9)"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.round(F.sum("_c").cast("double"), 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP_N)
    )


BM25_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS token
  FROM documents
),
tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
na AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok
  WHERE token IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
  GROUP BY doc_id, token
),
dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
idf AS (
  SELECT token,
         round(ln(1.0 + (n - df + 0.5) / (df + 0.5)), 9) AS idf,
         avgdl
  FROM dft CROSS JOIN na
),
contrib AS (
  SELECT tf.doc_id,
         CAST(round(
           idf * (tf * ({BM25_K1} + 1))
           / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / avgdl)),
         9) AS DECIMAL(18,9)) AS c
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  JOIN idf ON tf.token = idf.token
)
SELECT doc_id, COUNT(*) AS n_terms_hit,
       round(CAST(SUM(c) AS DOUBLE), 6) AS bm25
FROM contrib
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOP_N}
"""


# ---------------------------------------------------------------------------
# #128 triangle census on the near-dup graph: counts of connected
# triples (triangles) — the local-clustering signal that separates
# "chain of near-misses" clusters from "everything matches everything"
# template blobs. Classic two-join formulation over id-oriented edges
# (a<b<c — each triangle counted exactly once); at scale the standard
# refinement is degree-based orientation, noted in the docstring.


def triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges come from the shared checkpointed PPJoin pair tier
    (deduplicated, id_a < id_b). The census DEGREE-orients every edge
    (lower (degree, id) endpoint → higher) before the two wedge/probe
    joins, so the wedge frame is Σ_v C(out-deg v, 2) with
    out-deg ≤ O(√m) — a boilerplate-template hub contributes only
    in-edges and cannot square its fan-out (r5 weak flag fixed; same
    joins, different comparator). Output: one row — triangles, wedges
    (open+closed), edges, and the global closure ratio 3·tri/wedges
    (operators/graph.triangle_census, brute-force-checked in
    tests/test_graph.py)."""
    from ..operators import graph

    pairs = _shared_pair_tier(spark, sf_dir).select("id_a", "id_b")
    return graph.triangle_census(pairs, src="id_a", dst="id_b")


TRIANGLE_CENSUS_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
oriented AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1 JOIN pairs e2 ON e1.id_b = e2.id_a
),
tris AS (
  SELECT w.a, w.b, w.c FROM oriented w
  JOIN pairs e3 ON w.a = e3.id_a AND w.c = e3.id_b
),
deg AS (
  SELECT id, COUNT(*) AS d FROM (
    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs
  ) GROUP BY id
),
agg AS (
  SELECT (SELECT COUNT(*) FROM tris) AS n_triangles,
         (SELECT COALESCE(CAST(SUM(CAST(d * (d - 1) AS DECIMAL(38,0))) / 2 AS BIGINT), 0)
            FROM deg) AS n_wedges,
         (SELECT COALESCE(CAST(SUM(CAST(d AS DECIMAL(38,0))) / 2 AS BIGINT), 0)
            FROM deg) AS n_edges
)
SELECT n_triangles, n_wedges, n_edges,
       CASE WHEN n_wedges > 0
            THEN round(3.0 * n_triangles / n_wedges, 9)
            ELSE 0.0 END AS closure_ratio
FROM agg
"""


# ---------------------------------------------------------------------------
# #132 Zipf-law fit: OLS slope of ln(freq) on ln(rank) over the top-K
# vocabulary — the corpus-health diagnostic (natural text sits near
# slope −1; template/boilerplate corpora flatten, codey corpora
# steepen). The regression inputs are rounded-ln values decimal-summed
# (partition-order-exact), the vocabulary rank comes from the
# DISTRIBUTED global-rank pattern (range exchange + per-partition
# row_number + driver prefix-sum offsets — transforms.global_rank), and
# the fit is closed-form double math over five finished scalars.
# Review r5 fix: the previous unpartitioned Window.orderBy funneled the
# ENTIRE vocabulary (10⁸–10⁹ distinct tokens at 100 TB, Heaps-sublinear
# but unbounded-growth) through one task; the range-partitioned rank
# keeps every stage parallel.

ZIPF_TOP_K = 1000


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import widen
    from ..operators.text import normalize
    from ..operators.transforms import global_rank

    docs = load(spark, sf_dir, "documents")

    toks = (
        widen(docs)
        .select(F.explode(F.split(normalize(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # rank = row_number over (cnt DESC, token ASC) — expressed as an
    # ASCENDING total order on (-cnt, token) so the range exchange's
    # sampled bounds see a plain sort key; ties broken on the token for
    # a partition-placement-independent total order
    ranked = (
        global_rank(
            freq.withColumn("_neg_cnt", -F.col("cnt")),
            ["_neg_cnt", "token"],
            rank_col="rank",
        )
        .filter(F.col("rank") <= ZIPF_TOP_K)
        .select(
            F.round(F.log("rank"), 9).alias("x"),
            F.round(F.log("cnt"), 9).alias("y"),
        )
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(18,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(18,9)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(18,9)"))
        .cast("double")
        .alias("sxy"),
    )
    return m.select(
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
        F.round(
            (F.col("sy") - (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
             * F.col("sx"))
            / F.col("n"),
            6,
        ).alias("intercept"),
    )


ZIPF_FIT_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split({NORM_SQL}, ' ')) AS token FROM documents
),
freq AS (
  SELECT token, COUNT(*) AS cnt FROM toks WHERE token <> '' GROUP BY token
),
ranked AS (
  SELECT round(ln(CAST(row_number() OVER (ORDER BY cnt DESC, token) AS DOUBLE)), 9) AS x,
         round(ln(CAST(cnt AS DOUBLE)), 9) AS y,
         row_number() OVER (ORDER BY cnt DESC, token) AS rank
  FROM freq
),
m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxy
  FROM ranked WHERE rank <= {ZIPF_TOP_K}
)
SELECT n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
FROM m
"""


# ---------------------------------------------------------------------------
# #135 two-sample Kolmogorov-Smirnov drift test: is src0's document-
# length distribution the same as the rest of the corpus? Exact KS —
# no sampling, no sketch — via the #124 histogram-walk trick: the
# facts collapse to a sparse per-length histogram (ONE keyed exchange,
# map-side combined), the CDFs are running sums over the value-domain
# tier (bounded by distinct lengths, never corpus-sized), and the
# statistic's argmax orders on the EXACT integer numerator
# |cum_a*n_b - cum_b*n_a| (decimal(38,0)) so engine float rounding can
# never flip a near-tie. Complements #97's KL (binned, model-based)
# with the exact distribution-free test.

KS_SOURCE_A = "src0"


def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    hist = (
        docs.groupBy("n_chars")
        .agg(
            F.sum((F.col("source") == KS_SOURCE_A).cast("long")).alias("ca"),
            F.sum((F.col("source") != KS_SOURCE_A).cast("long")).alias("cb"),
        )
    )
    tot = hist.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walked = (
        hist.withColumn("cum_a", F.sum("ca").over(w))
        .withColumn("cum_b", F.sum("cb").over(w))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "d_int",
            F.abs(
                F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
                - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
            ),
        )
    )
    return (
        walked.orderBy(F.desc("d_int"), "n_chars")
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.round(
                F.col("d_int").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                9,
            ).alias("ks_stat"),
            F.col("n_chars").alias("ks_at"),
        )
    )


KS_DRIFT_SQL = f"""
WITH hist AS (
  SELECT n_chars,
         SUM(CASE WHEN source = '{KS_SOURCE_A}' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN source <> '{KS_SOURCE_A}' THEN 1 ELSE 0 END) AS cb
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM hist
),
walked AS (
  SELECT n_chars,
         abs(CAST(SUM(ca) OVER w AS DECIMAL(38,0)) * n_b
             - CAST(SUM(cb) OVER w AS DECIMAL(38,0)) * n_a) AS d_int,
         n_a, n_b
  FROM hist CROSS JOIN tot
  WINDOW w AS (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT n_a, n_b,
       round(CAST(d_int AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 9) AS ks_stat,
       n_chars AS ks_at
FROM walked
ORDER BY d_int DESC, n_chars
LIMIT 1
"""


# ---------------------------------------------------------------------------
# #136 duplicated-span detection (exact substring dedup, the fixed-k
# span variant of Lee et al. 2022's suffix-array method): which
# 8-token spans recur across documents? Spans are md5-hashed MAP-SIDE
# inside the transform lambda, so only 32-char digests ever shuffle —
# never the 8-token strings (8x text amplification stays in the scan
# stage). Two keyed exchanges: (span, doc) partial counts combine
# before the shuffle, then the tiny per-span tier aggregates; hot
# boilerplate spans are exactly what map-side combine flattens.

SPAN_K = 8
SPAN_MIN_DOCS = 2
SPAN_TOP_N = 20


def duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import widen
    from ..operators.text import normalize

    spans = (
        widen(docs)
        .select("doc_id", F.split(normalize(F.col("text")), " ").alias("w"))
        .filter(F.size("w") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {SPAN_K - 1}),"
                    f" i -> md5(array_join(slice(w, i, {SPAN_K}), ' ')))"
                )
            ).alias("span_md5"),
        )
    )
    per_doc = spans.groupBy("span_md5", "doc_id").agg(
        F.count(F.lit(1)).alias("n_in_doc")
    )
    return (
        per_doc.groupBy("span_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_in_doc").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= SPAN_MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "span_md5")
        .limit(SPAN_TOP_N)
    )


DUPLICATED_SPANS_SQL = f"""
WITH words AS (SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents),
sp AS (
  SELECT doc_id, md5(array_to_string(w[i:i+{SPAN_K - 1}], ' ')) AS span_md5
  FROM words, unnest(generate_series(1, len(w) - {SPAN_K - 1})) AS t(i)
  WHERE len(w) >= {SPAN_K}
),
pd AS (SELECT span_md5, doc_id, COUNT(*) AS n_in_doc FROM sp GROUP BY 1, 2)
SELECT span_md5, COUNT(*) AS n_docs, CAST(SUM(n_in_doc) AS BIGINT) AS n_occurrences
FROM pd GROUP BY span_md5
HAVING COUNT(*) >= {SPAN_MIN_DOCS}
ORDER BY n_docs DESC, n_occurrences DESC, span_md5
LIMIT {SPAN_TOP_N}
"""


# ---------------------------------------------------------------------------
# #140 weighted sampling without replacement (Efraimidis-Spirakis
# A-ES): sample K docs with probability proportional to length — the
# quality-weighted corpus subsampling step of a data-mixing pipeline,
# made REPRODUCIBLE by deriving the uniform from md5(seed:id) instead
# of rand() (same portability argument as assign_split). Each row
# computes its key map-side; selection is a top-K (TakeOrdered — a
# heap per partition + K-row driver merge, never a global sort). The
# ranking key is quantized to 9 digits with doc_id tiebreak so a
# 1-ulp ln() divergence between engines cannot flip the boundary.

WSAMPLE_K = 100
WSAMPLE_SEED = "ws1"


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # u in (0,1]: 13 hex digits of md5 -> 52 bits, +1 to dodge ln(0)
    h = F.expr(
        f"conv(substring(md5(concat('{WSAMPLE_SEED}', ':', CAST(doc_id AS STRING))), 1, 13), 16, 10)"
    ).cast("double")
    u = (h + 1) / F.lit(float(16**13 + 1))
    key = F.round(F.log(u) / F.col("n_chars"), 9)
    return (
        docs.select("doc_id", F.col("n_chars").alias("weight"), key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(WSAMPLE_K)
    )


WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, n_chars AS weight,
       round(ln((('0x' || substr(md5('{WSAMPLE_SEED}' || ':' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                / CAST({16**13 + 1} AS DOUBLE)) / n_chars, 9) AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id
LIMIT {WSAMPLE_K}
"""


# ---------------------------------------------------------------------------
# #141 dup-graph degree diagnostics: node count, edge count, max/mean
# degree and the Hill power-law exponent over the shared PPJoin pair
# tier — the graph-health row an operator checks before trusting CC /
# PageRank output (a hub explosion shows up here first, as the 100 TB
# degree-orientation note on #128 warns). Degrees are one keyed count
# over the edge union; alpha's ln terms are rounded + decimal-summed
# (the #132 idiom) so the MLE replays exactly.


def dupgraph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shared_pair_tier(spark, sf_dir)
    deg = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # n_edges = Σd / 2 rides the same aggregate — no separate count job
    # against the checkpointed tier (review r5)
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(
            (F.sum(F.col("d").cast("decimal(38,0)")) / 2).cast("long"),
            F.lit(0).cast("long"),
        ).alias("n_edges"),
        F.max("d").alias("max_degree"),
        F.sum(
            F.round(F.log(2.0 * F.col("d")), 9).cast(DEC)
        ).cast("double").alias("sum_ln"),
    )
    return agg.select(
        "n_nodes",
        "n_edges",
        "max_degree",
        # NULL, not an ANSI DIVIDE_BY_ZERO, on a graph with no edges
        F.round(2.0 * F.col("n_edges") / F.nullif("n_nodes", F.lit(0)), 9).alias(
            "mean_degree"
        ),
        F.round(1.0 + F.col("n_nodes") / F.col("sum_ln"), 6).alias("alpha_hill"),
    )


DUPGRAPH_DEGREES_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
deg AS (
  SELECT id, COUNT(*) AS d FROM (
    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs
  ) GROUP BY id
),
agg AS (
  SELECT COUNT(*) AS n_nodes,
         (SELECT COUNT(*) FROM pairs) AS n_edges,
         MAX(d) AS max_degree,
         CAST(SUM(CAST(round(ln(2.0 * d), 9) AS DECIMAL(18,6))) AS DOUBLE) AS sum_ln
  FROM deg
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(max_degree AS BIGINT) AS max_degree,
       round(2.0 * n_edges / n_nodes, 9) AS mean_degree,
       round(1.0 + n_nodes / sum_ln, 6) AS alpha_hill
FROM agg
"""


# ---------------------------------------------------------------------------
# #145 LPA communities on the dup graph: the modularity-style view of
# near-dup structure beside exact CC (#63 — CC answers "which docs are
# transitively linked"; LPA answers "which docs cluster densely",
# splitting chains that CC glues). Fixed 3 rounds, smallest-label
# tie-break — a pure function of the edge list, so the oracle replays
# the exact rounds as unrolled SQL (the PageRank pattern).

LPA_ITERATIONS = 3


def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shared_pair_tier(spark, sf_dir)
    from ..operators.graph import label_propagation

    return (
        label_propagation(
            pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
            iterations=LPA_ITERATIONS,
        )
        .select(F.col("vertex").alias("doc_id"), "community")
        .orderBy("doc_id")
    )


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT v AS vertex, community FROM (
    SELECT e.v, l.community,
           row_number() OVER (PARTITION BY e.v
                              ORDER BY COUNT(*) DESC, l.community) AS rn
    FROM eb e JOIN {prev} l ON e.u = l.vertex
    GROUP BY e.v, l.community
  ) WHERE rn = 1
)"""


LPA_COMMUNITIES_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
eb AS MATERIALIZED (
  -- MATERIALIZED: eb is referenced once per unrolled LPA round; DuckDB
  -- 1.0 would otherwise inline it and re-run the shingle pair join
  -- LPA_ITERATIONS times (DuckDB-only syntax, never runs on Spark)
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
r1 AS (SELECT v AS vertex, MIN(u) AS community FROM eb GROUP BY v),
{",".join(_lpa_round_sql(f'r{i}', f'r{i + 1}') for i in range(1, LPA_ITERATIONS))}
SELECT vertex AS doc_id, community FROM r{LPA_ITERATIONS} ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# #154 k-core of the dup graph: bounded-round peeling (drop deg < k
# vertices, repeat) — the "dense boilerplate nucleus" extractor that
# complements CC (#63, reachability) and LPA (#145, density): a
# template cluster survives the 2-core, an incidental one-off match
# does not. Fixed KCORE_ROUNDS rounds keep the result a pure function
# of the edge list, so the oracle replays them as unrolled CTEs (the
# LPA pattern). Each round: one degree aggregate + two LEFT SEMI
# joins, all vertex-keyed shuffles over a shrinking edge frame.

KCORE_K = 2
KCORE_ROUNDS = 3


def kcore_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import k_core

    pairs = _shared_pair_tier(spark, sf_dir)
    return (
        k_core(
            pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
            k=KCORE_K,
            rounds=KCORE_ROUNDS,
        )
        .select(F.col("id").alias("doc_id"), "degree")
        .orderBy("doc_id")
    )


# Every k-core round references the previous edge frame THREE times
# (twice in the degree UNION ALL, once in the filtered projection), and
# DuckDB 1.0 INLINES plain CTEs — so without MATERIALIZED hints the
# shingle self-join upstream is re-evaluated 3^rounds times: measured
# 120 s at sf0.01 and unbounded temp-disk spill at sf0.1, vs 0.17 s
# materialized (identical rows/types; oracle SQL is DuckDB-only so the
# hint costs Spark nothing). Hence AS MATERIALIZED on every CTE here.
def _kcore_round_sql(prev_e: str, d: str, kset: str, out_e: str) -> str:
    return f"""{d} AS MATERIALIZED (
  SELECT id, COUNT(*) AS d FROM (
    SELECT u AS id FROM {prev_e} UNION ALL SELECT v FROM {prev_e}
  ) GROUP BY 1
),
{kset} AS MATERIALIZED (SELECT id FROM {d} WHERE d >= {KCORE_K}),
{out_e} AS MATERIALIZED (
  SELECT u, v FROM {prev_e}
  WHERE u IN (SELECT id FROM {kset}) AND v IN (SELECT id FROM {kset})
)"""


KCORE_DUPGRAPH_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs),
{",".join(_kcore_round_sql(f"e{i}", f"d{i + 1}", f"k{i + 1}", f"e{i + 1}")
          for i in range(KCORE_ROUNDS))}
SELECT id AS doc_id, CAST(d AS BIGINT) AS degree FROM (
  SELECT id, COUNT(*) AS d FROM (
    SELECT u AS id FROM e{KCORE_ROUNDS} UNION ALL SELECT v FROM e{KCORE_ROUNDS}
  ) GROUP BY 1
)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# #155 degree assortativity of the dup graph: Pearson correlation of
# endpoint degrees over (both orientations of) the edge list — the
# one-number "do hubs link to hubs" diagnostic (positive: template
# families interlink; negative: star-shaped boilerplate around single
# templates — determines whether CC components are chains or stars,
# i.e. which CC formulation to run at 100 TB). Two vertex-keyed joins
# to attach degrees, then one aggregate with ALL moments in
# decimal(38,0) (hub degrees square past 2^53); doubles enter only in
# the final closed form; sqrt is IEEE-exact, engine-identical.

def dupgraph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shared_pair_tier(spark, sf_dir).select("id_a", "id_b")
    eb = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    deg = (
        eb.select(F.col("u").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("id").alias("u"), F.col("d").alias("_du"))
    dv = deg.select(F.col("id").alias("v"), F.col("d").alias("_dv"))
    m = (
        eb.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("_du").cast("decimal(38,0)").alias("x"),
            F.col("_dv").cast("decimal(38,0)").alias("y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.when(
            den > 0,
            F.floor(num / den * 1e9 + F.lit(0.5)) / 1e9,
        ).alias("assortativity"),
    )


DUPGRAPH_ASSORTATIVITY_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
eb AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
deg AS (SELECT u AS id, COUNT(*) AS d FROM eb GROUP BY 1),
m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(du.d AS DECIMAL(38,0))) AS sx,
         SUM(CAST(du.d AS DECIMAL(38,0)) * CAST(du.d AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(du.d AS DECIMAL(38,0)) * CAST(dv.d AS DECIMAL(38,0))) AS sxy
  FROM eb JOIN deg du ON eb.u = du.id JOIN deg dv ON eb.v = dv.id
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
            THEN floor(CAST(n * sxy - sx * sx AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) * 1e9 + 0.5) / 1e9
            END AS assortativity
FROM m
"""


# ---------------------------------------------------------------------------
# #156 readability screen (Flesch reading ease): words, sentences and
# a vowel-group syllable proxy per document, bucketed to the standard
# 10-point bands — the curation gate between "too simple" boilerplate
# and unreadable codey text (pairs with the Gopher gates #70 and
# quality score #45). Map-only regex counting (JVM, codegen), one
# bounded aggregate; the Flesch arithmetic is pure IEEE +·/ with the
# SAME operation order in both engines — bit-identical, so the bucket
# floor cannot straddle engines.

def flesch_reading(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    feats = docs.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("_w"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
            F.lit(1),
        ).alias("_s"),
        F.greatest(
            F.size(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
            ),
            F.lit(1),
        ).alias("_y"),
    )
    scored = feats.select(
        "_w",
        (
            F.lit(206.835)
            - F.lit(1.015) * (F.col("_w").cast("double") / F.col("_s"))
            - F.lit(84.6) * (F.col("_y").cast("double") / F.col("_w"))
        ).alias("_f"),
    )
    return (
        scored.groupBy(
            (F.floor(F.col("_f") / 10) * 10).cast("long").alias("flesch_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("_w", "avg_words"),
        )
        .orderBy("flesch_band")
    )


FLESCH_READING_SQL = r"""
WITH feats AS (
  SELECT len(string_split_regex(trim(text), '\s+')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS y
  FROM documents WHERE length(trim(text)) > 0
),
scored AS (
  SELECT w,
         206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                 - 84.6 * (CAST(y AS DOUBLE) / w) AS f
  FROM feats
)
SELECT CAST(floor(f / 10) * 10 AS BIGINT) AS flesch_band,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / COUNT(w) AS avg_words
FROM scored
GROUP BY 1
ORDER BY flesch_band
"""


# ---------------------------------------------------------------------------
# #157 normalization-insensitive exact dedup: case-folded,
# punctuation-stripped, whitespace-collapsed canonical form, hashed
# and grouped — catches the "same doc, different casing/punctuation"
# tier that byte-exact dedup (#37) misses and MinHash doesn't need.
# Map-only canonicalization (JVM regex) + one hash-keyed aggregate;
# the md5 fingerprint is the join/shuffle key at 100 TB (16 bytes, no
# long-text shuffles — the dedup_exact digest discipline).

def normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
                " +",
                " ",
            )
        ).alias("_canon"),
    )
    return (
        canon.select("doc_id", F.md5("_canon").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
        .where(F.col("n_copies") > 1)
        .orderBy("fingerprint")
    )


NORMALIZED_DEDUP_SQL = """
WITH canon AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT fingerprint, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
FROM canon
GROUP BY 1
HAVING COUNT(*) > 1
ORDER BY fingerprint
"""


# ---------------------------------------------------------------------------
# #158 batch PSI drift screen: population stability index of the
# document-length distribution between the even- and odd-numbered
# source groups — the batch twin of the streaming drift monitor
# (#145s), oracle-checked where the streaming one is pytest-proven.
# Two integer histograms (one aggregate), totals as single-row
# broadcast scalars (NO sum() OVER () — the r5 scalar-broadcast rule),
# PSI terms only where both sides have mass; one-sided buckets carry
# their share with a NULL term (appeared/disappeared mass is reported,
# not silently dropped — the streaming monitor's rule).

PSI_BUCKET_WIDTH = 500


def psi_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        (F.substring("source", 4, 10).cast("int") % 2).alias("_grp"),
        # integer division in BOTH engines: a double divide + CAST would
        # truncate in Spark but ROUND in DuckDB
        F.expr(f"n_chars div {PSI_BUCKET_WIDTH}").alias("bucket"),
    )
    hist = docs.groupBy("bucket").agg(
        F.sum(F.when(F.col("_grp") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("_grp") == 1, 1).otherwise(0)).alias("n_b"),
    )
    tot = hist.agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb")
    )
    j = hist.crossJoin(F.broadcast(tot))  # single-row scalars; policy-exempt
    p = F.col("n_a").cast("double") / F.col("_ta")
    q = F.col("n_b").cast("double") / F.col("_tb")
    return j.select(
        "bucket",
        "n_a",
        "n_b",
        (F.floor(p * 1e9 + F.lit(0.5)) / 1e9).alias("p_a"),
        (F.floor(q * 1e9 + F.lit(0.5)) / 1e9).alias("p_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.floor((p - q) * F.log(p / q) * 1e9 + F.lit(0.5)) / 1e9,
        ).alias("psi_term"),
    ).orderBy("bucket")


PSI_BATCH_SQL = f"""
WITH d AS (
  SELECT CAST(substring(source, 4) AS INTEGER) % 2 AS grp,
         n_chars // {PSI_BUCKET_WIDTH} AS bucket
  FROM documents
),
hist AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM d GROUP BY 1
),
tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM hist)
SELECT bucket, n_a, n_b,
       floor(CAST(n_a AS DOUBLE) / ta * 1e9 + 0.5) / 1e9 AS p_a,
       floor(CAST(n_b AS DOUBLE) / tb * 1e9 + 0.5) / 1e9 AS p_b,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN floor((CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
                       * ln((CAST(n_a AS DOUBLE) / ta)
                            / (CAST(n_b AS DOUBLE) / tb)) * 1e9 + 0.5) / 1e9
            END AS psi_term
FROM hist, tot
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# #159 simplified silhouette: per-cluster cohesion score over the
# deterministic IVF quantizer — a(i) = cosine distance to own
# centroid, b(i) = distance to the nearest OTHER centroid,
# s = (b−a)/max(a,b) — the centroid-based silhouette (O(n·k), the form
# that scales; the O(n²) pairwise silhouette is exactly what it
# replaces). Map-only against inlined centroids (zero shuffle until
# the final k-row aggregate): best/second-best come from one score
# array per row — same fold, same tie rule as the IVF/SemDeDup
# assignment (similarity.assign_to_centroids' argmax), value-checked
# by the oracle's rn=1/rn=2 window.

def cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import widen
    from ..operators.similarity import (
        COSINE_NDIGITS,
        _ivf_scores_expr,
        ivf_centroids,
        with_norm,
    )

    emb = load(spark, sf_dir, "embeddings")
    vecs, norms = ivf_centroids(emb, SEMDEDUP_NLIST)
    scores = _ivf_scores_expr("embedding", vecs, norms)
    scored = (
        with_norm(widen(emb), "embedding", EMB_DIM)
        .withColumn("_s", F.expr(scores))
        .select(
            "vec_id",
            F.expr("CAST(array_position(_s, array_max(_s)) AS INT)").alias(
                "list_id"
            ),
            F.round(F.expr("array_max(_s)") / F.col("norm"), COSINE_NDIGITS)
            .alias("_a_cos"),
            F.round(
                F.expr(
                    "array_max(filter(_s, (x, i) -> "
                    "i + 1 != CAST(array_position(_s, array_max(_s)) AS INT)))"
                )
                / F.col("norm"),
                COSINE_NDIGITS,
            ).alias("_b_cos"),
        )
    )
    sil = scored.select(
        "list_id",
        F.when(
            F.greatest(1 - F.col("_a_cos"), 1 - F.col("_b_cos")) > 0,
            F.floor(
                (F.col("_a_cos") - F.col("_b_cos"))
                / F.greatest(1 - F.col("_a_cos"), 1 - F.col("_b_cos"))
                * 1e9
                + F.lit(0.5)
            )
            / 1e9,
        )
        .otherwise(F.lit(0.0))
        .alias("_sil"),
    )
    return (
        sil.groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            (
                F.floor(
                    F.sum(F.col("_sil").cast(DEC)).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("mean_silhouette"),
        )
        .orderBy("list_id")
    )


CLUSTER_SILHOUETTE_SQL = f"""
WITH {NORM_CTE},
cent AS (
  SELECT embedding, nrm, c FROM (
    SELECT embedding, nrm,
           CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS c
    FROM norms
  ) WHERE c <= {SEMDEDUP_NLIST}
),
scores AS (
  SELECT n.vec_id, n.nrm, c.c,
         (SELECT SUM(CAST(n.embedding[i] AS DOUBLE)
                     * (CAST(c.embedding[i] AS DOUBLE) / c.nrm))
          FROM unnest(generate_series(1, {EMB_DIM})) t(i)) AS s
  FROM norms n, cent c
),
ranked AS (
  SELECT vec_id, c, round(s / nrm, 6) AS cosr,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn
  FROM scores
),
per_point AS (
  SELECT a.vec_id, a.c AS list_id,
         CASE WHEN greatest(1 - a.cosr, 1 - b.cosr) > 0
              THEN floor((a.cosr - b.cosr)
                         / greatest(1 - a.cosr, 1 - b.cosr) * 1e9 + 0.5) / 1e9
              ELSE 0.0 END AS sil
  FROM ranked a JOIN ranked b
    ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
)
SELECT list_id, COUNT(*) AS n_points,
       floor(CAST(SUM(CAST(sil AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS mean_silhouette
FROM per_point
GROUP BY 1
ORDER BY list_id
"""


# ---------------------------------------------------------------------------
# #169 n-gram novelty score: per document, the share of its distinct
# 3-shingles that appear in NO other document — the self-containment
# metric a curation pipeline reads next to the dup tiers (a low-novelty
# doc is assembled from corpus boilerplate even when no single pair
# crosses the Jaccard threshold). Shingles are computed JVM-side
# (dedup.shingle_array, distinct per doc), document frequency is one
# shingle-keyed aggregate, and the novelty share is exact integer
# counts divided once at the end.
#
# No fact-fact join: a df==1 shingle has exactly ONE owner, so the
# shingle-keyed aggregate carries MIN(doc_id) out and the novel count
# is a per-doc count over its df==1 rows — the doc tier then left-joins
# two doc-keyed aggregates (docs-cardinality, not shingles). The
# earlier shape joined the full shingle frame back to its DF table:
# a second shingle-keyed shuffle of the fact frame that this version
# never performs (2.7 s → ~1 s at sf0.1; at 100 TB the join's shuffle
# volume is the whole corpus' shingles, vs two partial-agged tiers).

def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consumes the shared shingle staging tier instead of re-running
    # the interpreted shingling chain over the corpus
    sh = _shared_shingle_tier(spark, sf_dir).select(
        "doc_id", F.explode("_sh").alias("shingle")
    )
    n_sh = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    df_t = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_df"), F.min("doc_id").alias("_owner")
    )
    novel_t = (
        df_t.where(F.col("_df") == 1)
        .groupBy(F.col("_owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("_novel"))
    )
    return (
        n_sh.join(novel_t, "doc_id", "left")
        .withColumn("_novel", F.coalesce(F.col("_novel"), F.lit(0)))
        .select(
            "doc_id",
            "n_shingles",
            (
                F.floor(
                    F.col("_novel") / F.col("n_shingles") * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


NGRAM_NOVELTY_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
df_t AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
SELECT s.doc_id, COUNT(*) AS n_shingles,
       floor(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS novelty
FROM sh s JOIN df_t d ON s.shingle = d.shingle
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


# ---------------------------------------------------------------------------
# #170 lexical diversity (type-token ratio bands): distinct-token /
# total-token ratio per document, banded by integer division
# (d·10 div t — a double ratio ×10 under floor() mis-bands exact
# boundaries like 3/10 in BOTH engines; integer division doesn't) —
# the vocabulary-richness screen beside the quality score (#45) and
# Gopher gates (#70). Map-only array math (split / array_distinct,
# all JVM), one bounded aggregate.

def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import normalize

    docs = load(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    w = F.split(normalize(F.col("text")), " ")
    feats = docs.select(
        F.size(w).alias("_n"),
        F.size(F.array_distinct(w)).alias("_d"),
    )
    return (
        feats.groupBy(
            F.expr("(_d * 10) div _n").cast("int").alias("ttr_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("_n", "avg_tokens"),
        )
        .orderBy("ttr_band")
    )


LEXICAL_DIVERSITY_SQL = f"""
WITH feats AS (
  SELECT len(string_split({NORM_SQL}, ' ')) AS n,
         len(list_distinct(string_split({NORM_SQL}, ' '))) AS d
  FROM documents WHERE length(trim(text)) > 0
)
SELECT CAST((d * 10) // n AS INTEGER) AS ttr_band,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n AS DECIMAL(18,6))) AS DOUBLE) / COUNT(n) AS avg_tokens
FROM feats
GROUP BY 1
ORDER BY ttr_band
"""


# ---------------------------------------------------------------------------
# #180 PMI collocations: top-K adjacent token pairs by pointwise
# mutual information ln(n12·N / (n1·n2)) with a min-count floor — the
# classic collocation/multi-word-expression miner (Church & Hanks
# 1990) that a tokenizer-vocab pipeline runs before merging frequent
# pairs. All tiers are vocabulary-bounded (bigram counts + the two
# marginals DERIVED from the bigram tier — one corpus scan total); the
# PMI ratio is a double division of exact sub-2⁵³ BIGINT products so
# both engines see identical doubles; floor-quantize@6 before the
# TakeOrdered heap (never a global sort), ties broken on (w1, w2).

PMI_MIN_COUNT = 5
PMI_TOP_K = 30


def pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import widen
    from ..operators.text import normalize

    w = F.split(normalize(F.col("text")), " ")
    bigrams = (
        widen(docs)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                    F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    bg = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    left = bg.groupBy("w1").agg(F.sum("n12").alias("n1"))
    right = bg.groupBy("w2").agg(F.sum("n12").alias("n2"))
    tot = bg.agg(F.sum("n12").alias("nn"))
    scored = (
        bg.where(F.col("n12") >= PMI_MIN_COUNT)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(tot))  # single-row scalar
        .select(
            "w1",
            "w2",
            "n12",
            (
                F.floor(
                    F.log(
                        (F.col("n12") * F.col("nn")).cast("double")
                        / (F.col("n1") * F.col("n2")).cast("double")
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(PMI_TOP_K)


PMI_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(w) AS token, generate_subscripts(w, 1) AS pos
  FROM (SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents)
),
bigrams AS (
  SELECT w1, token AS w2
  FROM (
    SELECT doc_id, token, pos,
           lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
    FROM toks
  )
  WHERE w1 IS NOT NULL AND w1 <> '' AND token <> ''
),
bg AS (SELECT w1, w2, COUNT(*) AS n12 FROM bigrams GROUP BY 1, 2),
l AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM bg GROUP BY 1),
r AS (SELECT w2, CAST(SUM(n12) AS BIGINT) AS n2 FROM bg GROUP BY 1),
t AS (SELECT CAST(SUM(n12) AS BIGINT) AS nn FROM bg)
SELECT bg.w1, bg.w2, n12,
       floor(ln(CAST(n12 * nn AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)) * 1e6
             + 0.5) / 1e6 AS pmi
FROM bg JOIN l USING (w1) JOIN r USING (w2), t
WHERE n12 >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, w1, w2
LIMIT {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# #181 label-centroid similarity matrix: per-label embedding centroid
# + pairwise cosine between centroids — the cluster-drift /
# class-confusability map over an embedding corpus (labels play the
# source/cluster key; k centroids are BOUNDED so the k×k matrix is
# free). Components quantize to exact integer micro-units BEFORE the
# sum (float Σ is partition-order-dependent — the all-integer moments
# rule), centroids divide once in doubles, and the cosine's per-dim
# products re-quantize to nano-units so the 64-term sums are
# order-independent too. One posexplode + two bounded aggregates.

def label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select("label", F.posexplode("embedding").alias("pos", "_v"))
    cent = (
        comp.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.floor(F.col("_v").cast("double") * 1e6 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("_s"),
        )
        .select(
            "label",
            "pos",
            (F.col("_s").cast("double") / F.col("_n") / 1e6).alias("c"),
        )
    )
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("c").alias("_ca"))
    b = cent.select(F.col("label").alias("label_b"), "pos", F.col("c").alias("_cb"))
    q9 = lambda col: F.floor(col * 1e9 + F.lit(0.5)).cast("long")
    pairs = (
        a.join(b, "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(q9(F.col("_ca") * F.col("_cb"))).alias("_dot"),
            F.sum(q9(F.col("_ca") * F.col("_ca"))).alias("_na"),
            F.sum(q9(F.col("_cb") * F.col("_cb"))).alias("_nb"),
        )
        .select(
            "label_a",
            "label_b",
            (
                F.floor(
                    F.col("_dot").cast("double")
                    / (
                        F.sqrt(F.col("_na").cast("double"))
                        * F.sqrt(F.col("_nb").cast("double"))
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("cosine"),
        )
    )
    return pairs.orderBy("label_a", "label_b")


LABEL_CENTROID_SIM_SQL = """
WITH comp AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS v
  FROM embeddings
),
cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
              AS DOUBLE) / COUNT(*) / 1e6 AS c
  FROM comp GROUP BY 1, 2
)
SELECT a.label AS label_a, b.label AS label_b,
       floor(CAST(SUM(CAST(floor(a.c * b.c * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
             / (sqrt(CAST(SUM(CAST(floor(a.c * a.c * 1e9 + 0.5) AS BIGINT))
                          AS DOUBLE))
                * sqrt(CAST(SUM(CAST(floor(b.c * b.c * 1e9 + 0.5) AS BIGINT))
                            AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS cosine
FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# #182 containment near-dup (asymmetric): directional pairs where doc
# A's shingles are >= 90% inside doc B — the subset-duplication screen
# (quoted docs, wrapper pages) that symmetric Jaccard (#38) misses
# when the container dwarfs the contained. Probe-prefix + full-postings
# SSJoin in operators/dedup.py:containment_pairs; the oracle replays
# the exact full pair intersection.

CONTAINMENT_THRESHOLD = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # probe, postings and verification arrays all read the shared
    # shingle checkpoint
    return dedup.containment_pairs(
        _shared_shingle_tier(spark, sf_dir), "doc_id",
        threshold=CONTAINMENT_THRESHOLD,
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(n_common AS DOUBLE) / sa.n AS containment
FROM inter JOIN sizes sa ON id_a = sa.doc_id
WHERE CAST(n_common AS DOUBLE) / sa.n >= {CONTAINMENT_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# #191 Adamic-Adar link prediction on the dup graph: for non-edge
# pairs at distance 2, AA = Σ_{common neighbor w} 1/ln(deg w) — the
# classic "which near-dup clusters are about to merge" signal (Adamic
# & Adar 2003); rare shared neighbors weigh more than boilerplate
# hubs. Rides the SAME localCheckpointed pair tier as CC/PageRank/
# triangles; wedges come from operators.graph.capped_wedges — one
# neighbor self-join keyed on the middle vertex with a DEGREE CAP on
# the middle (fan-out Σ_w C(deg(w),2) is quadratic in hub degree; the
# 1/ln(deg) weight itself says super-hubs contribute ~nothing, so
# dropping middles with deg > AA_DEG_CAP loses < 1/ln(cap) per wedge —
# bounded error at 100 TB, EXACT here since the corpus max degree is
# far below the cap, so the uncapped oracle matches). Middle vertices
# always have deg ≥ 2 so ln never hits 0; per-wedge weights round@9 →
# DECIMAL sums (order-independent).

AA_TOP_K = 30
# Exactness bound at driver SFs (dup-graph max degree is O(10) there);
# at 100 TB this is the knob that trades < 1/ln(4096) ≈ 0.12 of AA
# weight per dropped hub wedge for a C(cap,2) fan-out ceiling.
AA_DEG_CAP = 4096


def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    pairs = _shared_pair_tier(spark, sf_dir).select("id_a", "id_b")
    wedges, _ = graph.capped_wedges(pairs, "id_a", "id_b", deg_cap=AA_DEG_CAP)
    aa = (
        wedges.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.round(
                    F.lit(1.0) / F.log(F.col("d").cast("double")), 9
                ).cast("decimal(18,9)")
            ).alias("_aa"),
        )
    )
    existing = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    return (
        aa.join(existing, ["u", "v"], "left_anti")
        .select(
            F.col("u").alias("id_a"),
            F.col("v").alias("id_b"),
            "n_common",
            (F.floor(F.col("_aa").cast("double") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "adamic_adar"
            ),
        )
        .orderBy(F.desc("adamic_adar"), "id_a", "id_b")
        .limit(AA_TOP_K)
    )


ADAMIC_ADAR_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
        >= {JACCARD_THRESHOLD}
),
nbr AS (
  SELECT id_a AS w, id_b AS u FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
deg AS (SELECT w, COUNT(*) AS d FROM nbr GROUP BY 1),
aa AS (
  SELECT n1.u AS u, n2.u AS v, COUNT(*) AS n_common,
         SUM(CAST(round(1.0 / ln(CAST(d AS DOUBLE)), 9) AS DECIMAL(18,9)))
           AS s
  FROM nbr n1
  JOIN nbr n2 ON n1.w = n2.w AND n1.u < n2.u
  JOIN deg ON deg.w = n1.w
  GROUP BY 1, 2
)
SELECT u AS id_a, v AS id_b, n_common,
       floor(CAST(s AS DOUBLE) * 1e6 + 0.5) / 1e6 AS adamic_adar
FROM aa
WHERE NOT EXISTS (
  SELECT 1 FROM pairs p WHERE p.id_a = aa.u AND p.id_b = aa.v
)
ORDER BY adamic_adar DESC, id_a, id_b
LIMIT {AA_TOP_K}
"""


# ---------------------------------------------------------------------------
# #196 per-source length-drift screen: chi² goodness-of-fit of each
# source's doc-length band mix against the corpus mix — "which feeds
# changed shape" (completes the drift family: PSI #158 needs a
# reference window, KS #135 is two-sample, this is each-vs-corpus).
# One (source, band) cell aggregate; the corpus tier and source totals
# both DERIVE from the cells (bounded frames, broadcast rejoins);
# expected counts are double ratios of exact ints, per-cell terms
# quantize@9 → DECIMAL so the Σ is order-independent.

LENGTH_BAND_WIDTH = 200
LENGTH_BAND_MAX = 9


def source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    band = F.least(
        F.lit(LENGTH_BAND_MAX),
        F.expr(f"CAST(n_chars div {LENGTH_BAND_WIDTH} AS BIGINT)"),
    )
    cells = docs.groupBy("source", band.alias("band")).agg(
        F.count(F.lit(1)).alias("o")
    )
    src_tot = cells.groupBy("source").agg(F.sum("o").alias("n_s"))
    band_tier = cells.groupBy("band").agg(F.sum("o").alias("c_b"))
    tot = cells.agg(F.sum("o").alias("nn"))
    grid = (
        src_tot.crossJoin(F.broadcast(band_tier))  # bounded: sources × ≤10 bands
        .join(cells, ["source", "band"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
        .crossJoin(F.broadcast(tot))  # single-row scalar
    )
    e = F.col("n_s").cast("double") * F.col("c_b") / F.col("nn")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    return (
        grid.groupBy("source", "n_s")
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.sum(F.round(term, 9).cast("decimal(18,9)")).alias("_chi2"),
        )
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            (F.col("n_bands") - 1).alias("dof"),
            (
                F.floor(F.col("_chi2").cast("double") * 1e6 + F.lit(0.5)) / 1e6
            ).alias("chi2"),
        )
        .orderBy("source")
    )


SOURCE_LENGTH_DRIFT_SQL = f"""
WITH cells AS (
  SELECT source,
         least({LENGTH_BAND_MAX}, n_chars // {LENGTH_BAND_WIDTH}) AS band,
         COUNT(*) AS o
  FROM documents GROUP BY 1, 2
),
src_tot AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n_s FROM cells GROUP BY 1),
corpus AS (SELECT band, CAST(SUM(o) AS BIGINT) AS c_b FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
grid AS (
  SELECT s.source, s.n_s, c.band, c.c_b,
         COALESCE(cells.o, 0) AS o, t.nn
  FROM src_tot s CROSS JOIN corpus c
  LEFT JOIN cells ON cells.source = s.source AND cells.band = c.band
  CROSS JOIN tot t
)
SELECT source, n_s AS n_docs,
       COUNT(*) - 1 AS dof,
       floor(CAST(SUM(CAST(round(
           (o - CAST(n_s AS DOUBLE) * c_b / nn)
         * (o - CAST(n_s AS DOUBLE) * c_b / nn)
         / (CAST(n_s AS DOUBLE) * c_b / nn), 9) AS DECIMAL(18,9)))
         AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2
FROM grid
GROUP BY source, n_s
ORDER BY source
"""


# ---------------------------------------------------------------------------
# #198 kNN label purity: for each brute-force query vector, the share
# of its top-K neighbors sharing its label, rolled up per label — the
# embedding-quality / leakage screen (a kNN-classifier cross-check: a
# label whose neighborhoods are impure either has noisy labels or an
# embedding that doesn't separate it). Rides the SAME bounded query
# subset as the brute-force baseline (#42); two key-joins attach the
# labels; exact integer match counts divide once.

def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    knn = knn_bruteforce(spark, sf_dir)
    ql = emb.select(F.col("vec_id").alias("query_id"), "label")
    nl = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("_nl")
    )
    j = knn.join(ql, "query_id").join(nl, "neighbor_id")
    per_q = j.groupBy("query_id", "label").agg(
        F.sum(F.when(F.col("_nl") == F.col("label"), 1).otherwise(0)).alias(
            "_m"
        ),
        F.count(F.lit(1)).alias("_k"),
    )
    return (
        per_q.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("_m").alias("_mm"),
            F.sum("_k").alias("_kk"),
        )
        .select(
            "label",
            "n_queries",
            (
                F.floor(
                    F.col("_mm").cast("double") / F.col("_kk") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("purity"),
        )
        .orderBy("label")
    )


KNN_LABEL_PURITY_SQL = f"""
WITH {NORM_CTE},
q AS (SELECT vec_id AS query_id, embedding, nrm
      FROM norms WHERE vec_id < {KNN_QUERY_MAX_ID}),
scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id,
         round(
           (SELECT SUM(CAST(a.embedding[i] AS DOUBLE)
                       * CAST(b.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) AS t(i))
           / (a.nrm * b.nrm),
           6) AS cosine
  FROM q a JOIN norms b ON b.vec_id <> a.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
),
knn AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= {KNN_K}),
per_q AS (
  SELECT knn.query_id, e1.label,
         CAST(SUM(CASE WHEN e2.label = e1.label THEN 1 ELSE 0 END)
              AS BIGINT) AS m,
         COUNT(*) AS k
  FROM knn
  JOIN embeddings e1 ON e1.vec_id = knn.query_id
  JOIN embeddings e2 ON e2.vec_id = knn.neighbor_id
  GROUP BY 1, 2
)
SELECT label, COUNT(*) AS n_queries,
       floor(CAST(SUM(m) AS DOUBLE) / CAST(SUM(k) AS BIGINT) * 1e6 + 0.5)
         / 1e6 AS purity
FROM per_q
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #200 local clustering coefficients on the dup graph: per-vertex
# lcc = 2·t(v)/(d(v)·(d(v)−1)) — the per-vertex refinement of the
# global closure ratio (#128); a document inside a dense template
# clique scores ~1, a bridge between unrelated near-dup families ~0.
# Degree-oriented triangles (found once each), exploded to vertices;
# the oracle enumerates id-oriented triangles (same set) and replays
# the formula.

def local_clustering_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    pairs = _shared_pair_tier(spark, sf_dir).select("id_a", "id_b")
    return graph.local_clustering(pairs, src="id_a", dst="id_b")


LOCAL_CLUSTERING_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
        >= {JACCARD_THRESHOLD}
),
tris AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.id_b = e2.id_a
  JOIN pairs e3 ON e1.id_a = e3.id_a AND e2.id_b = e3.id_b
),
per_vertex AS (
  SELECT id, COUNT(*) AS t FROM (
    SELECT a AS id FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY 1
),
deg AS (
  SELECT id, COUNT(*) AS d FROM (
    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs
  ) GROUP BY 1
)
SELECT deg.id, CAST(d AS BIGINT) AS degree,
       CAST(COALESCE(t, 0) AS BIGINT) AS n_triangles,
       floor(2.0 * COALESCE(t, 0) / (d * (d - 1)) * 1e6 + 0.5) / 1e6 AS lcc
FROM deg LEFT JOIN per_vertex ON deg.id = per_vertex.id
WHERE d >= 2
ORDER BY deg.id
"""


# ---------------------------------------------------------------------------
# #203 embedding norm profile: per-label vector-norm hygiene screen —
# mean/min/max L2 norm and degenerate-vector counts (zero or
# non-finite norms break cosine ANN silently; this is the check run
# BEFORE building any index). Map-only JVM array fold per row
# (F.aggregate — no Python, no shuffle until the bounded label
# rollup); per-vector squared norms quantize@6 → integer micro-units
# so the label means are partition-order-exact.

def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    rows = emb.select(
        "label",
        F.sqrt(sq).alias("_nrm"),
    ).select(
        "label",
        "_nrm",
        F.floor(F.col("_nrm") * 1e6 + F.lit(0.5)).cast("long").alias("_q"),
    )
    return (
        rows.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.when(
                    F.col("_nrm").isNull()
                    | F.isnan("_nrm")
                    | (F.col("_nrm") <= 0),
                    1,
                ).otherwise(0)
            ).alias("n_degenerate"),
            (
                F.floor(
                    F.sum("_q").cast("double") / F.count(F.lit(1)) * 1e-6 * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("mean_norm"),
            (F.min("_q").cast("double") / 1e6).alias("min_norm"),
            (F.max("_q").cast("double") / 1e6).alias("max_norm"),
        )
        .orderBy("label")
    )


EMBEDDING_NORM_PROFILE_SQL = """
WITH rows_ AS (
  SELECT label,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM unnest(embedding) AS t(e))) AS nrm
  FROM embeddings
),
q AS (
  SELECT label, nrm,
         CAST(floor(nrm * 1e6 + 0.5) AS BIGINT) AS qn
  FROM rows_
)
SELECT label, COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN nrm IS NULL OR isnan(nrm) OR nrm <= 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
       floor(CAST(SUM(qn) AS DOUBLE) / COUNT(*) * 1e-6 * 1e6 + 0.5) / 1e6
         AS mean_norm,
       CAST(MIN(qn) AS DOUBLE) / 1e6 AS min_norm,
       CAST(MAX(qn) AS DOUBLE) / 1e6 AS max_norm
FROM q
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #209 duplicate rate by source: share of each source's docs that lose
# the greedy near-dup rule (#53's survivor policy: every id_a < id_b
# pair drops id_b) — the per-feed curation KPI that decides which
# upstream sources are worth re-crawling vs deduping harder. One
# distinct over the shared pair tier's loser column + one left join
# flag + one bounded source rollup.

def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    losers = (
        _shared_pair_tier(spark, sf_dir)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("_lost", F.lit(1))
    )
    return (
        docs.join(losers, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("_lost"), F.lit(0))).alias("n_dup_losers"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_losers",
            (
                F.floor(
                    F.col("n_dup_losers").cast("double")
                    / F.col("n_docs")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


DUP_RATE_BY_SOURCE_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
        >= {JACCARD_THRESHOLD}
),
losers AS (SELECT DISTINCT id_b FROM pairs)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id IN (SELECT id_b FROM losers)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_losers,
       floor(CAST(SUM(CASE WHEN doc_id IN (SELECT id_b FROM losers)
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS dup_rate
FROM documents
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #210 hybrid sparse+dense retrieval (reciprocal-rank fusion): the BM25
# top-N (#127) and the dense cosine top-N for a fixed query vector
# (#42's scorer) fuse via RRF (Cormack et al. 2009):
# score(d) = Σ_lists 1/(RRF_K + rank_d), absent list → 0 contribution.
# Completes the RAG retrieval stack (VERDICT r7 ask #2): sparse term
# match catches exact keywords the embedding misses, dense catches
# paraphrase. Both branches are bounded top-N lists, so the fusion
# itself is a ≤2N-row full-outer join — free at any corpus scale; the
# cost profile is exactly the two underlying retrieval queries.

RRF_K = 60  # the canonical constant from the TREC fusion literature
# MUST equal BM25_TOP_N: the hybrid/overlap SQL oracles hardcode the
# sparse branch as LIMIT RRF_TOP_N while the Spark side reuses the
# shared BM25 tier bounded by BM25_TOP_N — defining one from the other
# makes the coupling unbreakable (advice r8)
RRF_TOP_N = BM25_TOP_N
RRF_QUERY_VEC_ID = 0  # dense query = this vector (doc/vec ids align)


def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # sparse branch: the shared BM25 top-N tier (N=20, checkpointed)
    sparse = _shared_bm25_tier(spark, sf_dir)
    sw = Window.orderBy(F.desc("bm25"), "doc_id")  # 20-row frame
    sparse_r = sparse.select(
        "doc_id", F.row_number().over(sw).alias("sparse_rank")
    )
    # dense branch: the shared dense tier's RRF_QUERY_VEC_ID slice
    # (per-query rank is partitioned, so the slice IS the exact cosine
    # top-N for the fixed query vector)
    dense = (
        _shared_dense_topk(spark, sf_dir)
        .filter(
            (F.col("query_id") == RRF_QUERY_VEC_ID)
            & (F.col("rank") <= RRF_TOP_N)
        )
        .select(
            F.col("neighbor_id").alias("d_id"),
            F.col("rank").alias("dense_rank"),
        )
    )
    fused = sparse_r.join(
        dense, sparse_r["doc_id"] == dense["d_id"], "full_outer"
    ).select(
        F.coalesce(F.col("doc_id"), F.col("d_id")).alias("doc_id"),
        "sparse_rank",
        "dense_rank",
        (
            F.floor(
                (
                    F.coalesce(
                        F.lit(1.0) / (F.lit(RRF_K) + F.col("sparse_rank")),
                        F.lit(0.0),
                    )
                    + F.coalesce(
                        F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank")),
                        F.lit(0.0),
                    )
                )
                * 1e9
                + F.lit(0.5)
            )
            / 1e9
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(RRF_TOP_N)


# The sparse/dense branch CTE chain is shared by the fusion oracle
# (#210) and the overlap diagnostic (#220) — one builder so the two
# can never drift.
_RETRIEVAL_BRANCH_CTES = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS token
  FROM documents
),
tok AS MATERIALIZED (SELECT doc_id, token FROM toks WHERE token <> ''),
dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
na AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
tf AS MATERIALIZED (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok
  WHERE token IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
  GROUP BY doc_id, token
),
dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
idf AS (
  SELECT token,
         round(ln(1.0 + (n - df + 0.5) / (df + 0.5)), 9) AS idf,
         avgdl
  FROM dft CROSS JOIN na
),
contrib AS (
  SELECT tf.doc_id,
         CAST(round(
           idf * (tf * ({BM25_K1} + 1))
           / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / avgdl)),
         9) AS DECIMAL(18,9)) AS c
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  JOIN idf ON tf.token = idf.token
),
bm25 AS (
  SELECT doc_id, round(CAST(SUM(c) AS DOUBLE), 6) AS bm25
  FROM contrib GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id LIMIT {RRF_TOP_N}
),
sparse AS MATERIALIZED (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
           AS sparse_rank
  FROM bm25
),
{NORM_CTE},
q AS (SELECT embedding, nrm FROM norms WHERE vec_id = {RRF_QUERY_VEC_ID}),
dscored AS (
  SELECT b.vec_id AS d_id,
         round(
           (SELECT SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) AS t(i)) / (a.nrm * b.nrm),
           6) AS cosine
  FROM q a JOIN norms b ON b.vec_id <> {RRF_QUERY_VEC_ID}
),
dense AS MATERIALIZED (
  SELECT d_id, CAST(rank AS INT) AS dense_rank
  FROM (
    SELECT d_id, row_number() OVER (ORDER BY cosine DESC, d_id) AS rank
    FROM dscored
  ) WHERE rank <= {RRF_TOP_N}
)
"""

HYBRID_RRF_SQL = f"""{_RETRIEVAL_BRANCH_CTES}
SELECT COALESCE(s.doc_id, d.d_id) AS doc_id,
       s.sparse_rank, d.dense_rank,
       floor((COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + s.sparse_rank),
                       CAST(0.0 AS DOUBLE))
              + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + d.dense_rank),
                         CAST(0.0 AS DOUBLE))) * 1e9 + 0.5)
         / 1e9 AS rrf_score
FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.d_id
ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOP_N}
"""


# ---------------------------------------------------------------------------
# #211 hard-negative mining for contrastive training: per query vector,
# the top-K most-cosine-similar vectors with a DIFFERENT label — the
# standard "hardest negatives" selection for embedding fine-tuning
# (e.g. DPR, Karpukhin et al. 2020 §4). Same broadcast-query /
# one-corpus-scan shape as the #42 brute-force baseline (the bounded
# query side broadcasts, the corpus never shuffles until the per-query
# top-K); the label predicate just rides the join. The blocked-GEMM /
# IVF scale paths of #41/#43b apply unchanged when the query set grows.

HARD_NEG_K = 3


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import widen

    emb = load(spark, sf_dir, "embeddings")
    q = similarity.with_norm(
        emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    c = similarity.with_norm(widen(emb)).select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = c.join(
        F.broadcast(q),  # broadcast-policy-exempt: < KNN_QUERY_MAX_ID rows
        F.col("query_label") != F.col("negative_label"),
    ).withColumn(
        "cosine",
        similarity.cosine_col("q_emb", "c_emb", "q_norm", "c_norm"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARD_NEG_K)
        .select(
            "query_id",
            "query_label",
            "negative_id",
            "negative_label",
            "rank",
            "cosine",
        )
    )


HARD_NEGATIVES_SQL = f"""
WITH {NORM_CTE},
q AS (
  SELECT n.vec_id AS query_id, e.label AS query_label,
         n.embedding AS embedding, n.nrm AS nrm
  FROM norms n JOIN embeddings e ON n.vec_id = e.vec_id
  WHERE n.vec_id < {KNN_QUERY_MAX_ID}
),
scored AS (
  SELECT a.query_id, a.query_label,
         b.vec_id AS negative_id, e.label AS negative_label,
         round(
           (SELECT SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) AS t(i)) / (a.nrm * b.nrm),
           6) AS cosine
  FROM q a
  JOIN norms b ON TRUE
  JOIN embeddings e ON e.vec_id = b.vec_id
  WHERE e.label <> a.query_label
),
ranked AS (
  SELECT query_id, query_label, negative_id, negative_label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, negative_id) AS rank
  FROM scored
)
SELECT query_id, query_label, negative_id, negative_label,
       CAST(rank AS INT) AS rank, cosine
FROM ranked WHERE rank <= {HARD_NEG_K}
"""


# ---------------------------------------------------------------------------
# #212 tokenizer fertility by language: BPE-ish tokens per whitespace
# word and chars per BPE token, per labeled language — the standard
# "how much does the tokenizer fragment this language" audit that
# decides per-language token budgets (fertility > 1 languages pay more
# compute per word). Map-only projection + one bounded (|langs|-row)
# aggregate; reuses #46's dual token counters.


def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import normalize

    docs = load(spark, sf_dir, "documents")
    rows = text.token_counts(docs, "text").select(
        "lang",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.length(normalize(F.col("text"))).alias("n_chars_norm"),
    )
    per = rows.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws_tokens").cast("long").alias("ws_tokens"),
        F.sum("n_bpe_tokens").cast("long").alias("bpe_tokens"),
        F.sum("n_chars_norm").cast("long").alias("chars"),
    )
    return per.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        (
            F.floor(
                F.col("bpe_tokens").cast("double")
                / F.col("ws_tokens")
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("fertility"),
        (
            F.floor(
                F.col("chars").cast("double") / F.col("bpe_tokens") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("chars_per_bpe_token"),
    ).orderBy("lang")


TOKEN_FERTILITY_SQL = f"""
WITH counts AS (
  SELECT lang,
         len(string_split({NORM_SQL}, ' ')) AS ws,
         len(regexp_extract_all({NORM_SQL}, '{text.BPE_PATTERN}')) AS bpe,
         length({NORM_SQL}) AS ch
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       floor(CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS BIGINT) * 1e6 + 0.5)
         / 1e6 AS fertility,
       floor(CAST(SUM(ch) AS DOUBLE) / CAST(SUM(bpe) AS BIGINT) * 1e6 + 0.5)
         / 1e6 AS chars_per_bpe_token
FROM counts
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #213 language-ID confusion matrix: the labeled ``lang`` column vs
# #44's stopword-density prediction, as (label, predicted) cell counts
# with per-label recall shares — the classifier-eval op that turns the
# lang-ID heuristic from "a score" into "a measured error structure"
# (which pairs get confused, which labels under-recall). One map-only
# scoring pass + one |langs|²-bounded aggregate; the label-marginal
# rejoin is a ≤|langs|-row broadcast.


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pred = text.lang_scores(docs, "text").select("lang", "lang_pred")
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    marg = pred.groupBy("lang").agg(F.count(F.lit(1)).alias("_tot"))
    return (
        cells.join(F.broadcast(marg), "lang")  # broadcast-policy-exempt: ≤|langs| rows
        .select(
            "lang",
            "lang_pred",
            "n",
            (
                F.floor(
                    F.col("n").cast("double") / F.col("_tot") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("recall_share"),
        )
        .orderBy("lang", "lang_pred")
    )


def _lang_confusion_sql() -> str:
    exprs = text.sql_lang_scores("text")
    score_cols = ",\n       ".join(
        f"{exprs[lang]} AS score_{lang}" for lang in text.LANGS
    )
    return f"""
WITH scored AS (
  SELECT lang,
       {score_cols}
  FROM documents
),
pred AS MATERIALIZED (
  SELECT lang, {exprs["lang_pred"]} AS lang_pred FROM scored
),
cells AS (
  SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2
),
marg AS (SELECT lang, COUNT(*) AS tot FROM pred GROUP BY 1)
SELECT c.lang, c.lang_pred, c.n,
       floor(CAST(c.n AS DOUBLE) / m.tot * 1e6 + 0.5) / 1e6 AS recall_share
FROM cells c JOIN marg m ON c.lang = m.lang
ORDER BY 1, 2
"""


LANG_CONFUSION_SQL = _lang_confusion_sql()


# ---------------------------------------------------------------------------
# #214 dedup threshold sweep: pair / loser / survivor counts at a
# ladder of Jaccard thresholds ≥ the pair tier's 0.8 — the tuning
# curve a curation team reads before committing to a dedup threshold
# ("how many docs does 0.9 vs 0.8 actually cost?"). Reuses the shared
# checkpointed PPJoin pair tier (its jaccard column rides along
# exactly for consumers like this), so the sweep itself is two
# conditional aggregates over the edge list + a single-row doc count —
# no new corpus scan, no new pair generation, free at any scale the
# tier itself supports.

SWEEP_THRESHOLDS = (0.8, 0.85, 0.9, 0.95)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tier = _shared_pair_tier(spark, sf_dir)
    pair_aggs = [
        F.coalesce(
            F.sum(F.when(F.col("jaccard") >= F.lit(t), 1)), F.lit(0)
        )
        .cast("long")
        .alias(f"_p{i}")
        for i, t in enumerate(SWEEP_THRESHOLDS)
    ]
    # greedy survivor policy (#53): every id_a < id_b pair drops id_b,
    # so a doc is a loser at threshold t iff its max incoming jaccard
    # as id_b reaches t — one groupBy makes all thresholds readable
    loser_max = tier.groupBy("id_b").agg(F.max("jaccard").alias("_mx"))
    loser_aggs = [
        F.coalesce(F.sum(F.when(F.col("_mx") >= F.lit(t), 1)), F.lit(0))
        .cast("long")
        .alias(f"_l{i}")
        for i, t in enumerate(SWEEP_THRESHOLDS)
    ]
    joined = (
        tier.agg(*pair_aggs)
        .crossJoin(loser_max.agg(*loser_aggs))  # single-row scalars
        .crossJoin(docs.agg(F.count(F.lit(1)).alias("_nd")))
    )
    rows = [
        F.struct(
            F.lit(float(t)).alias("threshold"),
            F.col(f"_p{i}").alias("n_pairs"),
            F.col(f"_l{i}").alias("n_losers"),
            (F.col("_nd") - F.col(f"_l{i}")).alias("n_survivors"),
        )
        for i, t in enumerate(SWEEP_THRESHOLDS)
    ]
    return (
        joined.select(F.explode(F.array(*rows)).alias("s"))
        .select("s.*")
        .orderBy("threshold")
    )


DEDUP_THRESHOLD_SWEEP_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS MATERIALIZED (
  SELECT id_a, id_b,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
        >= {JACCARD_THRESHOLD}
),
t(threshold) AS (
  VALUES {", ".join(f"(CAST({t} AS DOUBLE))" for t in SWEEP_THRESHOLDS)}
)
SELECT threshold,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM jac
        WHERE jaccard >= t.threshold) AS n_pairs,
       (SELECT CAST(COUNT(DISTINCT id_b) AS BIGINT) FROM jac
        WHERE jaccard >= t.threshold) AS n_losers,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
         - (SELECT CAST(COUNT(DISTINCT id_b) AS BIGINT) FROM jac
            WHERE jaccard >= t.threshold) AS n_survivors
FROM t
ORDER BY threshold
"""


# ---------------------------------------------------------------------------
# #218 MMR diversified re-ranking (Carbonell & Goldstein 1998): greedy
# maximal-marginal-relevance selection over the dense top-N candidate
# pool — pick argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) until K
# docs are selected. The de-duplicating re-rank stage between retrieval
# (#42/#210) and a context window. Scale shape: retrieval bounds the
# pool to MMR_POOL rows, the pairwise-sim tier is a ≤C(POOL,2)-row
# broadcast self-join (JVM dot products, the #41 idiom), and the
# greedy recursion — inherently sequential, O(K·POOL) — runs in ONE
# mapInPandas task over that bounded frame (the EWMA/Holt recursive-
# fold class: Python only where the recursion genuinely can't be a
# window). λ = 0.5 so every score is an EXACT halving of 1e-6-grid
# quantized inputs — each greedy comparison is engine-identical, which
# is what lets the unrolled K-step SQL oracle replay the selection
# decision-for-decision.

MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.5  # exact IEEE halving of quantized inputs — keep 0.5


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    cand = (
        _shared_dense_topk(spark, sf_dir)
        .filter(
            (F.col("query_id") == RRF_QUERY_VEC_ID)
            & (F.col("rank") <= MMR_POOL)
        )
        .select(
            F.col("neighbor_id").alias("doc_id"), F.col("cosine").alias("rel")
        )
    )
    pool = cand.join(
        similarity.with_norm(emb).select(
            F.col("vec_id").alias("doc_id"), "embedding", "norm"
        ),
        "doc_id",
    )
    a = pool.select(
        F.col("doc_id").alias("ida"),
        F.col("rel").alias("rel_a"),
        F.col("embedding").alias("e_a"),
        F.col("norm").alias("n_a"),
    )
    b = pool.select(
        F.col("doc_id").alias("idb"),
        F.col("rel").alias("rel_b"),
        F.col("embedding").alias("e_b"),
        F.col("norm").alias("n_b"),
    )
    # bounded C(POOL,2)-row tier; JVM cosine, same idiom as the oracle
    sims = (
        a.join(F.broadcast(b), F.col("ida") < F.col("idb"))  # broadcast-policy-exempt: ≤MMR_POOL rows
        .select(
            "ida",
            "idb",
            "rel_a",
            "rel_b",
            similarity.cosine_col("e_a", "e_b", "n_a", "n_b").alias("sim"),
        )
    )
    # rel rides as SELF-rows (ida == idb, sim null) so a degenerate
    # pool of one candidate — which produces ZERO pair rows — still
    # reaches the greedy with its relevance (the SQL oracle's s1 picks
    # the argmax from cand regardless of pair count)
    rel_rows = pool.select(
        F.col("doc_id").alias("ida"),
        F.col("doc_id").alias("idb"),
        F.col("rel").alias("rel_a"),
        F.col("rel").alias("rel_b"),
        F.lit(None).cast("double").alias("sim"),
    )

    def greedy(batches):
        rows = [pdf for pdf in batches]
        if not rows:
            return
        pdf = pd.concat(rows)
        rel: dict[int, float] = {}
        sim: dict[tuple[int, int], float] = {}
        for r in pdf.itertuples(index=False):
            a_, b_ = int(r.ida), int(r.idb)
            rel[a_] = float(r.rel_a)
            rel[b_] = float(r.rel_b)
            if a_ != b_:
                sim[(a_, b_)] = float(r.sim)
        selected: list[int] = []
        out = []
        while len(selected) < MMR_K:
            best = None
            for d, rd in rel.items():
                if d in selected:
                    continue
                mx = max(
                    (
                        sim[(min(d, s), max(d, s))]
                        for s in selected
                    ),
                    default=0.0,
                )
                score = MMR_LAMBDA * rd - (1 - MMR_LAMBDA) * mx
                # strict total order: score desc, doc_id asc
                if best is None or (score, -d) > (best[0], -best[1]):
                    best = (score, d)
            if best is None:
                break
            selected.append(best[1])
            out.append(
                (len(selected), best[1], rel[best[1]], best[0])
            )
        yield pd.DataFrame(
            out, columns=["step", "doc_id", "rel", "mmr_score"]
        )

    return (
        sims.unionByName(rel_rows)
        .repartition(1)  # bounded tier: one task holds ≤C(POOL,2)+POOL rows
        .mapInPandas(greedy, "step int, doc_id long, rel double, mmr_score double")
        .orderBy("step")
    )


def _mmr_sql() -> str:
    """Unrolled K-step oracle: each greedy pick is one CTE whose
    ORDER BY (mmr_score DESC, doc_id) LIMIT 1 replays the selection;
    max-sim-to-selected is a scalar MAX over the symmetric sims tier
    restricted to the union of earlier picks."""
    lam = MMR_LAMBDA
    # norms is referenced 4x (scored's two sides + sims' two sides) —
    # DuckDB 1.0 inlines plain CTEs, so hint it MATERIALIZED here
    # (locally: other oracles reference NORM_CTE once and stay plain)
    norm_cte = NORM_CTE.replace("norms AS (", "norms AS MATERIALIZED (", 1)
    head = f"""
WITH {norm_cte},
scored AS (
  SELECT b.vec_id AS doc_id,
         round(
           (SELECT SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) AS t(i)) / (a.nrm * b.nrm),
           6) AS rel
  FROM (SELECT embedding, nrm FROM norms WHERE vec_id = {RRF_QUERY_VEC_ID}) a
  JOIN norms b ON b.vec_id <> {RRF_QUERY_VEC_ID}
),
cand AS MATERIALIZED (
  SELECT doc_id, rel FROM (
    SELECT doc_id, rel,
           row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk
    FROM scored
  ) WHERE rnk <= {MMR_POOL}
),
sims AS MATERIALIZED (
  SELECT x.doc_id AS ida, y.doc_id AS idb,
         round(
           (SELECT SUM(CAST(ex.embedding[i] AS DOUBLE) * CAST(ey.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) AS t(i)) / (ex.nrm * ey.nrm),
           6) AS sim
  FROM cand x JOIN cand y ON x.doc_id < y.doc_id
  JOIN norms ex ON ex.vec_id = x.doc_id
  JOIN norms ey ON ey.vec_id = y.doc_id
),
s1 AS MATERIALIZED (
  SELECT CAST(1 AS INT) AS step, doc_id, rel, {lam} * rel AS mmr_score
  FROM cand ORDER BY rel DESC, doc_id LIMIT 1
),
sel1 AS MATERIALIZED (SELECT doc_id FROM s1)"""
    parts = [head]
    for k in range(2, MMR_K + 1):
        prev = k - 1
        parts.append(f""",
s{k} AS MATERIALIZED (
  SELECT CAST({k} AS INT) AS step, c.doc_id, c.rel,
         {lam} * c.rel - {1 - lam} * COALESCE((
           SELECT MAX(s.sim) FROM sims s
           WHERE (s.ida = c.doc_id AND s.idb IN (SELECT doc_id FROM sel{prev}))
              OR (s.idb = c.doc_id AND s.ida IN (SELECT doc_id FROM sel{prev}))
         ), CAST(0.0 AS DOUBLE)) AS mmr_score
  FROM cand c
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{prev})
  ORDER BY mmr_score DESC, c.doc_id LIMIT 1
),
sel{k} AS MATERIALIZED (
  SELECT doc_id FROM sel{prev} UNION ALL SELECT doc_id FROM s{k}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT step, doc_id, rel, mmr_score FROM s{k}"
        for k in range(1, MMR_K + 1)
    )
    parts.append(f"\n{union}\nORDER BY step")
    return "".join(parts)


MMR_RERANK_SQL = _mmr_sql()


# ---------------------------------------------------------------------------
# #220 sparse↔dense retrieval overlap: how much of the BM25 top-N and
# the dense top-N is the SAME documents — the diagnostic that justifies
# (or refutes) running hybrid fusion at all (near-zero overlap ⇒ the
# branches see different relevance signals ⇒ RRF adds recall; total
# overlap ⇒ one branch suffices). One bounded full-outer join of the
# two ≤N-row lists + a single-row aggregate; cost = the two branch
# retrievals, which the shared BM25 tier already amortizes.


def retrieval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sparse = _shared_bm25_tier(spark, sf_dir).select(
        F.col("doc_id").alias("s_id")
    )
    dense = (
        _shared_dense_topk(spark, sf_dir)
        .filter(
            (F.col("query_id") == RRF_QUERY_VEC_ID)
            & (F.col("rank") <= RRF_TOP_N)
        )
        .select(F.col("neighbor_id").alias("d_id"))
    )
    both = sparse.join(dense, sparse["s_id"] == dense["d_id"], "full_outer")
    return both.agg(
        F.lit(RRF_TOP_N).cast("int").alias("k"),
        F.count("s_id").alias("n_sparse"),
        F.count("d_id").alias("n_dense"),
        F.sum(
            F.when(F.col("s_id").isNotNull() & F.col("d_id").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_common"),
    ).select(
        "k",
        "n_sparse",
        "n_dense",
        "n_common",
        (F.col("n_sparse") - F.col("n_common")).alias("n_sparse_only"),
        (F.col("n_dense") - F.col("n_common")).alias("n_dense_only"),
        (
            F.floor(
                F.col("n_common").cast("double")
                / (F.col("n_sparse") + F.col("n_dense") - F.col("n_common"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("jaccard_at_k"),
    )


RETRIEVAL_OVERLAP_SQL = f"""{_RETRIEVAL_BRANCH_CTES},
olists AS (
  SELECT s.doc_id AS s_id, d.d_id
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.d_id
),
agg AS (
  SELECT CAST({RRF_TOP_N} AS INT) AS k,
         COUNT(s_id) AS n_sparse,
         COUNT(d_id) AS n_dense,
         CAST(SUM(CASE WHEN s_id IS NOT NULL AND d_id IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_common
  FROM olists
)
SELECT k, n_sparse, n_dense, n_common,
       n_sparse - n_common AS n_sparse_only,
       n_dense - n_common AS n_dense_only,
       floor(CAST(n_common AS DOUBLE)
             / (n_sparse + n_dense - n_common) * 1e6 + 0.5) / 1e6
         AS jaccard_at_k
FROM agg
"""


# ---------------------------------------------------------------------------
# #221 ANN recall calibration: recall@K of the LSH (#43) and IVF-Flat
# (#43b) scale paths against the brute-force baseline (#42), per query
# and family — promotes the pytest-only recall floors to a
# driver-value-checked query, the number an ANN rollout is actually
# judged on ("how much recall does the candidate pruning cost?").
# All three retrievals are the existing bounded-query operators; the
# comparison is a (query, neighbor) equi-join of ≤Q·K-row lists. The
# oracle nests the three published per-family SQL bodies as derived
# tables (DuckDB supports WITH inside a subquery), so it can never
# drift from the per-family oracles.


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # baseline side from the shared dense tier (exact rank prefix);
    # the IVF/LSH branches come from their own shared tiers (r9) —
    # identical frames to the standalone #43/#43b queries
    bf = (
        _shared_dense_topk(spark, sf_dir)
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id")
    )
    fams = {
        "ivf": _shared_ivf_topk(spark, sf_dir),
        "lsh": _shared_lsh_topk(spark, sf_dir),
    }
    qids = bf.select("query_id").distinct()
    out = None
    for fam, approx in fams.items():
        hits = (
            bf.join(
                approx.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            )
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        # a query whose buckets missed every true neighbor has NO hit
        # row — it must surface as recall 0, not vanish
        fam_rows = qids.join(hits, "query_id", "left").select(
            F.lit(fam).alias("family"),
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.floor(
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                    / KNN_K
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("recall_at_k"),
        )
        out = fam_rows if out is None else out.unionByName(fam_rows)
    return out.orderBy("family", "query_id")


ANN_RECALL_SQL = f"""
WITH bf AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM ({KNN_BRUTEFORCE_SQL}) bf_sub
),
ivf_t AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM ({KNN_IVF_SQL}) ivf_sub
),
lsh_t AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM ({KNN_LSH_SQL}) lsh_sub
),
qids AS (SELECT DISTINCT query_id FROM bf),
fams AS (
  SELECT 'ivf' AS family, query_id, neighbor_id FROM ivf_t
  UNION ALL
  SELECT 'lsh' AS family, query_id, neighbor_id FROM lsh_t
),
hits AS (
  SELECT f.family, f.query_id, COUNT(*) AS n_hits
  FROM fams f JOIN bf USING (query_id, neighbor_id)
  GROUP BY 1, 2
)
SELECT fam.family, q.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       floor(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {KNN_K} * 1e6 + 0.5)
         / 1e6 AS recall_at_k
FROM (SELECT 'ivf' AS family UNION ALL SELECT 'lsh') fam
CROSS JOIN qids q
LEFT JOIN hits h ON h.family = fam.family AND h.query_id = q.query_id
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# #222 rank-biased overlap of the sparse vs dense rankings (Webber,
# Moffat & Zobel TOIS 2010, truncated lower bound): the rank-AWARE
# companion to #220's set-level jaccard_at_k — two lists can share all
# 20 members yet order them oppositely, and RBO is what quantifies
# that. Both inputs are the existing bounded shared tiers (20-row BM25
# top-N + the dense tier's query slice), so the whole query is
# constant-sized at any corpus scale: the matched join is <= N rows and
# the depth explode <= N^2 rows. RBO_min = sum over matched docs of
# (1-p)·sum_{d=max(r_s,r_d)}^{N} p^(d-1)/d — each matched doc starts
# contributing at the first depth where it is in BOTH prefixes.

RBO_P = 0.9  # the conventional persistence from the RBO paper (§5.2)


def rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sparse = _shared_bm25_tier(spark, sf_dir)
    sw = Window.orderBy(F.desc("bm25"), "doc_id")  # 20-row frame
    s = sparse.select("doc_id", F.row_number().over(sw).alias("s_rank"))
    d = (
        _shared_dense_topk(spark, sf_dir)
        .filter(
            (F.col("query_id") == RRF_QUERY_VEC_ID)
            & (F.col("rank") <= RRF_TOP_N)
        )
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("d_rank"))
    )
    matched = s.join(d, "doc_id").select(
        "doc_id", F.greatest("s_rank", "d_rank").alias("m")
    )
    terms = matched.withColumn(
        "d", F.explode(F.sequence(F.col("m"), F.lit(RRF_TOP_N)))
    )
    return terms.agg(
        F.lit(RRF_TOP_N).cast("int").alias("k"),
        F.lit(RBO_P).alias("p"),
        F.count_distinct("doc_id").alias("n_matched"),
        (
            F.floor(
                F.coalesce(
                    F.sum(
                        F.lit(1.0 - RBO_P)
                        * F.pow(F.lit(RBO_P), F.col("d") - 1)
                        / F.col("d")
                    ),
                    F.lit(0.0),
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("rbo"),
    )


RBO_OVERLAP_SQL = f"""{_RETRIEVAL_BRANCH_CTES},
matched AS (
  SELECT s.doc_id, greatest(s.sparse_rank, d.dense_rank) AS m
  FROM sparse s JOIN dense d ON s.doc_id = d.d_id
),
terms AS (
  SELECT doc_id, i AS d
  FROM matched, unnest(generate_series(m, {RRF_TOP_N})) t(i)
)
SELECT CAST({RRF_TOP_N} AS INT) AS k,
       CAST({RBO_P} AS DOUBLE) AS p,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_matched,
       floor(COALESCE(SUM((1.0 - {RBO_P}) * power({RBO_P}, d - 1) / d), 0.0)
             * 1e6 + 0.5) / 1e6 AS rbo
FROM terms
"""


# ---------------------------------------------------------------------------
# #223 embedding dimension health screen: per-coordinate mean/variance
# /range over the whole corpus — the standard "dead or dominant
# dimensions" audit run before trusting cosine distances (a dimension
# with variance ~0 wastes index width; one with outsized variance
# dominates every dot product). Components quantize to integer micros
# FIRST (floor(x·1e6 + 0.5), engine-identical), so every moment is an
# exact integer in both engines — no dsum drift by construction. One
# map-side posexplode + one 64-group hash aggregate; output is
# EMB_DIM rows at any corpus scale.


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(F.posexplode("embedding").alias("_i", "_x")).select(
        (F.col("_i") + 1).alias("dim"),
        F.floor(F.col("_x").cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("micros"),
    )
    per_dim = comp.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("micros").cast("decimal(38,0)")).alias("_s1"),
        # micros^2 <= ~1e13 fits a long per row; route the SUM through
        # decimal(38,0) so the moment can't overflow at any corpus size
        F.sum(
            (F.col("micros") * F.col("micros")).cast("decimal(38,0)")
        ).alias("_s2"),
        F.min("micros").alias("_mn"),
        F.max("micros").alias("_mx"),
    )
    n = F.col("n_vecs").cast("double")
    m1 = F.col("_s1").cast("double") / n / 1e6
    m2 = F.col("_s2").cast("double") / n / 1e12
    return per_dim.select(
        "dim",
        "n_vecs",
        (F.floor(m1 * 1e6 + F.lit(0.5)) / 1e6).alias("mean_val"),
        (F.floor((m2 - m1 * m1) * 1e6 + F.lit(0.5)) / 1e6).alias("var_val"),
        (F.col("_mn").cast("double") / 1e6).alias("min_val"),
        (F.col("_mx").cast("double") / 1e6).alias("max_val"),
    ).orderBy("dim")


EMBEDDING_DIM_STATS_SQL = f"""
WITH comp AS MATERIALIZED (
  SELECT i AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           AS micros
  FROM embeddings, unnest(generate_series(1, {EMB_DIM})) t(i)
),
per_dim AS (
  -- COUNT(micros), not COUNT(*): the generate_series cross join emits a
  -- row even where embedding[i] is NULL (short/NULL arrays), while the
  -- Spark posexplode only emits real components — counting non-null
  -- keeps n_vecs and the /n_vecs divisors engine-identical on ragged
  -- input by construction (advice r9).
  SELECT dim, COUNT(micros) AS n_vecs,
         SUM(micros) AS s1, SUM(micros * micros) AS s2,
         MIN(micros) AS mn, MAX(micros) AS mx
  FROM comp GROUP BY 1
)
SELECT dim, n_vecs,
       floor(CAST(s1 AS DOUBLE) / n_vecs / 1e6 * 1e6 + 0.5) / 1e6 AS mean_val,
       floor((CAST(s2 AS DOUBLE) / n_vecs / 1e12
              - (CAST(s1 AS DOUBLE) / n_vecs / 1e6)
                * (CAST(s1 AS DOUBLE) / n_vecs / 1e6)) * 1e6 + 0.5) / 1e6
         AS var_val,
       CAST(mn AS DOUBLE) / 1e6 AS min_val,
       CAST(mx AS DOUBLE) / 1e6 AS max_val
FROM per_dim
ORDER BY dim
"""


# ---------------------------------------------------------------------------
# #224 IVF list-balance diagnostic: the per-list population of the #43b
# coarse quantizer plus each list's share of the corpus — the number an
# ANN operator watches in production, because list skew IS tail
# latency (a probe that lands on a 10x-overfull list scores 10x the
# vectors). Assignment is the same map-only inlined-centroid argmax as
# knn_ivf (zero shuffle until the 16-group count); the oracle reuses
# the exact _IVF_ASSIGN_CTES chain so it can never drift from #43b.


def ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _ivf_scores_expr, ivf_centroids

    emb = load(spark, sf_dir, "embeddings")
    vecs, norms = ivf_centroids(emb, IVF_NLIST)
    scores = _ivf_scores_expr("embedding", vecs, norms)
    assigned = emb.select(
        F.expr(
            f"CAST(array_position(({scores}), array_max({scores})) AS INT)"
        ).alias("list_id")
    )
    per_list = assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    tot = per_list.agg(F.sum("n_vecs").alias("_t"))  # single row
    return (
        per_list.crossJoin(F.broadcast(tot))  # broadcast-policy-exempt: 1-row aggregate
        .select(
            "list_id",
            "n_vecs",
            (
                F.floor(
                    F.col("n_vecs").cast("double") / F.col("_t") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("share"),
            (
                F.floor(
                    F.col("n_vecs").cast("double")
                    / (F.col("_t").cast("double") / IVF_NLIST)
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("load_factor"),
        )
        .orderBy("list_id")
    )


IVF_BALANCE_SQL = f"""
WITH {_IVF_ASSIGN_CTES},
per_list AS (
  SELECT list_id, COUNT(*) AS n_vecs FROM assigned GROUP BY 1
),
tot AS (SELECT SUM(n_vecs) AS t FROM per_list)
SELECT list_id, CAST(n_vecs AS BIGINT) AS n_vecs,
       floor(CAST(n_vecs AS DOUBLE) / t * 1e6 + 0.5) / 1e6 AS share,
       floor(CAST(n_vecs AS DOUBLE) / (CAST(t AS DOUBLE) / {IVF_NLIST})
             * 1e6 + 0.5) / 1e6 AS load_factor
FROM per_list, tot
ORDER BY list_id
"""


# ---------------------------------------------------------------------------
# #225 pairwise Jensen-Shannon divergence between source token
# distributions — the SYMMETRIC, bounded ([0, ln 2]) companion to #97's
# per-source-vs-corpus KL: the matrix a mixture designer reads to see
# WHICH feeds duplicate each other's coverage. Token probabilities are
# exact count ratios; tokens absent from one side contribute exactly
# p·ln2 (the mixture m = p/2 there), so the whole sum decomposes into
# an INNER join over shared tokens plus closed-form remainders —
# no outer join over the vocabulary. Shuffles: one per-(source, token)
# count, one token-keyed self-join, one pair-group aggregate.

LN2 = 0.6931471805599453  # double(ln 2), inlined in BOTH engines


def js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(text.words(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    probs = counts.join(totals, "source").select(
        "source",
        "token",
        (F.col("c").cast("double") / F.col("tot")).alias("p"),
    )
    a = probs.select(
        F.col("source").alias("source_a"), "token", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("source").alias("source_b"), "token", F.col("p").alias("pb")
    )
    shared = a.join(b, "token").filter(F.col("source_a") < F.col("source_b"))
    agg = shared.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_tokens"),
        F.sum(
            F.col("pa")
            * F.log(F.lit(2.0) * F.col("pa") / (F.col("pa") + F.col("pb")))
        ).alias("_ja"),
        F.sum(
            F.col("pb")
            * F.log(F.lit(2.0) * F.col("pb") / (F.col("pa") + F.col("pb")))
        ).alias("_jb"),
        F.sum("pa").alias("_sa"),
        F.sum("pb").alias("_sb"),
    )
    # Every unordered source pair must appear: a pair sharing ZERO
    # tokens is the maximally-drifted case (JS = ln 2 exactly) and the
    # inner join above would silently drop it (advice r9; the
    # streaming twin token_js_batch already emits ln 2 via left join).
    # The pair frame is the distinct-source dim squared — tiny.
    src = totals.select("source")
    pairs = src.select(F.col("source").alias("source_a")).join(
        F.broadcast(  # broadcast-policy-exempt: distinct-source dim
            src.select(F.col("source").alias("source_b"))
        ),
        F.col("source_a") < F.col("source_b"),
    )
    js = F.lit(0.5) * (F.col("_ja") + (F.lit(1.0) - F.col("_sa")) * LN2) + F.lit(
        0.5
    ) * (F.col("_jb") + (F.lit(1.0) - F.col("_sb")) * LN2)
    return (
        pairs.join(agg, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("n_shared_tokens"), F.lit(0).cast("long")).alias(
                "n_shared_tokens"
            ),
            F.coalesce(
                F.floor(js * 1e6 + F.lit(0.5)) / 1e6,
                F.lit(0.693147),  # floor(ln 2 * 1e6 + 0.5) / 1e6
            ).alias("js_nats"),
        )
        .orderBy("source_a", "source_b")
    )


JS_DIVERGENCE_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT source, t.token
  FROM (SELECT source, string_split({NORM_SQL}, ' ') AS w FROM documents),
       unnest(w) AS t(token)
  WHERE t.token <> ''
),
counts AS MATERIALIZED (
  SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2
),
totals AS (SELECT source, SUM(c) AS tot FROM counts GROUP BY 1),
probs AS MATERIALIZED (
  SELECT c.source, c.token, CAST(c.c AS DOUBLE) / t.tot AS p
  FROM counts c JOIN totals t ON c.source = t.source
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, a.p AS pa, b.p AS pb
  FROM probs a JOIN probs b ON a.token = b.token AND a.source < b.source
),
agg AS (
  SELECT source_a, source_b, COUNT(*) AS n_shared_tokens,
         floor((0.5 * (SUM(pa * ln(2.0 * pa / (pa + pb)))
                       + (1.0 - SUM(pa)) * {LN2!r})
                + 0.5 * (SUM(pb * ln(2.0 * pb / (pa + pb)))
                         + (1.0 - SUM(pb)) * {LN2!r})) * 1e6 + 0.5) / 1e6
           AS js_nats
  FROM shared
  GROUP BY 1, 2
),
-- every unordered source pair: zero-shared-token pairs are JS = ln 2,
-- not absent (matches the Spark side's left join over the pair dim)
sources AS (SELECT DISTINCT source FROM totals)
SELECT p.source_a, p.source_b,
       CAST(COALESCE(g.n_shared_tokens, 0) AS BIGINT) AS n_shared_tokens,
       COALESCE(g.js_nats, 0.693147) AS js_nats
FROM (SELECT a.source AS source_a, b.source AS source_b
      FROM sources a JOIN sources b ON a.source < b.source) p
LEFT JOIN agg g ON p.source_a = g.source_a AND p.source_b = g.source_b
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# #226 per-document token-entropy census: Shannon entropy of each doc's
# token distribution, normalized by ln(vocab) — the distribution-aware
# refinement of #170's type-token ratio (TTR can't tell "one token
# repeated" from "head-heavy Zipf"; entropy can). Deterministic to the
# last bit where it matters: H = ln(n) − Σc·ln(c)/n over EXACT integer
# counts, quantized to micros per doc before banding and averaging, so
# band membership and the band means are engine-identical by
# construction. Two keyed aggregates ((doc, token) then doc) + one
# 3-group rollup; map-side combine does the heavy lifting at scale.

ENTROPY_BANDS = (500_000, 800_000)  # micros of normalized entropy


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(text.words(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    tc = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
        .alias("_sclnc"),
    )
    h = F.log(F.col("n").cast("double")) - F.col("_sclnc") / F.col("n")
    hn = F.when(F.col("v") <= 1, F.lit(0.0)).otherwise(
        h / F.log(F.col("v").cast("double"))
    )
    quant = per_doc.select(
        F.floor(h * 1e6 + F.lit(0.5)).cast("long").alias("h_micros"),
        F.floor(hn * 1e6 + F.lit(0.5)).cast("long").alias("hn_micros"),
    ).select(
        "h_micros",
        "hn_micros",
        F.when(F.col("hn_micros") < ENTROPY_BANDS[0], F.lit("repetitive"))
        .when(F.col("hn_micros") < ENTROPY_BANDS[1], F.lit("mixed"))
        .otherwise(F.lit("diverse"))
        .alias("band"),
    )
    return (
        quant.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("h_micros").alias("_sh"),
            F.sum("hn_micros").alias("_shn"),
        )
        .select(
            "band",
            "n_docs",
            (
                F.floor(
                    F.col("_sh").cast("double") / F.col("n_docs") + F.lit(0.5)
                )
                / 1e6
            ).alias("mean_entropy_nats"),
            (
                F.floor(
                    F.col("_shn").cast("double") / F.col("n_docs") + F.lit(0.5)
                )
                / 1e6
            ).alias("mean_norm_entropy"),
        )
        .orderBy("band")
    )


TOKEN_ENTROPY_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, t.token
  FROM (SELECT doc_id, string_split({NORM_SQL}, ' ') AS w FROM documents),
       unnest(w) AS t(token)
  WHERE t.token <> ''
),
tc AS (SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS v,
         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sclnc
  FROM tc GROUP BY 1
),
quant AS (
  SELECT CAST(floor((ln(CAST(n AS DOUBLE)) - sclnc / n) * 1e6 + 0.5)
              AS BIGINT) AS h_micros,
         CAST(floor(CASE WHEN v <= 1 THEN 0.0
                    ELSE (ln(CAST(n AS DOUBLE)) - sclnc / n)
                         / ln(CAST(v AS DOUBLE)) END * 1e6 + 0.5)
              AS BIGINT) AS hn_micros
  FROM per_doc
),
banded AS (
  SELECT h_micros, hn_micros,
         CASE WHEN hn_micros < {ENTROPY_BANDS[0]} THEN 'repetitive'
              WHEN hn_micros < {ENTROPY_BANDS[1]} THEN 'mixed'
              ELSE 'diverse' END AS band
  FROM quant
)
SELECT band, COUNT(*) AS n_docs,
       floor(CAST(SUM(h_micros) AS DOUBLE) / COUNT(*) + 0.5) / 1e6
         AS mean_entropy_nats,
       floor(CAST(SUM(hn_micros) AS DOUBLE) / COUNT(*) + 0.5) / 1e6
         AS mean_norm_entropy
FROM banded
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #227 per-source log-length distribution fit: MLE lognormal parameters
# (mu, sigma of ln n_chars) plus the skewness of the log — the check
# behind "doc lengths are lognormal, so plan token budgets from mu/
# sigma, and a skewed log means a mixture". Per-row ln quantizes to
# micros, then ALL THREE moments ride exact integer sums (the cube
# through decimal(38,0)/HUGEINT — the 'genuinely wide moment' class of
# SURVEY §8), so engines agree bit-for-bit before the final closed
# forms. One scan, one |sources|-group aggregate.


def length_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    q = docs.select(
        "source",
        F.floor(F.log(F.col("n_chars").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("l"),
    )
    m = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("l").cast("decimal(38,0)")).alias("_s1"),
        F.sum((F.col("l") * F.col("l")).cast("decimal(38,0)")).alias("_s2"),
        F.sum(
            (F.col("l") * F.col("l")).cast("decimal(38,0)") * F.col("l")
        ).alias("_s3"),
    )
    n = F.col("n_docs").cast("double")
    mu = F.col("_s1").cast("double") / n / 1e6
    m2 = F.col("_s2").cast("double") / n / 1e12
    m3 = F.col("_s3").cast("double") / n / 1e18
    var = m2 - mu * mu
    # a degenerate source (all docs one length) has var = 0; define its
    # skew as 0 instead of dividing by zero (engine-identical guard)
    skew = F.when(var <= 0, F.lit(0.0)).otherwise(
        (m3 - 3 * mu * m2 + 2 * mu * mu * mu) / F.pow(var, F.lit(1.5))
    )
    return m.select(
        "source",
        "n_docs",
        (F.floor(mu * 1e6 + F.lit(0.5)) / 1e6).alias("mu_ln"),
        (F.floor(F.sqrt(var) * 1e6 + F.lit(0.5)) / 1e6).alias("sigma_ln"),
        (F.floor(skew * 1e6 + F.lit(0.5)) / 1e6).alias("skew_ln"),
        (F.floor(F.exp(mu) * 1e2 + F.lit(0.5)) / 1e2).alias("median_chars_est"),
    ).orderBy("source")


LENGTH_FIT_SQL = """
WITH q AS MATERIALIZED (
  SELECT source,
         CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS l
  FROM documents WHERE n_chars > 0
),
m AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(l) AS s1,
         SUM(l * l) AS s2,
         SUM(CAST(l * l AS HUGEINT) * l) AS s3
  FROM q GROUP BY 1
)
SELECT source, n_docs,
       floor(CAST(s1 AS DOUBLE) / n_docs / 1e6 * 1e6 + 0.5) / 1e6 AS mu_ln,
       floor(sqrt(CAST(s2 AS DOUBLE) / n_docs / 1e12
                  - (CAST(s1 AS DOUBLE) / n_docs / 1e6)
                    * (CAST(s1 AS DOUBLE) / n_docs / 1e6)) * 1e6 + 0.5) / 1e6
         AS sigma_ln,
       floor(CASE WHEN CAST(s2 AS DOUBLE) / n_docs / 1e12
                       - (CAST(s1 AS DOUBLE) / n_docs / 1e6)
                         * (CAST(s1 AS DOUBLE) / n_docs / 1e6) <= 0
                  THEN 0.0
                  ELSE (CAST(s3 AS DOUBLE) / n_docs / 1e18
              - 3 * (CAST(s1 AS DOUBLE) / n_docs / 1e6)
                  * (CAST(s2 AS DOUBLE) / n_docs / 1e12)
              + 2 * (CAST(s1 AS DOUBLE) / n_docs / 1e6)
                  * (CAST(s1 AS DOUBLE) / n_docs / 1e6)
                  * (CAST(s1 AS DOUBLE) / n_docs / 1e6))
             / power(CAST(s2 AS DOUBLE) / n_docs / 1e12
                     - (CAST(s1 AS DOUBLE) / n_docs / 1e6)
                       * (CAST(s1 AS DOUBLE) / n_docs / 1e6), 1.5)
             END * 1e6 + 0.5) / 1e6 AS skew_ln,
       floor(exp(CAST(s1 AS DOUBLE) / n_docs / 1e6) * 1e2 + 0.5) / 1e2
         AS median_chars_est
FROM m
ORDER BY source
"""


# ---------------------------------------------------------------------------
# #232 semantic decontamination: benchmark leakage in EMBEDDING space —
# the paraphrase-shaped contamination the shingle-based passes (#72
# exact, #113 near-dup) structurally miss, caught the way SemDeDup
# (Abbas et al. 2023) catches semantic duplicates: map-only assignment
# of every vector to the shared IVF coarse quantizer, then cosine ≥ τ
# between corpus and benchmark vectors WITHIN a list. The benchmark
# side (vec_id % SEMDECON_MOD == 0 plays the held-out eval suite, #72's
# convention) is bounded by construction — a benchmark is a fixed test
# suite, not corpus-proportional — so it broadcasts and the whole scan
# is one map-side join: zero shuffle of the corpus at any scale. The
# oracle replays the exact _IVF_ASSIGN_CTES chain (#43b's discipline),
# so assignment can never drift from the IVF family.

SEMDECON_MOD = 97  # same held-out stand-in as curation.DECON_MOD
SEMDECON_TAU = 0.4  # same leak threshold as SEMDEDUP_TAU


def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    vecs, cnorms = similarity.ivf_centroids(emb, IVF_NLIST)
    assigned = similarity.assign_to_centroids(
        emb.select("vec_id", "embedding"), vecs, cnorms, keep_norm=True
    )
    # ragged-array guard (advice r10): a shorter-than-EMB_DIM embedding
    # yields a NULL zip_with dot here but a PARTIAL generate_series sum
    # in the oracle — filter both engines to full-dim rows before the
    # join so short arrays cannot diverge (no-op on the fixed-dim data)
    full_dim = F.size("embedding") == EMB_DIM
    bench = assigned.filter(
        (F.col("vec_id") % SEMDECON_MOD == 0) & full_dim
    ).select(
        F.col("vec_id").alias("bench_id"),
        "list_id",
        F.col("embedding").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    )
    corp = assigned.filter(
        (F.col("vec_id") % SEMDECON_MOD != 0) & full_dim
    ).select(
        "vec_id",
        "list_id",
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    pairs = corp.join(
        # broadcast-policy-exempt: benchmark sets are bounded by
        # construction (a fixed eval suite), not corpus-proportional
        F.broadcast(bench),
        "list_id",
    ).withColumn(
        "cosine",
        similarity.cosine_col("c_emb", "b_emb", "c_norm", "b_norm"),
    )
    return (
        pairs.filter(F.col("cosine") >= SEMDECON_TAU)
        .select("vec_id", "bench_id", "list_id", "cosine")
        .orderBy("vec_id", "bench_id")
    )


DECONTAMINATE_SEMANTIC_SQL = f"""
WITH {_IVF_ASSIGN_CTES},
bench AS (
  SELECT a.vec_id AS bench_id, a.list_id, n.embedding, n.nrm
  FROM assigned a JOIN norms n ON n.vec_id = a.vec_id
  WHERE a.vec_id % {SEMDECON_MOD} = 0 AND len(n.embedding) = {EMB_DIM}
),
corp AS (
  SELECT a.vec_id, a.list_id, n.embedding, n.nrm
  FROM assigned a JOIN norms n ON n.vec_id = a.vec_id
  WHERE a.vec_id % {SEMDECON_MOD} <> 0 AND len(n.embedding) = {EMB_DIM}
)
SELECT vec_id, bench_id, list_id, cosine FROM (
  SELECT c.vec_id, b.bench_id, c.list_id,
         round(
           (SELECT SUM(CAST(c.embedding[i] AS DOUBLE)
                       * CAST(b.embedding[i] AS DOUBLE))
            FROM unnest(generate_series(1, {EMB_DIM})) AS t(i))
           / (c.nrm * b.nrm), 6) AS cosine
  FROM corp c JOIN bench b USING (list_id)
)
WHERE cosine >= {SEMDECON_TAU}
ORDER BY vec_id, bench_id
"""


# ---------------------------------------------------------------------------
# #233 BPE merge-pair induction — the tokenizer-TRAINING step behind
# the fertility audit (#212) and vocab induction (#77): Sennrich et
# al. 2016's algorithm, run for a fixed number of rounds. The corpus
# collapses to its word-frequency tier ONCE (one distributed token
# count — the only corpus-scale stage), capped at the BPE_VOCAB most
# frequent words (count DESC, word ASC — engine-identical), each word
# spelled as a TWO-space-separated symbol string wrapped in single
# spaces. Per round: count adjacent symbol pairs weighted by word
# frequency (a tiny distributed aggregate over the ≤BPE_VOCAB-row
# tier), take the arg-max pair (count DESC, left ASC, right ASC — ONE
# collected row per round, the bounded convergence-scalar class the
# graph loops use), and apply the merge with ONE literal replace of
# " l  r " by " lr ": the pattern consumes only one space of each
# shared two-space separator, so the next occurrence's anchor
# survives and a single left-to-right non-overlapping replace IS
# exactly the canonical greedy merge (a naive single-space pattern
# mis-groups same-symbol runs ≥ 5 — property-tested exhaustively in
# tests/test_round10.py). The oracle unrolls the exact rounds as a
# CTE chain (LPA/k-core's discipline). Rounds on a capped tier are
# O(rounds · vocab) regardless of corpus size: 100 TB-safe.

BPE_VOCAB = 200
BPE_ROUNDS = 6


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_bpe_merges(spark, sf_dir)


def _bpe_merges_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(text.words(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(BPE_VOCAB)
        .select(
            F.concat(
                F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1  ")
            ).alias("syms"),
            "cnt",
        )
        .localCheckpoint(eager=True)  # ≤ BPE_VOCAB rows by construction
    )
    # The merge rounds run DRIVER-SIDE over the collected vocab: the
    # tier is ≤ BPE_VOCAB (200) rows by construction at ANY corpus
    # size (top-K of the distributed word count), so the collect is in
    # the package's bounded class, and the former per-round Spark jobs
    # (2 jobs + a lineage checkpoint × BPE_ROUNDS over ≤200 rows) were
    # pure fixed overhead — ~3.5 s of the shared-tier build per bench
    # pass for microseconds of actual work. Every Python step mirrors
    # the retired Spark expression op-for-op (adjacent-pair zip over
    # the trimmed/split/filtered symbol array ≡ the slice/transform
    # expr; argmax by (-count, ls, rs) ≡ ORDER BY pair_count DESC, ls,
    # rs LIMIT 1; str.replace ≡ F.replace — both leftmost
    # non-overlapping, and Python/UTF8String orderings agree because
    # UTF-8 byte order preserves code-point order), so the merge table
    # is bit-identical; the SQL oracle derivation is untouched.
    out_rows: list[tuple] = []
    cur = [(r.syms, int(r.cnt)) for r in vocab.collect()]  # bounded ≤ BPE_VOCAB
    for rnd in range(1, BPE_ROUNDS + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in cur:
            arr = [x for x in syms.strip().split(" ") if x != ""]
            for pair in zip(arr, arr[1:]):
                counts[pair] = counts.get(pair, 0) + cnt
        if not counts:
            break
        (ls, rs), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out_rows.append((rnd, ls, rs, ls + rs, c))
        # anchored single-pass greedy merge (see the design note above)
        cur = [
            (syms.replace(f" {ls}  {rs} ", f" {ls}{rs} "), cnt)
            for syms, cnt in cur
        ]
    return spark.createDataFrame(
        out_rows,
        "merge_round int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    ).orderBy("merge_round")


def _bpe_cte_parts(rounds: int = BPE_ROUNDS) -> list[str]:
    """The merge-derivation CTE chain (vocab tier + per-round pair
    count / argmax / anchored replace), shared by the #233 merges
    oracle and the #233b encode oracle so the two can never drift."""
    parts = [
        f"""toks AS (
  SELECT tok, COUNT(*) AS cnt FROM (
    SELECT unnest(string_split({NORM_SQL}, ' ')) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY tok
),
vocab1 AS MATERIALIZED (
  SELECT ' ' || regexp_replace(tok, '(.)', '\\1  ', 'g') AS syms, cnt
  FROM toks ORDER BY cnt DESC, tok LIMIT {BPE_VOCAB}
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""pairs{r} AS (
  SELECT v.s[i] AS ls, v.s[i + 1] AS rs, v.cnt
  FROM (SELECT list_filter(string_split(trim(syms), ' '),
                           x -> x <> '') AS s, cnt
        FROM vocab{r}) v,
       unnest(generate_series(1, len(v.s) - 1)) t(i)
),
best{r} AS (
  SELECT ls, rs, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM pairs{r} GROUP BY 1, 2
  ORDER BY pair_count DESC, ls, rs LIMIT 1
),
vocab{r + 1} AS MATERIALIZED (
  SELECT replace(v.syms,
                 ' ' || b.ls || '  ' || b.rs || ' ',
                 ' ' || b.ls || b.rs || ' ') AS syms, v.cnt
  FROM vocab{r} v CROSS JOIN best{r} b
)"""
        )
    return parts


def _bpe_merges_sql(rounds: int = BPE_ROUNDS) -> str:
    """Unrolled-round oracle (LPA/k-core's discipline): each round's
    pair count, arg-max merge and anchored single-pass replace as
    explicit CTEs — a pure function of the documents table that
    replays the Spark loop's exact tie-breaks."""
    parts = _bpe_cte_parts(rounds)
    selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_round, ls AS left_sym, rs AS right_sym, "
        f"ls || rs AS merged, pair_count FROM best{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT * FROM (\n{selects}\n) ORDER BY merge_round"
    )


BPE_MERGES_SQL = _bpe_merges_sql()


# ---------------------------------------------------------------------------
# #233b BPE apply/encode — closes the tokenizer train→apply→audit loop
# (VERDICT r10 ask #3): the corpus is re-tokenized under the TRAINED
# #233 merge table and fertility (tokens per word) is re-audited per
# language, replacing #212's regex-proxy token count with the real
# learned tokenizer. Applying a fixed merge table in TRAINING ORDER,
# one greedy left-to-right pass per merge, is exactly the canonical
# priority-based BPE encoder (Sennrich et al. 2016): a merge's pair is
# made of symbols that existed when it was learned, and merging only
# ever REMOVES adjacencies of older symbols, so an earlier pair can
# never re-appear after a later merge fires — property-tested against
# an independent priority-queue encoder in tests/test_round11.py (the
# r10 rule: the plan and oracle share the anchored-replace trick, so
# parity alone can't see a shared flaw).
#
# Scale shape: the corpus collapses ONCE to its distinct (lang, word)
# tier (the same vocabulary-bounded aggregate the fertility audit
# #212 rides); the ≤BPE_ROUNDS merge table is collected (bounded by
# construction) and inlined as a literal replace chain, so encoding is
# MAP-SIDE over the word tier — zero extra shuffle at any corpus size.


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = sorted(
        _shared_bpe_merges(spark, sf_dir).collect(),
        key=lambda r: r.merge_round,
    )  # ≤ BPE_ROUNDS rows — the same bounded class as the train loop
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(
            "lang", F.explode(text.words(F.col("text"))).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # spell each distinct word exactly as the trainer does, then apply
    # the learned merges in order — one anchored single-pass replace
    # per merge (see the #233 design note for the greedy equivalence)
    enc = F.concat(F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1  "))
    for m in merges:
        enc = F.replace(
            enc,
            F.lit(f" {m.left_sym}  {m.right_sym} "),
            F.lit(f" {m.left_sym}{m.right_sym} "),
        )
    toks = (
        words.select("lang", "cnt", enc.alias("enc"))
        .select(
            "lang",
            "cnt",
            F.expr(
                "CAST(size(filter(split(trim(enc), ' '), x -> x != '')) AS LONG)"
            ).alias("ntok"),
        )
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("ntok")).alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            (
                F.floor(
                    F.col("n_tokens").cast("double")
                    * 1000000
                    / F.col("n_words")
                    + 0.5
                )
                / F.lit(1e6)
            ).alias("bpe_fertility"),
        )
        .orderBy("lang")
    )


def _bpe_encode_sql(rounds: int = BPE_ROUNDS) -> str:
    """Encode oracle: the shared merge-derivation CTE chain, then the
    distinct (lang, word) tier pushed through the same anchored
    replace per round. LEFT JOIN (not CROSS JOIN) against each
    best{r}: on a corpus that runs dry before ``rounds`` merges, an
    empty best would otherwise wipe the tier while the Spark loop
    simply stops applying merges."""
    parts = _bpe_cte_parts(rounds)
    parts.append(
        f"""wrd AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT lang, unnest(string_split({NORM_SQL}, ' ')) AS tok
    FROM documents
  ) WHERE tok <> '' GROUP BY 1, 2
),
enc0 AS (
  SELECT lang, cnt, ' ' || regexp_replace(tok, '(.)', '\\1  ', 'g') AS syms
  FROM wrd
)"""
    )
    for r in range(1, rounds + 1):
        parts.append(
            f"""enc{r} AS (
  SELECT e.lang, e.cnt,
         COALESCE(replace(e.syms,
                          ' ' || b.ls || '  ' || b.rs || ' ',
                          ' ' || b.ls || b.rs || ' '), e.syms) AS syms
  FROM enc{r - 1} e LEFT JOIN best{r} b ON TRUE
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT lang,
       CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(SUM(cnt * ntok) AS BIGINT) AS n_tokens,
       floor(CAST(SUM(cnt * ntok) AS DOUBLE) * 1000000 / SUM(cnt) + 0.5)
         / 1e6 AS bpe_fertility
FROM (
  SELECT lang, cnt,
         CAST(len(list_filter(string_split(trim(syms), ' '),
                              x -> x <> '')) AS BIGINT) AS ntok
  FROM enc{rounds}
)
GROUP BY lang
ORDER BY lang
"""
    )


BPE_ENCODE_SQL = _bpe_encode_sql()


# ---------------------------------------------------------------------------
# #234 inference-reranked retrieval: the standard two-stage serving
# stack — cheap first-stage retrieval (the #210 RRF fusion of BM25 +
# dense) feeding an expensive cross-encoder re-rank (Nogueira & Cho
# 2019), with #85's Arrow-batched scorer playing the cross-encoder
# (deterministic md5 fake — the SQL oracle replays it bit-for-bit, so
# the mapInPandas plumbing is value-verified). The model only ever
# sees the fused ≤RRF_TOP_N-row pool — join-pruned BEFORE inference,
# so the re-rank stage costs O(top-N), not O(corpus), at any scale.


def rerank_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumes the fused #210 list, itself served from the shared
    BM25 / dense retrieval memos — a TRANSITIVE tier consumption,
    declared with ``tiers=`` at its registration (plans/tiers.py) so
    bench's warm-memo accounting sees it, and checked at run time by
    tests/test_tiers.py. The two unpartitioned rank
    windows run over the same ≤RRF_TOP_N-row frame (hybrid_rrf's
    bounded-frame proof)."""
    from pyspark.sql import Window

    from ..operators import inference

    fused = hybrid_rrf(spark, sf_dir).select("doc_id", "rrf_score")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    pool = fused.join(docs, "doc_id")  # ≤ RRF_TOP_N rows after the join
    scored = inference.score_documents(pool).select(
        "doc_id", F.col("score").alias("ce_score")
    )
    both = fused.join(scored, "doc_id")
    w_rrf = Window.orderBy(F.desc("rrf_score"), "doc_id")  # ≤N-row frame
    w_ce = Window.orderBy(F.desc("ce_score"), "doc_id")  # ≤N-row frame
    return (
        both.withColumn("rrf_rank", F.row_number().over(w_rrf))
        .withColumn("ce_rank", F.row_number().over(w_ce))
        .select(
            "doc_id",
            "rrf_rank",
            "ce_rank",
            (F.col("rrf_rank") - F.col("ce_rank")).alias("rank_shift"),
            "ce_score",
        )
        .orderBy("ce_rank")
    )


# the fake cross-encoder is MODEL_SCORE_SQL's exact scoring expression
# (md5-uniform + distinct-token ratio), applied to the fused pool
RERANK_INFERENCE_SQL = f"""{_RETRIEVAL_BRANCH_CTES},
fused AS (
  SELECT COALESCE(s.doc_id, d.d_id) AS doc_id,
         floor((COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + s.sparse_rank),
                         CAST(0.0 AS DOUBLE))
                + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + d.dense_rank),
                           CAST(0.0 AS DOUBLE))) * 1e9 + 0.5)
           / 1e9 AS rrf_score
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.d_id
  ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOP_N}
),
scored AS (
  SELECT f.doc_id, f.rrf_score,
         round(
           0.5 * (('0x' || substring(md5(text), 1, 16))::UBIGINT / 18446744073709551616.0)
           + 0.5 * (CASE WHEN regexp_replace(text, '^\\s+$', '') = '' THEN 0.0
                         ELSE len(list_distinct(regexp_split_to_array(
                                  regexp_replace(regexp_replace(text, '^\\s+', ''), '\\s+$', ''), '\\s+')))
                              / CAST(len(regexp_split_to_array(
                                  regexp_replace(regexp_replace(text, '^\\s+', ''), '\\s+$', ''), '\\s+')) AS DOUBLE)
                    END), 6) AS ce_score
  FROM fused f JOIN documents doc ON f.doc_id = doc.doc_id
),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
           AS rrf_rank,
         CAST(row_number() OVER (ORDER BY ce_score DESC, doc_id) AS INT)
           AS ce_rank,
         ce_score
  FROM scored
)
SELECT doc_id, rrf_rank, ce_rank, rrf_rank - ce_rank AS rank_shift, ce_score
FROM ranked ORDER BY ce_rank
"""


# ---------------------------------------------------------------------------
# #237 split-leakage audit: near-dup pairs that CROSS the #52
# train/val/test split — the "your held-out loss is contaminated"
# check a training pipeline runs after every re-split. Rides the
# shared PPJoin pair tier (the pairs already exist; this is one small
# join against the md5-bucket split assignment), so the audit costs
# two hash joins on the near-dup pair set — bounded by duplicate
# density, never corpus² — at any scale. Mean jaccard aggregates
# through per-pair integer micros (quantize-first), so the cross-
# engine double-sum order can't flip the hash.


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shared_pair_tier(spark, sf_dir)
    splits = transforms.assign_split(
        load(spark, sf_dir, "documents"), "doc_id", seed=SPLIT_SEED
    ).select("doc_id", "split")
    a = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    b = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    crossed = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
            F.floor(F.col("jaccard") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("jm"),
        )
    )
    return (
        crossed.groupBy("split_lo", "split_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("jm").alias("sj"),
        )
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (
                F.floor(
                    F.col("sj").cast("double") / F.col("n_pairs") + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("mean_jaccard"),
        )
        .orderBy("split_lo", "split_hi")
    )


SPLIT_LEAKAGE_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
),
spl AS (
  SELECT doc_id,
         CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5('{SPLIT_SEED}' || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
    FROM documents
  )
),
crossed AS (
  SELECT least(sa.split, sb.split) AS split_lo,
         greatest(sa.split, sb.split) AS split_hi,
         CAST(floor(j.jaccard * 1000000 + 0.5) AS BIGINT) AS jm
  FROM jac j
  JOIN spl sa ON j.id_a = sa.doc_id
  JOIN spl sb ON j.id_b = sb.doc_id
  WHERE j.jaccard >= {JACCARD_THRESHOLD} AND sa.split <> sb.split
)
SELECT split_lo, split_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       floor(CAST(SUM(jm) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 AS mean_jaccard
FROM crossed
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# #238 quality-aware dedup survivors: per duplicate CLUSTER (the #63
# transitive components, not #53's pair-greedy rule) keep the document
# with the highest #45 quality score (ties → smallest doc_id) — real
# curation keeps the BEST copy, not the lowest-id copy. Rides the
# shared pair tier through connected_components plus one map-side
# quality-feature scan; the per-cluster argmax is a window over
# cluster-sized groups (duplicate-cluster-bounded, never corpus-wide).


def dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    clusters = dedup_clusters(spark, sf_dir)  # doc_id, cluster_id
    quality = quality_score(spark, sf_dir).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("survivor_id"),
                "quality_score")
        .orderBy("cluster_id")
    )


DEDUP_SURVIVORS_QUALITY_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(v, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.v, e.b FROM reach JOIN edges e ON e.a = reach.r
),
cluster AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cluster c ON d.doc_id = c.doc_id
),
qnorm AS (
  SELECT doc_id, {NORM_SQL} AS t, string_split({NORM_SQL}, ' ') AS w
  FROM documents
),
feats AS (
  SELECT doc_id,
         len(w) AS n_words,
         len(list_distinct(w)) AS n_distinct,
         CAST(len(regexp_extract_all(t, '{text.stopword_regex(text.LANG_STOPWORDS["en"])}')) AS DOUBLE) AS stop
  FROM qnorm
),
q AS (
  SELECT doc_id,
         0.4 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
           + 0.3 * (CAST(n_distinct AS DOUBLE) / n_words)
           + 0.3 * least((stop / n_words) * 5.0, 1.0) AS quality_score
  FROM feats
)
SELECT cluster_id, survivor_id, quality_score FROM (
  SELECT l.cluster_id, l.doc_id AS survivor_id, q.quality_score,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY q.quality_score DESC, l.doc_id) AS rn
  FROM labeled l JOIN q ON q.doc_id = l.doc_id
)
WHERE rn = 1
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# #239 benchmark vocabulary coverage: per source, the share of the
# held-out benchmark's token TYPES that the source's own vocabulary
# covers — the cheap "can this feed even express the eval suite"
# screen run before fine-grained contamination checks (the inverse
# concern of #72: too LITTLE overlap means a domain-mismatched feed).
# Map-side token explode, two vocabulary-bounded distinct aggregates,
# one join on token — never corpus-proportional state. Benchmark
# convention: doc_id % 97 == 0, the #72/#232 held-out stand-in.


def benchmark_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(text.words(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    bench_types = (
        toks.filter(F.col("doc_id") % SEMDECON_MOD == 0)
        .select("tok")
        .distinct()
    )
    src_types = (
        toks.filter(F.col("doc_id") % SEMDECON_MOD != 0)
        .select("source", "tok")
        .distinct()
    )
    covered = (
        src_types.join(bench_types, "tok")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_covered"))
    )
    # denominator as a single-row broadcast crossJoin INSIDE the plan
    # (verdict r11 #6: the eager .count() split this into two jobs where
    # the package discipline everywhere else is one lazy plan —
    # mixture_epochs' scalar pattern); policy-exempt single-row side
    n_bench = bench_types.agg(
        F.count(F.lit(1)).cast("long").alias("n_bench_types")
    )
    return (
        covered.crossJoin(F.broadcast(n_bench))
        .select(
            "source",
            "n_covered",
            "n_bench_types",
            (
                F.floor(
                    F.col("n_covered").cast("double")
                    * 1000000
                    / F.col("n_bench_types")
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("coverage"),
        )
        .orderBy("source")
    )


BENCHMARK_VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, tok FROM (
    SELECT doc_id, source,
           unnest(string_split({NORM_SQL}, ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
bench_types AS (
  SELECT DISTINCT tok FROM toks WHERE doc_id % {SEMDECON_MOD} = 0
),
src_types AS (
  SELECT DISTINCT source, tok FROM toks WHERE doc_id % {SEMDECON_MOD} <> 0
),
n AS (SELECT COUNT(*) AS n_bench FROM bench_types)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_covered,
       CAST(ANY_VALUE(n.n_bench) AS BIGINT) AS n_bench_types,
       floor(CAST(COUNT(*) AS DOUBLE) * 1000000 / ANY_VALUE(n.n_bench) + 0.5)
         / 1e6 AS coverage
FROM src_types s
JOIN bench_types b USING (tok)
CROSS JOIN n
GROUP BY s.source
ORDER BY s.source
"""


# ---------------------------------------------------------------------------
# #240 cross-lingual near-duplicates: #41's embedding cosine pairs
# restricted to pairs whose documents carry DIFFERENT lang tags —
# translated/copied content that no shingle pass can see (zero token
# overlap across languages) and that a multilingual corpus counts
# twice if not caught. Rides the same blocked-GEMM pair scorer as
# #41 plus two map-side dimension joins for the language tags
# (vec_id ↔ doc_id, the #210 convention).


def crosslingual_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    langs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    pairs = similarity.cosine_pairs_vectorized(emb, EMBED_THRESHOLD)
    la = langs.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a")
    )
    lb = langs.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b")
    )
    return (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select("id_a", "id_b", "lang_a", "lang_b", "cosine")
        .orderBy("id_a", "id_b")
    )


CROSSLINGUAL_DUPS_SQL = f"""
WITH {NORM_CTE},
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({DOT_AB} / (a.nrm * b.nrm), 6) AS cosine
  FROM norms a JOIN norms b ON a.vec_id < b.vec_id
)
SELECT s.id_a, s.id_b, da.lang AS lang_a, db.lang AS lang_b, s.cosine
FROM scored s
JOIN documents da ON da.doc_id = s.id_a
JOIN documents db ON db.doc_id = s.id_b
WHERE s.cosine >= {EMBED_THRESHOLD} AND da.lang <> db.lang
ORDER BY s.id_a, s.id_b
"""


# ---------------------------------------------------------------------------
# #241 leakage-repairing split (the FIX for what #237 audits): every
# document is reassigned to the split of its duplicate CLUSTER's
# canonical member (minimum doc_id), so near-duplicate content can
# never straddle train/val/test — cluster-consistent splitting, the
# standard remedy once a split-leakage audit fires. Deterministic and
# incremental-friendly: the canonical member's md5 bucket decides for
# the whole cluster, so re-running after new ingests only moves docs
# whose cluster gained an older canonical. Rides the shared pair tier
# through the same connected components as #63; singleton clusters
# keep their own assignment (split_fixed = split for ~99% of docs).


def split_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = dedup_clusters(spark, sf_dir)  # doc_id, cluster_id
    splits = transforms.assign_split(
        load(spark, sf_dir, "documents"), "doc_id", seed=SPLIT_SEED
    ).select("doc_id", "split")
    canon = splits.select(
        F.col("doc_id").alias("cluster_id"),
        F.col("split").alias("split_fixed"),
    )
    return (
        clusters.join(splits, "doc_id")
        .join(canon, "cluster_id")  # cluster_id IS the canonical doc_id
        .select(
            "doc_id",
            "cluster_id",
            "split",
            "split_fixed",
            (F.col("split") != F.col("split_fixed")).alias("moved"),
        )
        .orderBy("doc_id")
    )


SPLIT_REPAIR_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(v, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.v, e.b FROM reach JOIN edges e ON e.a = reach.r
),
cluster AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cluster c ON d.doc_id = c.doc_id
),
spl AS (
  SELECT doc_id,
         CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5('{SPLIT_SEED}' || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
    FROM documents
  )
)
SELECT l.doc_id, l.cluster_id, s.split, cs.split AS split_fixed,
       s.split <> cs.split AS moved
FROM labeled l
JOIN spl s ON s.doc_id = l.doc_id
JOIN spl cs ON cs.doc_id = l.cluster_id
ORDER BY l.doc_id
"""
