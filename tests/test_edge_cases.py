"""Hostile-input robustness: null / empty / whitespace-only text must
not raise (Spark 4 runs ANSI mode — silent assumptions about non-null,
non-empty strings would throw at 100 TB the first time real data has a
gap) and must produce sane groupings."""

from __future__ import annotations

import pytest

from flink_learning_practise_spark.operators import dedup, text


@pytest.fixture(scope="module")
def hostile_docs(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "a b c d e"),
            (6, "a b c d e"),
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_hostile(spark, hostile_docs):
    out = {r.doc_id: r.n_copies for r in dedup.exact_dedup(hostile_docs, "doc_id", "text").collect()}
    assert out[2] == 2  # "" and "   " normalize identically
    assert out[5] == 2  # true duplicates collapse
    assert sum(out.values()) == 6  # every doc accounted for


def test_near_dup_tiers_hostile(spark, hostile_docs):
    ngram = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(dedup.doc_shingle_frame(hostile_docs, "doc_id", "text"), "doc_id").collect()}
    assert (5, 6) in ngram
    minhash = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(dedup.doc_shingle_frame(hostile_docs, "doc_id", "text"), "doc_id").collect()}
    assert (5, 6) in minhash
    simhash = {(r.id_a, r.id_b) for r in dedup.simhash_pairs(hostile_docs, "doc_id", "text").collect()}
    assert (5, 6) in simhash


def test_text_analysis_hostile(spark, hostile_docs):
    # every op returns one row per input doc, no exceptions
    assert text.lang_scores(hostile_docs, "text").count() == 6
    assert text.quality_features(hostile_docs, "text").count() == 6
    assert text.token_counts(hostile_docs, "text").count() == 6
    assert text.fingerprints(hostile_docs, "text").count() == 6
    chunks = text.chunk_documents(hostile_docs, "doc_id", "text")
    assert chunks.filter("doc_id = 5").count() == 1  # short doc -> one chunk


def test_cosine_pairs_vectorized_empty_corpus(spark):
    from flink_learning_practise_spark.operators.similarity import cosine_pairs_vectorized

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = cosine_pairs_vectorized(empty, 0.5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "cosine"]


# ---------------------------------------------------------------------------
# stratified_sample (SURVEY §2 #67)


def test_stratified_sample_monotone_and_exact(spark):
    from flink_learning_practise_spark.operators import transforms

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)],
        "doc_id long, lang string",
    )
    keep_small = transforms.stratified_sample(df, "lang", "doc_id", {"en": 0.2, "fr": 1.0})
    keep_big = transforms.stratified_sample(df, "lang", "doc_id", {"en": 0.5, "fr": 1.0})
    small_ids = {r.doc_id for r in keep_small.collect()}
    big_ids = {r.doc_id for r in keep_big.collect()}
    # monotone: raising a quota only ADDS documents
    assert small_ids <= big_ids
    # fr kept whole on both
    fr_ids = {i for i in range(2000) if i % 2 == 1}
    assert fr_ids <= small_ids
    # en fraction lands near target (md5 buckets are uniform)
    en_small = len(small_ids - fr_ids)
    assert abs(en_small / 1000 - 0.2) < 0.05
    # deterministic across invocations
    again = {r.doc_id for r in transforms.stratified_sample(
        df, "lang", "doc_id", {"en": 0.2, "fr": 1.0}).collect()}
    assert again == small_ids


def test_stratified_sample_default_fraction_and_bounds(spark):
    import pytest as _pytest

    from flink_learning_practise_spark.operators import transforms

    df = spark.createDataFrame(
        [(1, "en"), (2, "xx"), (3, "xx")], "doc_id long, lang string"
    )
    # unknown stratum dropped by default
    kept = transforms.stratified_sample(df, "lang", "doc_id", {"en": 1.0})
    assert {r.lang for r in kept.collect()} == {"en"}
    # ... or kept whole with default_fraction=1.0
    kept_all = transforms.stratified_sample(
        df, "lang", "doc_id", {"en": 1.0}, default_fraction=1.0
    )
    assert kept_all.count() == 3
    with _pytest.raises(ValueError, match="fraction"):
        transforms.stratified_sample(df, "lang", "doc_id", {"en": 1.5})


def test_quantize_embeddings_roundtrip_and_zero_vector(spark):
    from flink_learning_practise_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale 0, all-zero q
            (3, [127.0]),  # max element maps exactly to 127
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    r1 = out[1]
    assert r1["scale"] == 1.0 / 127.0
    assert (r1["q_min"], r1["q_max"]) == (-127, 64)  # -1.0->-127, 0.5->64 (HALF_UP)
    assert r1["q_l1"] == 127 + 64 + 32 + 0
    r2 = out[2]
    assert (r2["scale"], r2["q_min"], r2["q_max"], r2["q_sum"], r2["q_l1"]) == (
        0.0, 0, 0, 0, 0,
    )
    assert (out[3]["q_min"], out[3]["q_max"]) == (127, 127)
