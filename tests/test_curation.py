"""Unit tests for the corpus-curation operators (SURVEY §2 #69-74):
edge cases the sf-scale oracle harness can't isolate — short/empty
docs, pack boundaries, monotone mixing, snapshot-delta semantics."""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_learning_practise_spark.operators import curation, dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# scrub_pii


def test_scrub_pii_all_categories(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com or jo.ann+x@sub.domain.org ok"),
            (2, "call 555-123-4567 from 10.0.0.1 ref 9988776655"),
            (3, "no pii here"),
        ],
        "event_id long, props string",
    )
    out = {r["event_id"]: r for r in curation.scrub_pii(df, "event_id", "props").collect()}
    assert out[1]["scrubbed"] == "mail <EMAIL> or <EMAIL> ok"
    assert out[1]["n_email"] == 2 and out[1]["n_num"] == 0
    assert out[2]["scrubbed"] == "call <PHONE> from <IP> ref <NUM>"
    assert (out[2]["n_phone"], out[2]["n_ip"], out[2]["n_num"]) == (1, 1, 1)
    assert out[3]["scrubbed"] == "no pii here"
    assert all(out[3][f"n_{c}"] == 0 for c in ("email", "phone", "ip", "num"))


def test_scrub_pii_email_wins_over_num(spark):
    # digits inside an email must be redacted as part of <EMAIL>, not <NUM>
    df = spark.createDataFrame([(1, "x 12345@example.com y")], "event_id long, props string")
    row = curation.scrub_pii(df, "event_id", "props").collect()[0]
    assert row["scrubbed"] == "x <EMAIL> y"
    assert row["n_email"] == 1


# ---------------------------------------------------------------------------
# repetition_features


def test_repetition_flags_boilerplate(spark):
    clean = " ".join(f"word{i}" for i in range(40))  # 40 distinct words
    spam = "buy now " * 30  # one bigram dominates
    out = {
        r["doc_id"]: r
        for r in curation.repetition_features(
            _docs(spark, [(1, clean), (2, spam.strip())]), "doc_id", "text"
        ).collect()
    }
    assert out[1]["keep"] is True
    assert out[1]["dup_3gram_frac"] == 0.0
    assert out[2]["keep"] is False
    assert out[2]["top_2gram_frac"] > 0.3
    assert out[2]["dup_3gram_frac"] > 0.9


def test_repetition_short_docs_get_zero_fractions(spark):
    out = {
        r["doc_id"]: r
        for r in curation.repetition_features(
            _docs(spark, [(1, "single"), (2, "")]), "doc_id", "text"
        ).collect()
    }
    for i in (1, 2):
        assert out[i]["top_2gram_frac"] == 0.0
        assert out[i]["dup_3gram_frac"] == 0.0
        assert out[i]["keep"] is False  # too short


# ---------------------------------------------------------------------------
# pack_sequences


def test_pack_sequences_running_sum_boundaries(spark):
    # 4-token docs into capacity 8: packs of exactly two docs each,
    # in doc_id order, independently per shard.
    rows = [(i, "a b c d", "s1") for i in range(6)] + [(10, "a b c d", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["source"], r["pack_id"]): r
        for r in curation.pack_sequences(
            df, "doc_id", "text", "source", capacity=8
        ).collect()
    }
    assert out[("s1", 0)]["n_docs"] == 2 and out[("s1", 0)]["first_doc"] == 0
    assert out[("s1", 1)]["n_docs"] == 2 and out[("s1", 1)]["first_doc"] == 2
    assert out[("s1", 2)]["last_doc"] == 5
    assert out[("s2", 0)]["n_docs"] == 1
    assert all(r["n_tokens"] <= 8 for r in out.values())


def test_pack_sequences_oversized_doc_gets_own_pack(spark):
    # a doc bigger than capacity still lands in exactly one pack and
    # shifts the next doc to a fresh pack
    df = spark.createDataFrame(
        [(1, " ".join(["w"] * 20), "s"), (2, "a b", "s")],
        "doc_id long, text string, source string",
    )
    out = sorted(
        curation.pack_sequences(df, "doc_id", "text", "source", capacity=8).collect(),
        key=lambda r: r["pack_id"],
    )
    assert [r["n_docs"] for r in out] == [1, 1]
    assert out[0]["n_tokens"] == 20 and out[1]["pack_id"] == 2  # 20 // 8


# ---------------------------------------------------------------------------
# decontaminate


def test_decontaminate_counts_shared_shingles(spark):
    bench = "alpha beta gamma delta"
    contaminated = "x y alpha beta gamma z"  # shares "alpha beta gamma"
    clean = "p q r s t u"
    df = _docs(spark, [(0, bench), (1, contaminated), (2, clean)])
    out = curation.decontaminate(
        dedup.doc_shingle_frame(df, "doc_id", "text", k=3), "doc_id",
        F.col("doc_id") == 0,
    ).collect()
    assert len(out) == 1
    assert out[0]["doc_id"] == 1 and out[0]["n_shared"] == 1


def test_decontaminate_excludes_benchmark_docs(spark):
    df = _docs(spark, [(0, "a b c d"), (5, "a b c d")])
    out = curation.decontaminate(
        dedup.doc_shingle_frame(df, "doc_id", "text"), "doc_id", F.col("doc_id") == 0
    ).collect()
    assert [r["doc_id"] for r in out] == [5]


# ---------------------------------------------------------------------------
# domain_mixture


def test_domain_mixture_monotone_and_flattening(spark):
    rows = [(i, "t", "big") for i in range(400)] + [
        (1000 + i, "t", "small") for i in range(25)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    half = curation.domain_mixture(df, "lang", "doc_id", keep_frac=0.5)
    most = curation.domain_mixture(df, "lang", "doc_id", keep_frac=0.9)
    rates = {r["lang"]: r["rate_bp"] for r in half.select("lang", "rate_bp").distinct().collect()}
    # temperature flattening: the small domain keeps a much larger share
    assert rates["small"] > rates["big"]
    assert all(0 <= bp <= 10000 for bp in rates.values())
    # monotone in keep_frac: every doc kept at 0.5 is kept at 0.9
    kept_half = {r["doc_id"] for r in half.collect()}
    kept_most = {r["doc_id"] for r in most.collect()}
    assert kept_half <= kept_most


def test_domain_mixture_rate_caps_at_one(spark):
    # a tiny domain's quota can exceed its size: rate must cap at 10000
    rows = [(i, "t", "big") for i in range(500)] + [(900, "t", "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    rates = {
        r["lang"]: r["rate_bp"]
        for r in curation.domain_mixture(df, "lang", "doc_id", keep_frac=0.9)
        .select("lang", "rate_bp")
        .distinct()
        .collect()
    }
    assert rates["tiny"] == 10000


# ---------------------------------------------------------------------------
# incremental_dedup


def test_incremental_dedup_semantics(spark):
    df = _docs(
        spark,
        [
            (0, "already in corpus"),  # snapshot
            (1, "already in corpus"),  # delta dup of snapshot -> dropped
            (3, "brand new text"),  # delta, unique -> kept
            (5, "repeated delta"),  # delta dup pair -> min id kept
            (7, "repeated delta"),
            (9, "Brand  NEW   text"),  # normalizes equal to doc 3 -> folded
        ],
    )
    out = {
        r["doc_id"]: r["n_copies"]
        for r in curation.incremental_dedup(
            df, "doc_id", "text", F.col("doc_id") % 2 == 0
        ).collect()
    }
    assert out == {3: 2, 5: 2}


# ---------------------------------------------------------------------------
# composed pipeline (#75)


def test_curation_pipeline_composes_lazily(spark):
    from flink_learning_practise_spark.plans.curation import curation_pipeline

    df = curation_pipeline(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows, "pipeline produced no packs"
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # one Catalyst plan end-to-end: no cartesian product, no Python
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # packs are contiguous per split: ids don't interleave across packs
    by_split = {}
    for r in sorted(rows, key=lambda r: (r["split"], r["pack_id"])):
        prev = by_split.get(r["split"])
        if prev is not None:
            assert prev < r["first_doc"]
        by_split[r["split"]] = r["last_doc"]


def test_pack_sequences_straddling_doc_overflows_earlier_bin(spark):
    # documented semantics: bins are capacity-TARGETED; a straddling
    # doc lands wholly in the earlier bin (overflow < doc_len)
    df = spark.createDataFrame(
        [(1, "a b c d e", "s"), (2, "f g h i j", "s")],
        "doc_id long, text string, source string",
    )
    out = sorted(
        curation.pack_sequences(df, "doc_id", "text", "source", capacity=8).collect(),
        key=lambda r: r["pack_id"],
    )
    # doc2 has tokens_before=5 -> floor(5/8)=0: same bin, 10 tokens
    assert [r["pack_id"] for r in out] == [0]
    assert out[0]["n_tokens"] == 10 and out[0]["n_docs"] == 2


def test_decontaminate_predicate_on_arbitrary_columns(spark):
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta", "bench"),
            (1, "x y alpha beta gamma z", "train"),
            (2, "p q r s t u", "train"),
        ],
        "doc_id long, text string, source string",
    )
    out = curation.decontaminate(
        dedup.doc_shingle_frame(df, "doc_id", "text", k=3), "doc_id",
        F.col("source") == "bench",
    ).collect()
    assert [(r["doc_id"], r["n_shared"]) for r in out] == [(1, 1)]
