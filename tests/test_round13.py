"""Round-13 pins.

1. The load()/widen() driver-side memo fast paths (VERDICT r12 ask #8):
   both memos were added in r12 and their uplift is real only while the
   fast path actually engages — widen()'s key derivation probes Spark
   internals (``queryExecution().analyzed().semanticHash()``) under a
   broad except, so a Spark upgrade could silently fall back to the
   ~80 ms ``.rdd`` probe per call without any test noticing.

2. The ``*_from_shingles`` operator variants are row-identical to their
   raw re-shingling forms (the shingle tier itself is pinned in
   tests/test_tiers.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_learning_practise_spark import datasets
from flink_learning_practise_spark.operators import curation, dedup


def test_load_memo_hits_on_second_call(spark, sf_small):
    """Second load() of the same (path, mtime, size) must return the
    memoized plan object itself — the fast path the r12 driver-overhead
    win depends on."""
    datasets._PLAN_MEMO.clear()
    a = datasets.load(spark, sf_small, "documents")
    n_after_first = len(datasets._PLAN_MEMO)
    b = datasets.load(spark, sf_small, "documents")
    assert b is a, "load() memo missed on an identical second call"
    assert len(datasets._PLAN_MEMO) == n_after_first
    # the memo key carries the session + file identity, so a rewritten
    # file or another session can never serve this entry
    key = next(iter(datasets._PLAN_MEMO))
    assert key[0] == spark.sparkContext.applicationId
    assert key[1].endswith("documents.parquet")


def test_load_memo_kill_switch(spark, sf_small, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOAD_MEMO", "0")
    datasets._PLAN_MEMO.clear()
    datasets.load(spark, sf_small, "documents")
    assert not datasets._PLAN_MEMO, "kill switch ignored"


def test_widen_memo_semantic_hash_probe_engages(spark, sf_small, monkeypatch):
    """widen()'s partition-count memo must hit via the analyzed-plan
    semanticHash on the SECOND call — if the internal probe ever starts
    throwing on a new Spark version, widen() silently degrades to one
    ``.rdd`` physical-planning round-trip per call; this pin makes that
    regression loud. The second call runs with DataFrame.rdd poisoned,
    so a memo miss cannot hide."""
    df = datasets.load(spark, sf_small, "documents").select("doc_id")
    dedup._WIDEN_MEMO.clear()
    dedup.widen(df)
    assert len(dedup._WIDEN_MEMO) == 1, (
        "widen() did not memoize — the semanticHash probe fell back"
    )
    (_app, sem_hash, target), = dedup._WIDEN_MEMO.keys()
    assert isinstance(sem_hash, int)
    assert target == spark.sparkContext.defaultParallelism

    def _poisoned_rdd(self):  # pragma: no cover - must not be reached
        raise AssertionError("widen() memo missed: .rdd probe was paid")

    monkeypatch.setattr(DataFrame, "rdd", property(_poisoned_rdd))
    # a fresh but semantically identical plan must hit the memo
    df2 = datasets.load(spark, sf_small, "documents").select("doc_id")
    dedup.widen(df2)


# ---------------------------------------------------------------------------
# *_from_shingles entry points over the shared shingle tier's frame


def test_from_shingles_variants_match_raw_forms(spark, sf_small):
    """Every *_from_shingles operator over doc_shingle_frame must be
    row-identical to its raw re-shingling form (they are the same code
    path by construction — this pins the delegation wiring)."""
    docs = datasets.load(spark, sf_small, "documents")
    sh = dedup.doc_shingle_frame(docs, "doc_id", "text", k=3)

    raw = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    via = dedup.ngram_jaccard_pairs_from_shingles(sh, "doc_id", threshold=0.8)
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, via.collect()))

    raw = dedup.containment_pairs(docs, "doc_id", "text", threshold=0.9)
    via = dedup.containment_pairs_from_shingles(sh, "doc_id", threshold=0.9)
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, via.collect()))

    pred = F.col("doc_id") % 5 == 0
    raw = curation.decontaminate_neardup(
        docs, "doc_id", "text", pred, k=3, threshold=0.2)
    via = curation.decontaminate_neardup_from_shingles(
        sh, "doc_id", pred, threshold=0.2)
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, via.collect()))

    raw = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    via = dedup.minhash_lsh_pairs_from_shingles(sh, "doc_id", threshold=0.8)
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, via.collect()))

    raw = curation.decontaminate(docs, "doc_id", "text", pred, k=3)
    via = curation.decontaminate_from_shingles(sh, "doc_id", pred)
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, via.collect()))
