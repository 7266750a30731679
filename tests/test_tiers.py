"""Shared staging tiers (plans/tiers.py).

1. The ``SharedTier`` memo lifecycle, with a stub builder and plain
   objects standing in for sessions — no Spark.
2. The consumer pin: every registered query touches, while building its
   plan, exactly the tiers it declares with ``register(..., tiers=...)``.
   bench's skip-on-failed-build logic and the evidence ``consumers``
   lists read those declarations, so a query that reads a tier without
   declaring it would be timed against a cold memo.
3. The shingle and gate tiers are checkpointed, memoized, and hold the
   rows of the inline chains they replaced.
"""

from __future__ import annotations

import gc

from flink_learning_practise_spark import datasets
from flink_learning_practise_spark.operators import curation
from flink_learning_practise_spark.plans import llm_pipeline as llm
from flink_learning_practise_spark.plans.tiers import (
    SharedTier,
    reset_shared_caches,
    shared_tiers,
)
from flink_learning_practise_spark.registry import all_queries


class _Session:
    """Weak-referenceable stand-in for a SparkSession."""


def _stub_builder(spark, sf_dir):
    return object()


def test_memo_returns_same_object_and_evicts_oldest():
    tier = SharedTier("stub", _stub_builder)
    sess = _Session()
    a = tier(sess, "sf_a")
    assert tier(sess, "sf_a") is a, "second call rebuilt the tier"
    b = tier(sess, "sf_b")
    tier(sess, "sf_c")  # a third sf_dir evicts the oldest entry
    assert list(tier._memo[sess]) == ["sf_b", "sf_c"]
    assert tier(sess, "sf_b") is b
    assert tier(sess, "sf_a") is not a, "evicted entry served from the memo"


def test_memo_entries_go_with_their_session():
    tier = SharedTier("stub", _stub_builder)
    s1, s2 = _Session(), _Session()
    tier(s1, "sf")
    tier(s2, "sf")
    assert len(tier._memo) == 2
    del s1
    gc.collect()
    assert list(tier._memo.keys()) == [s2]


def test_reset_empties_every_registered_tier(monkeypatch):
    sess = _Session()
    tiers = shared_tiers()
    for tier, _ in tiers.values():
        monkeypatch.setattr(tier, "builder", _stub_builder)
        tier(sess, "sf")
        assert tier._memo
    reset_shared_caches()
    assert not any(tier._memo for tier, _ in tiers.values())


def test_decorated_builder_keeps_its_name():
    assert llm._shared_pair_tier.__name__ == "_shared_pair_tier"
    assert isinstance(llm._shared_pair_tier, SharedTier)
    assert llm._shared_pair_tier.name == "ppjoin_pair_tier"


def test_declared_tiers_match_runtime_calls(spark, sf_small, monkeypatch):
    """Replaces the former source scan (AST walk + hand-kept transitive
    map): it records the tiers each query's plan construction actually
    calls, including calls from another module or through another plan
    function. All tiers are warm first, so a tier reached only through
    another tier's builder (shingle under pair) is not recorded —
    matching the consumer contract in :func:`shared_tiers`."""
    tiers = shared_tiers()
    # derivation order; bench times each build on its own line in it
    assert list(tiers) == [
        "doc_shingle_tier", "ppjoin_pair_tier", "cc_labels_tier",
        "bm25_topn_tier", "dense_topk_tier", "lsh_topk_tier",
        "ivf_topk_tier", "bpe_merges_tier", "gate_features_tier",
    ]
    reset_shared_caches()
    for tier, _ in tiers.values():
        tier(spark, sf_small)

    touched: set[str] = set()
    call = SharedTier.__call__

    def recording_call(self, spark, sf_dir):
        touched.add(self.name)
        return call(self, spark, sf_dir)

    monkeypatch.setattr(SharedTier, "__call__", recording_call)
    queries = all_queries()
    drift = {}
    for name, q in queries.items():
        touched.clear()
        q.fn(spark, sf_small)  # plan only, no write
        if touched != set(q.tiers):
            drift[name] = {"declared": sorted(q.tiers), "called": sorted(touched)}
    assert not drift, f"declared tiers differ from the tiers called: {drift}"

    order = list(queries)
    for _tier, consumers in tiers.values():
        assert list(consumers) == sorted(consumers, key=order.index)


def test_shingle_tier_is_checkpointed_and_memoized(spark, sf_small):
    reset_shared_caches()
    t1 = llm._shared_shingle_tier(spark, sf_small)
    t2 = llm._shared_shingle_tier(spark, sf_small)
    assert t2 is t1, "shingle tier rebuilt on second call"
    assert set(t1.columns) == {"doc_id", "_sh", "_n"}
    # checkpointed: consumers see a materialized scan, not the
    # interpreted shingling chain
    analyzed = t1._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in analyzed or "ExistingRDD" in analyzed
    reset_shared_caches()
    assert not llm._shared_shingle_tier._memo, "reset_shared_caches missed the tier"


def test_gate_tier_matches_inline_feature_chain(spark, sf_small):
    """The gate-features tier must hold EXACTLY the rows of the inline
    repetition_features(carry=text) → quality_features chain it
    replaced in six queries, and must be checkpointed + memoized like
    the other tiers."""
    from flink_learning_practise_spark.operators import text

    reset_shared_caches()
    tier = llm._shared_gate_tier(spark, sf_small)
    assert llm._shared_gate_tier(spark, sf_small) is tier
    analyzed = tier._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in analyzed or "ExistingRDD" in analyzed
    docs = datasets.load(spark, sf_small, "documents")
    inline = text.quality_features(
        curation.repetition_features(docs, "doc_id", "text", carry=("text",)),
        "text",
    )
    assert tier.columns == inline.columns
    assert sorted(map(tuple, tier.collect())) == sorted(
        map(tuple, inline.collect())
    )
    reset_shared_caches()
    assert not llm._shared_gate_tier._memo
