"""Replicates the driver's correctness gate: every registered query with
an oracle must hash-match DuckDB on the same parquet data (row count,
schema, order-insensitive values)."""

from __future__ import annotations

import os

import pytest

from flink_learning_practise_spark.oracle import check_query
from flink_learning_practise_spark.registry import all_queries

NAMES = sorted(all_queries())


@pytest.mark.parametrize("name", NAMES)
def test_parity_sf001(spark, sf_medium, name):
    errors = check_query(spark, name, sf_medium)
    assert not errors, f"{name}: " + "; ".join(errors)


@pytest.mark.parametrize("name", NAMES)
def test_runs_and_returns_rows(spark, sf_small, name):
    q = all_queries()[name]
    rows = q.fn(spark, sf_small).collect()
    assert rows is not None


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_PARITY_SF01"),
    reason="full-strength sf0.1 parity sweep is opt-in "
    "(SPARK_GRAFT_PARITY_SF01=1): ~10x the sf0.01 pass's data; run it "
    "after plan-affecting changes to catch scale-dependent float drift "
    "the driver's sf0.01 gate can't see",
)
@pytest.mark.parametrize("name", NAMES)
def test_parity_sf01(spark, name):
    errors = check_query(spark, name, "/root/testdata/sf0.1")
    assert not errors, f"{name}: " + "; ".join(errors)


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_PARITY_SF0001"),
    reason="sf0.001 parity sweep is opt-in (SPARK_GRAFT_PARITY_SF0001=1): "
    "float-boundary hits are SF-dependent in BOTH directions — the tiny "
    "tier caught a davg double->decimal rounding split (min_cost_supplier) "
    "that sf0.01 and sf0.1 both missed; run it with the sf0.1 sweep after "
    "any numeric-path change",
)
@pytest.mark.parametrize("name", NAMES)
def test_parity_sf0001(spark, name):
    errors = check_query(spark, name, "/root/testdata/sf0.001")
    assert not errors, f"{name}: " + "; ".join(errors)


@pytest.mark.parametrize(
    "name",
    [
        "q_dupgraph_degrees",
        "q_curation_funnel",
        "q_dedup_clusters",
        "q_dedup_clusters_star",
        "q_pagerank_dupgraph",
        "q_lpa_communities",
        "q_kcore_dupgraph",
    ],
)
def test_parity_zero_documents(spark, sf_small, tmp_path, name):
    """A corpus with no documents (hence no near-duplicate pairs): the
    ratio columns whose divisor is then 0 are NULL, as in DuckDB, not
    an ANSI DIVIDE_BY_ZERO, and the graph loops run on an empty edge
    list (CC converges on a NULL sum, PageRank takes its n == 0 path).
    The other tables are copied from sf0.001."""
    import shutil

    import pyarrow.parquet as pq

    for f in os.listdir(sf_small):
        shutil.copy(os.path.join(sf_small, f), tmp_path / f)
    schema = pq.read_schema(os.path.join(sf_small, "documents.parquet"))
    os.remove(tmp_path / "documents.parquet")
    pq.write_table(schema.empty_table(), tmp_path / "documents.parquet")
    errors = check_query(spark, name, str(tmp_path))
    assert not errors, f"{name}: " + "; ".join(errors)


@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_minhash_lsh",
        "q_dedup_containment",
        "q_decontaminate_neardup",
        "q_ngram_novelty",
        "q_curation_funnel",
        "q_decontaminate",
        "q_dedup_ngram_jaccard",
        "q_gopher_quality",
    ],
)
def test_parity_null_text(spark, sf_small, tmp_path, name):
    """sf0.001 with ``text`` NULL where doc_id % 7 == 3 (71 of 500
    documents). A NULL-text document has no shingles, as in the
    oracle's shingle CTE, so it pairs with nothing; and a NULL ``keep``
    fails the curation funnel's quality gate, as COALESCE(keep, FALSE)
    does in the oracle."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in os.listdir(sf_small):
        shutil.copy(os.path.join(sf_small, f), tmp_path / f)
    docs = pq.read_table(os.path.join(sf_small, "documents.parquet"))
    i = docs.schema.get_field_index("text")
    text = [
        None if d % 7 == 3 else t
        for d, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
    ]
    docs = docs.set_column(i, docs.schema.field(i), pa.array(text, pa.string()))
    pq.write_table(docs, tmp_path / "documents.parquet")
    errors = check_query(spark, name, str(tmp_path))
    assert not errors, f"{name}: " + "; ".join(errors)
