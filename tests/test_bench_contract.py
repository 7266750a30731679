"""bench.py stdout contract: the driver json-parses the last stdout
line.  Since round 13 the line CARRIES the per-query ``queries`` map
(VERDICT r12 ask #2 — the driver's PERF comparison reads only this
line, so without the map per-query speedups came back empty every
round), with values rounded to 3 decimals so the line stays bounded
(pinned under bench.STDOUT_LINE_MAX at the LIVE registry size).  All
pre-round-13 fields keep their exact meaning — the change is
additions-only.
"""

from __future__ import annotations

import json

import bench
from flink_learning_practise_spark.registry import all_queries


def test_compact_line_bounded_at_live_registry_size():
    # Worst-case float widths: every query present, slow times.
    timings = {name: 1234.5678 for name in all_queries()}
    line = json.dumps(bench.compact_line(timings, sf=0.1, n_errors=0))
    assert len(line) < bench.STDOUT_LINE_MAX, (
        f"bench stdout line is {len(line)} bytes at {len(timings)} "
        f"queries — over the pinned driver-capture bound"
    )


def test_compact_line_carries_rounded_per_query_map():
    timings = {f"q_{i}": 0.123456 for i in range(500)}
    out = bench.compact_line(timings, sf=0.01, n_errors=2)
    # r13 contract: queries map present, 3-decimal values, sorted keys
    # (stable diffs); every pre-r13 field still present and unchanged.
    assert out["queries"] == {f"q_{i}": 0.123 for i in range(500)}
    assert list(out["queries"]) == sorted(out["queries"])
    assert set(out) == {"metric", "value", "unit", "n_queries",
                       "n_errors", "queries", "sf"}
    assert out["n_queries"] == 500
    assert out["n_errors"] == 2
    assert out["metric"] == "query_wall_time_total"
    assert out["unit"] == "sec"
    assert out["value"] == round(sum(timings.values()), 4)


def test_bench_main_prints_compact_line_only(monkeypatch):
    """The printed line is exactly json.dumps(compact_line(...)) — main()
    must not re-add evidence-only fields (samples, probes, spreads) to
    stdout."""
    import inspect

    src = inspect.getsource(bench.main)
    assert "compact_line(" in src
    # the only print of `out` is the compact line
    assert "print(json.dumps(out))" in src
    assert '"samples"' not in src.split("print(json.dumps(out))")[1]


def test_dense_tier_depth_covers_every_consumer_k():
    """The shared dense tier is exact only because every consumer's
    rank cut is <= the tier depth (prefix property of a total order).
    Pin that inequality so a future K bump on any consumer can't
    silently truncate another's list."""
    from flink_learning_practise_spark.plans import llm_pipeline as llm

    assert llm.dense_tier_k() >= llm.KNN_K
    assert llm.dense_tier_k() >= llm.RRF_TOP_N
    assert llm.dense_tier_k() >= llm.MMR_POOL
    # oracle coupling (advice r8): the hybrid/overlap oracles hardcode
    # LIMIT RRF_TOP_N for the sparse branch the Spark side serves from
    # the BM25_TOP_N-bounded tier
    assert llm.RRF_TOP_N == llm.BM25_TOP_N


def test_bench_history_line_is_compact_and_appended(tmp_path, monkeypatch):
    """append_history writes ONE valid JSON line per run with per-query
    mins — the committed cross-round regression record (r8 verdict:
    per-query evidence did not survive between rounds)."""
    import os

    monkeypatch.setattr(
        bench.os.path, "dirname", lambda p: str(tmp_path)
    )
    ev = {
        "sf": 0.1, "n_queries": 2, "n_errors": 0, "value": 1.23,
        "max_spread": 0.1, "loadavg_1m": [1.0], "cpu_busy_frac": 0.5,
        "shared_tiers": {"t": {"build_sec": 0.4}},
        "queries": {"q_a": 0.61234, "q_b": 0.61},
    }
    bench.append_history(ev)
    bench.append_history(ev)
    lines = (tmp_path / "BENCH_HISTORY.jsonl").read_text().strip().split("\n")
    assert len(lines) == 2
    rec = json.loads(lines[0])
    assert rec["queries"] == {"q_a": 0.612, "q_b": 0.61}
    assert rec["tier_build_sec"] == {"t": 0.4}
    assert len(lines[0]) < 400
    # the source wires it into main after the sidecar write
    import inspect
    assert "append_history(evidence)" in inspect.getsource(bench.main)


def test_bench_compare_report_shape():
    """bench_compare classifies per-query deltas with both a relative
    and an absolute floor (pure function — no history file needed)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"),
    )
    from bench_compare import compare, min_envelope

    base_q = {"q_a": 1.0, "q_b": 0.1, "q_c": 2.0, "q_gone": 1.0,
              "q_skip": 1.0}
    head = {"queries": {"q_a": 1.5, "q_b": 0.2, "q_c": 1.2, "q_new": 0.5},
            "skipped": ["q_skip"]}
    rep = compare(base_q, head, threshold=0.3, min_abs=0.3)
    assert rep["slower"] == [("q_a", 1.0, 1.5)]  # q_b: +100% but < min_abs
    assert rep["faster"] == [("q_c", 2.0, 1.2)]
    assert rep["added"] == ["q_new"] and rep["removed"] == ["q_gone"]
    # a query the head run SKIPPED (its tier build failed every pass)
    # is reported as skipped, never as removed (advice r9)
    assert rep["skipped"] == ["q_skip"]
    # min-envelope (VERDICT r9 ask #1c): per-query min across runs
    env = min_envelope([
        {"queries": {"q_a": 1.2, "q_b": 0.3}},
        {"queries": {"q_a": 0.9, "q_b": 0.5, "q_c": 2.0}},
    ])
    assert env == {"q_a": 0.9, "q_b": 0.3, "q_c": 2.0}
