"""Generate PLANS.md: a physical-plan audit of every registered query.

For each query (at $SPARK_GRAFT_SF_DIR or sf0.01) count the plan
features that matter at 100 TB — exchanges (shuffles), join strategies,
aggregation shape, window operators, Python/Arrow boundaries, scan
pushdown — so plan regressions show up as a diff of this file.

Run: python tools/plan_audit.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_learning_practise_spark.registry import all_queries  # noqa: E402
from flink_learning_practise_spark.session import get_spark  # noqa: E402

def unpartitioned_windows(plan: str) -> list[str]:
    """Physical-plan lines holding a WindowExec with an EMPTY partition
    spec — the whole-relation-through-one-task shape this repo bans
    (SURVEY §6; tests/test_plan_shape.py pins an allowlist).

    Bracket-group counting is NOT reliable (a partitioned window with
    no ORDER BY prints only ``[exprs], [partition]`` — two groups, same
    as an unpartitioned ordered one). The authoritative signal is the
    ``windowspecdefinition(...)`` argument list: partition columns
    appear as BARE expressions before ``specifiedwindowframe``, order
    columns carry an ``ASC``/``DESC`` direction marker. A spec whose
    pre-frame args are all direction-marked (or absent) has no
    partition columns. ``WindowGroupLimit`` (rank-limit pushdown) is a
    different operator and is excluded by the exact ``"Window ["``
    match.
    """
    out = []
    for line in plan.splitlines():
        if not re.search(r"\bWindow \[", line):
            continue
        for m in re.finditer(r"windowspecdefinition\(", line):
            depth = 1
            i = m.end()
            while i < len(line) and depth:
                if line[i] == "(":
                    depth += 1
                elif line[i] == ")":
                    depth -= 1
                i += 1
            args_str = line[m.end(): i - 1]
            # split top-level commas
            args, buf, d = [], [], 0
            for ch in args_str:
                if ch in "([":
                    d += 1
                elif ch in ")]":
                    d -= 1
                if ch == "," and d == 0:
                    args.append("".join(buf).strip())
                    buf = []
                else:
                    buf.append(ch)
            if buf:
                args.append("".join(buf).strip())
            pre_frame = [
                a for a in args if not a.startswith("specifiedwindowframe")
            ]
            has_partition = any(
                not re.search(r"\b(ASC|DESC) NULLS (FIRST|LAST)$", a)
                for a in pre_frame
            )
            if not has_partition:
                out.append(line.strip())
                break
    return out


FEATURES = [
    ("shuffles", r"Exchange (?:hash|range|SinglePartition)"),
    ("bcast_join", r"BroadcastHashJoin"),
    ("smj", r"SortMergeJoin"),
    ("shuffled_hash", r"ShuffledHashJoin"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("hash_agg", r"HashAggregate"),
    ("obj_hash_agg", r"ObjectHashAggregate"),
    ("sort_agg", r"SortAggregate"),
    ("window", r"\bWindow\b"),
    ("arrow_py", r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"),
    ("row_py", r"BatchEvalPython"),
    ("cache", r"InMemoryTableScan"),
    ("reused_exch", r"ReusedExchange"),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    print("# PLANS — physical-plan audit (generated by tools/plan_audit.py)")
    print()
    print(f"Scale: `{sf_dir}`. Counts of plan operators per registered query,")
    print("from the FINAL adaptive plan after execution (AQE join-strategy")
    print("conversions, exchange reuse, and codegen staging included);")
    print("`pushed` = parquet scan carries PushedFilters; `codegen` = number")
    print("of whole-stage-codegen spans. Regenerate after plan-affecting")
    print("changes and review the diff.")
    print()
    print("Shared-tier consumers (see plans/tiers.py shared_tiers()) are")
    print("audited against a WARM memo: q_bm25_search's row is the 20-row")
    print("checkpoint scan (its build plan = the two token-scan aggregates,")
    print("7 shuffles, timed separately by bench.py), and pair-tier")
    print("consumers' rows exclude the PPJoin build the same way.")
    print()
    cols = [name for name, _ in FEATURES]
    print("| query | " + " | ".join(cols) + " | unpart_win | pushed | codegen |")
    print("|---" * (len(cols) + 4) + "|")
    for name, q in sorted(all_queries().items()):
        df = q.fn(spark, sf_dir)
        # Execute the df's OWN QueryExecution (a noop WRITE runs a
        # separate QueryExecution and leaves this one at the initial
        # plan): AQE only finalizes join strategies, coalesced
        # partitions, exchange reuse and codegen stages at runtime —
        # the pre-execution plan over-reports sort-merge joins and
        # under-reports codegen/reuse. toRdd().count() is a JVM-side
        # action on this QueryExecution with ZERO driver-side row
        # transfer (collect() would materialize full results on the
        # driver — an OOM at larger SPARK_GRAFT_SF_DIR). Then audit
        # the final-plan section only (the printed tree repeats the
        # initial plan below it, which would double-count).
        df._jdf.queryExecution().toRdd().count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        counts = [len(re.findall(pat, plan)) for _, pat in FEATURES]
        unpart = len(unpartitioned_windows(plan))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
        cells = " | ".join(str(c) if c else "·" for c in counts)
        print(f"| {name} | {cells} | {unpart or '·'} | {pushed} | {codegen} |")
    spark.stop()


if __name__ == "__main__":
    main()
