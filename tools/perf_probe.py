"""Round-12 optimization probe: time + explain individual queries.

For each named query (or the N slowest from the last BENCH_HISTORY
line), run PASSES noop-sink passes (pass 0 discarded for codegen
warm-up) and print the min/spread; with --plans DIR also dump
``explain("formatted")`` of the query to ``DIR/<query>_<tag>.txt``.

Each query's plan construction and its noop write run under job groups
of their own, so next to min and spread the best pass is split into
``build_s``/``build_jobs`` (plan construction, including the Spark jobs
it launches eagerly) and ``exec_s``/``exec_jobs`` (the write). A tier
build is all construction.

Usage:
  python tools/perf_probe.py [--plans plans/r12 --tag before]
                             [--passes 3] [--top 25 | q_a q_b ...]

Keeps the bench methodology (warm shared tiers once per pass, noop
sink, min across passes) so numbers are comparable to bench.py's
evidence sidecar, without paying the full 249-query suite per
iteration.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_learning_practise_spark.plans.llm_pipeline import (  # noqa: E402
    reset_shared_caches,
    shared_tiers,
)
from flink_learning_practise_spark.registry import all_queries  # noqa: E402
from flink_learning_practise_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: --top N)")
    ap.add_argument("--top", type=int, default=0,
                    help="probe the N slowest from the last history line")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory for explain('formatted') dumps")
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = all_queries()
    names = list(args.names)
    if args.top:
        hist_path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_HISTORY.jsonl")
        with open(hist_path) as f:
            last = json.loads(f.readlines()[-1])
        ranked = sorted(last["queries"].items(), key=lambda kv: -kv[1])
        names += [n for n, _ in ranked[: args.top] if n in qs]
    if not names:
        ap.error("no queries named and --top not given")
    unknown = [n for n in names if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark(app_name="flp-perf-probe",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    # Warm the Arrow worker pool like bench.py does.
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long").write.mode("overwrite").format("noop").save()

    tiers = shared_tiers()
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    groups = itertools.count()

    def timed(fn, label: str) -> tuple[float, str, object]:
        group = f"probe-{next(groups)}"
        sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, group, out

    def jobs(group: str) -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def run_once(name: str) -> tuple[float, str, float, str]:
        build_s, build_g, df = timed(
            lambda: qs[name].fn(spark, sf_dir), f"probe:{name}:build")
        exec_s, exec_g, _ = timed(
            lambda: df.write.mode("overwrite").format("noop").save(),
            f"probe:{name}:exec")
        return build_s, build_g, exec_s, exec_g

    needed_tiers = {
        t: (b, cons) for t, (b, cons) in tiers.items()
        if any(n in cons for n in names)
    }
    # per pass: (build_s, build_jobs, exec_s, exec_jobs)
    samples: dict[str, list[tuple]] = {n: [] for n in names}
    tier_samples: dict[str, list[tuple]] = {t: [] for t in needed_tiers}
    for p in range(args.passes + 1):
        reset_shared_caches()
        pending = []
        for _t, (builder, _c) in needed_tiers.items():
            tb, tg, _ = timed(lambda: builder(spark, sf_dir), f"probe:{_t}")
            pending.append((tier_samples[_t], tb, tg, 0.0, None))
        for n in names:
            pending.append((samples[n], *run_once(n)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker fills from the listener bus; let it catch up
        bus.waitUntilEmpty(60_000)
        if p > 0:
            for out, bs, bg, es, eg in pending:
                out.append((bs, jobs(bg), es, jobs(eg) if eg else 0))

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for n in names:
            df = qs[n].fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans, f"{n}_{args.tag}.txt"), "w") as f:
                f.write(txt)

    print(f"{'min':>8} {'spread':>7} {'build_s':>8} {'build_jobs':>10} "
          f"{'exec_s':>8} {'exec_jobs':>9}  query   "
          f"(passes={args.passes}, sf={sf_dir}; split of the best pass)")
    total = 0.0
    rows = [(f"[tier] {t}", s) for t, s in tier_samples.items()]
    rows += [(n, samples[n]) for n in names]
    for label, s in rows:
        runs = [b + e for b, _bj, e, _ej in s]
        mn = min(runs)
        total += mn
        spread = (max(runs) - mn) / max(mn, 1e-9)
        b, bj, e, ej = s[runs.index(mn)]
        print(f"{mn:8.3f} {spread:7.2f} {b:8.3f} {bj:10d} {e:8.3f} {ej:9d}  "
              f"{label}  {[round(x, 3) for x in runs]}")
    print(f"{total:8.3f}          TOTAL (incl. tier builds)")
    spark.stop()


if __name__ == "__main__":
    main()
