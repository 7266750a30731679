"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"n_queries": N, "queries": {name: sec, ...}, "sf": ...}.  The
``queries`` map (3-decimal per-query mins) joined the line in round 13:
the driver's PERF comparison reads the stdout line only, so without it
per-query speedups came back empty every round (PERF_r12.json
``per_query: {}``) — and the r13 round brief names ``queries`` as part
of the expected contract.  History note: rounds 3 AND 4 produced
``parsed: null`` bench records because the then-driver tail-captured
only ~2,000 chars; the current pin (``tests/test_bench_contract.py``,
STDOUT_LINE_MAX) bounds the line at the live registry size instead of
excluding the map.  Full-precision per-query samples still live in the
``BENCH_EVIDENCE.json`` sidecar.

Contention-robust design (round-3, per VERDICT r02): a single best-of-N
loop per query cannot distinguish "code got slower" from "box was busy",
because transient machine load inflates consecutive samples of the SAME
query together.  Instead:

1. Pass 0 runs every query once and is DISCARDED — it pays the one-time
   Janino/codegen compile (seconds for HOF-heavy plans; round-1
   q_train_val_split reported 3.3 s vs ~0.3 s steady state).
2. Passes 1..P (default 2) each run ALL queries in order; per-query
   samples across passes are therefore separated by the full suite
   (~tens of seconds), decorrelating transient load spikes: a busy box
   inflates one pass, not both.
3. The reported per-query time is the MIN across passes; queries whose
   samples disagree by >50% get one extra targeted sample.
3b. (round 10) Before each pass a QUIET GATE samples whole-box busy
   from /proc/stat and waits — bounded by one shared 90 s budget per
   run, so the driver can never hang — for external busy to fall
   under 10%; the observed samples + waits are recorded in the
   evidence (``quiet_gates``). NOTE: the whole-run ``cpu_busy_frac``
   includes this process's own Spark bursts (~0.14 at sf0.1 on an
   otherwise idle box) — the gate samples, taken while Spark is idle,
   are the external-load signal. Tier builds that fail retry once
   (a transient pass-0 failure must not cost consumers their codegen
   warm-up); consumers of a tier that failed every pass are recorded
   in ``skipped`` so bench_compare reports them as skipped, never
   "removed".
3c. (round 11, VERDICT r10 ask #1) The three box-speed calibration
   probes (md5 / fsync / 256-task Spark shuffle aggregate) run once
   PER PASS,
   right after that pass's quiet gate — a single per-run sample could
   read "fast box" while the measured passes hit the slow window
   (r10: calib_spark 0.28 s on the round's slowest total).  Each
   query sample is then normalized by ITS OWN pass's spark-probe
   ratio (sample × ref/probe) and ``total_norm_sec`` — the sum of
   per-query normalized mins + normalized tier builds — lands in the
   evidence and history next to the raw total, so cross-round
   comparisons can quote a box-speed-adjusted number instead of
   arguing about host drift.
4. The evidence (per-query sample lists, per-pass wall times, 1-min
   load average before/after each pass, /proc/stat busy-CPU fraction)
   goes to a SIDECAR file ``BENCH_EVIDENCE.json`` next to this script —
   so a reader can attribute an inflated total to contention (high
   external load, wide spreads on untouched queries) vs a plan
   regression (a single query's min moved).  The stdout line stays
   TINY — ``{metric, value, unit, n_queries, sf}`` only (~120 bytes).

Timing uses a noop sink: full evaluation of every output column
(count() would let Catalyst prune unconsumed projections), zero driver
transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from flink_learning_practise_spark.plans.llm_pipeline import (
    reset_shared_caches,
    shared_tiers,
)
from flink_learning_practise_spark.registry import all_queries
from flink_learning_practise_spark.session import get_spark

PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
SPREAD_RERUN = 0.5  # extra sample when (max-min)/min exceeds this

# Load-aware pass gating (VERDICT r9 ask #1a): six same-code r9 runs
# spanned 122-225 s purely from 13-17% external CPU load, so before
# each pass bench samples whole-box busy and waits (bounded — never
# blocks the driver) for it to fall under the threshold.  The gate
# shares ONE wait budget across the whole run; when the budget is
# spent the pass runs anyway and the observed busy fractions land in
# the evidence sidecar so a reader can attribute an inflated pass.
QUIET_BUSY = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_BUSY", "0.10"))
QUIET_WAIT_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", "90"))

# Hard cap on the serialized stdout line; test_bench_contract.py
# asserts compact_line() stays under it at the live registry size.
# Raised 1800 → 16000 in round 13 when the driver contract added the
# per-query ``queries`` map to the line (VERDICT r12 ask #2) — the cap
# now bounds runaway growth (e.g. unrounded floats) rather than the
# old 2,000-char tail capture.
STDOUT_LINE_MAX = 16000

# Reference box-speed probe values (seconds), measured on this box at
# its fastest observed state — the anchors the per-pass normalization
# scales against. These are CONSTANTS of the comparison, not of the
# hardware: changing them rescales every normalized total identically,
# so cross-round ratios are unaffected. The spark anchor is the best
# IN-BENCH per-pass value of the r11 256-task shuffle probe (1.265 s,
# run 4 pass 3) — the probe reads ~1.09 s standalone on a freshly
# settled JVM, but inside a bench run (memo churn, GC pressure from
# 245 queries) its floor is ~1.26 s, and anchoring on a state the
# bench context never reaches would scale every normalized total
# below the all-time envelope. (The old map-only probe was
# JIT-bimodal and straggler-dominated, unusable as a normalizer.)
CALIB_REF = {"py": 1.07, "disk": 0.13, "spark": 1.26}


def _probe_min(probes: list[dict], key: str) -> float | None:
    """Best (min) probe value across passes — the box's demonstrated
    top speed this run; kept under the r10 field names so older
    bench_compare/history readers keep working."""
    vals = [p.get(key) for p in probes if p.get(key) is not None]
    return min(vals) if vals else None


def compact_line(timings: dict[str, float], sf: float | None,
                 n_errors: int = 0, extra_sec: float = 0.0) -> dict:
    """The ONLY payload bench prints to stdout.

    Round-13 driver contract change (VERDICT r12 ask #2, and the r13
    round brief spells the expected line as ``{"metric", "value",
    "unit", "queries", "sf"}``): the per-query seconds now RIDE the
    stdout line as a ``queries`` map, so the driver's PERF comparison
    can compute per-query deltas/geomeans instead of coming back empty
    (PERF_r12.json: ``per_query: {}``, geomean null). Values are
    rounded to 3 decimals to bound the line (~7 KB at 250 queries —
    pinned under STDOUT_LINE_MAX by test_bench_contract). This is an
    ADDITION only: every pre-existing field keeps its meaning, and the
    full-precision per-query data still lives in BENCH_EVIDENCE.json.
    ``extra_sec`` charges suite-level costs that belong to no single
    query (the shared tier checkpoint builds) into the total so the
    headline number stays honest while per-query mins stay warm-memo.
    """
    return {
        "metric": "query_wall_time_total",
        "value": round(sum(timings.values()) + extra_sec, 4),
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": n_errors,
        "queries": {n: round(t, 3) for n, t in sorted(timings.items())},
        "sf": sf,
    }


def _cpu_ticks() -> tuple[int, int] | None:
    """(busy, total) jiffies from /proc/stat, or None off-Linux."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle+iowait
        return sum(vals) - idle, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _loadavg() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def _busy_sample(window_sec: float = 1.0) -> float | None:
    """Whole-box busy-CPU fraction over a short window, or None
    off-Linux.  Sampled between passes while Spark is idle, so it
    measures EXTERNAL load (plus JVM background threads, ~0)."""
    a = _cpu_ticks()
    if a is None:
        return None
    time.sleep(window_sec)
    b = _cpu_ticks()
    if b is None or b[1] <= a[1]:
        return None
    return (b[0] - a[0]) / (b[1] - a[1])


def cpu_calibration() -> float | None:
    """Seconds to md5 a fixed 600 MB buffer — a single-core throughput
    probe for the box itself (round-10 finding: same-code totals
    drifted 192 → 264 s across one day with quiet gates, free memory
    and <1% steal, i.e. host-level slowdown invisible to guest
    counters). Recorded per run so cross-round totals can be
    NORMALIZED by measured box speed instead of argued about.
    ~1.1 s on this box at reference speed."""
    import hashlib

    try:
        buf = b"\x00" * (1 << 20)
        h = hashlib.md5()
        t0 = time.perf_counter()
        for _ in range(600):
            h.update(buf)
        return round(time.perf_counter() - t0, 3)
    except MemoryError:  # pragma: no cover - calibration is best-effort
        return None


def disk_calibration() -> float | None:
    """Seconds to write + fsync 64 MB to the Spark-local filesystem —
    the checkpoint/shuffle-spill path rides this device, and on a
    shared virtual disk a co-tenant's I/O shows up here long before it
    shows in CPU counters. ~0.13 s at reference speed."""
    path = "/tmp/_bench_calib_disk"
    try:
        buf = os.urandom(1 << 20)
        t0 = time.perf_counter()
        with open(path, "wb") as f:
            for _ in range(64):
                f.write(buf)
            f.flush()
            os.fsync(f.fileno())
        return round(time.perf_counter() - t0, 3)
    except OSError:  # pragma: no cover - calibration is best-effort
        return None
    finally:
        try:
            os.unlink(path)
        except OSError:
            pass


def spark_calibration(spark) -> float | None:
    """Seconds for a fixed 256-task shuffle aggregate (range 50M,
    groupBy id%997, 8 task waves) — the multi-core/JVM+shuffle
    companion of :func:`cpu_calibration`. Redesigned in r11: the old
    32-task map-only probe (range 50M × sum) had ~2× sample spread
    (one straggler task set the wall, and C2 kept re-warming across
    runs — r10 recorded 0.28 s and 1.35 s on the SAME box state),
    useless as a normalizer. Many small tasks amortize stragglers and
    the shuffle exercises the spill/disk path that actually drifted in
    r10 (+74% spark, +60% disk, CPU flat): measured spread 0.29
    across 8 samples vs 1.98 for the map-only form. Run AFTER codegen
    warm-up; ~1.1 s at the box's best state."""
    try:
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 256).selectExpr(
            "id % 997 AS k", "id AS v"
        ).groupBy("k").sum("v").collect()
        return round(time.perf_counter() - t0, 3)
    except Exception:  # pragma: no cover - best-effort  # noqa: BLE001
        return None


def quiet_gate(budget: list[float], threshold: float = QUIET_BUSY) -> dict:
    """Bounded wait for external CPU busy to fall under ``threshold``.

    ``budget`` is a one-element mutable wait budget (seconds) shared by
    every gate in the run — the TOTAL added wall time is capped at
    QUIET_WAIT_MAX regardless of pass count (plus one 1 s signal
    sample per pass, which runs even on a spent budget so the evidence
    always carries a load reading), so the driver can never hang on a
    permanently-busy box.  Sleeps AND re-check sampling windows both
    draw down the budget (advice r10: the 1 s samples were uncounted,
    so the stated 90 s cap understated worst-case added wall time by
    ~19 s).  Returns the observed busy samples + seconds waited for
    the evidence sidecar."""
    waited = 0.0
    hist: list[float | None] = []
    while True:
        s = _busy_sample()
        hist.append(None if s is None else round(s, 3))
        if len(hist) > 1:
            # every sample after the per-pass signal sample is part of
            # the wait loop — charge its 1 s window to the shared budget
            waited += 1.0
            budget[0] -= 1.0
        if s is None or s <= threshold or budget[0] <= 0:
            break
        step = min(5.0, budget[0])
        time.sleep(step)
        waited += step
        budget[0] -= step
    return {"busy": hist, "waited_sec": round(waited, 1)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Console progress bars are the other tail polluter besides WARNs —
    # one CR-spliced [Stage n] line per job x 214 queries x 3 passes.
    spark = get_spark(
        app_name="flp-spark-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # ERROR, not WARN (VERDICT r6 ask #5): the 6 allowlisted
    # bounded-frame window tiers each emit a "No Partition Defined"
    # WARN from WindowExec per pass, and at 214 queries x 3 passes
    # that flood was ~90% of the output tail the driver captures
    # around the JSON line.  Bench needs no WARNs: query failures are
    # caught and recorded in the evidence sidecar explicitly.
    spark.sparkContext.setLogLevel("ERROR")
    # Silence ONLY the DAGScheduler's "attempted to access non-existent
    # accumulator" ERROR flood (VERDICT r12 ask #7): when a pass's
    # reset_shared_caches() drops a localCheckpointed tier, the
    # ContextCleaner unregisters its SQL-metric accumulators while
    # straggler task completions are still in flight, and each late
    # completion logs a full stack trace — harmless (0 query errors;
    # failures surface as exceptions bench catches and records), but
    # dozens of them bury the stdout-adjacent JSON line and would mask
    # a REAL error in the driver's tail capture. Bench-session-only,
    # scoped to that one logger; best-effort across log4j2 API drift.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception:  # noqa: BLE001 - logging config is cosmetic
        pass

    qs = all_queries()
    # Warm the Python/Arrow worker pool once for the mapInPandas paths.
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    # Pay the spark probe's own codegen once so every per-pass probe
    # below measures steady-state JVM throughput, not Janino.
    spark_calibration(spark)

    def probe_triple() -> dict:
        """One box-speed reading of each probe (see the calibration
        docstrings). Run per PASS (VERDICT r10 ask #1): a single
        per-run sample can read "fast box" while the measured passes
        hit the slow window. The spark probe is min-of-2 and disk
        min-of-2 (fsync spikes) — a normalizer needs the pass's
        demonstrated BEST capacity, not one draw."""
        spark_s = [spark_calibration(spark) for _ in range(2)]
        disk_s = [disk_calibration() for _ in range(2)]
        spark_s = [v for v in spark_s if v is not None]
        disk_s = [v for v in disk_s if v is not None]
        return {
            "py": cpu_calibration(),
            "disk": min(disk_s) if disk_s else None,
            "spark": min(spark_s) if spark_s else None,
        }

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        df = qs[name].fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    names = list(qs)
    samples: dict[str, list[float]] = {n: [] for n in names}
    sample_pass: dict[str, list[int]] = {n: [] for n in names}
    pass_wall: list[float] = []
    load_points: list[float | None] = [_loadavg()]
    ticks0 = _cpu_ticks()

    errors: dict[str, str] = {}

    tiers = shared_tiers()
    tier_build_samples: dict[str, list[float]] = {t: [] for t in tiers}
    tier_build_pass: dict[str, list[int]] = {t: [] for t in tiers}
    quiet_budget = [QUIET_WAIT_MAX]  # shared across every gate
    gates: list[dict] = []
    probes_per_pass: list[dict] = []
    skipped_by_pass: dict[int, list[str]] = {}
    for p in range(PASSES + 1):  # pass 0 = compile warm-up, discarded
        gates.append(quiet_gate(quiet_budget))
        probes_per_pass.append(probe_triple())
        # re-pay every shared-tier build each pass, each timed as its
        # OWN line (r5 verdict ask): before the reset-per-pass +
        # explicit builds, checkpoint costs landed on whichever
        # consumer ran first in registry order, misattributing the
        # suite's most expensive stages. Now every consumer measures
        # against a warm memo and the build costs are explicit in the
        # evidence sidecar AND included in the stdout total.
        reset_shared_caches()
        cold_memo: set[str] = set()  # consumers of a failed tier build
        for tname, (builder, cons) in tiers.items():
            tb0 = time.perf_counter()
            try:
                builder(spark, sf_dir)  # eager localCheckpoint
            except Exception:  # noqa: BLE001
                # retry once (advice r9): a TRANSIENT pass-0 failure
                # would otherwise cost every consumer its codegen
                # warm-up, inflating their first counted sample with
                # Janino compile time
                tb0 = time.perf_counter()
                try:
                    builder(spark, sf_dir)
                except Exception as e:  # noqa: BLE001
                    errors.setdefault(f"_build:{tname}",
                                      f"{type(e).__name__}: {e}"[:300])
                    # a consumer running against a cold memo would pay
                    # the tier build inside its own timing,
                    # contradicting the warm-memo evidence contract
                    # (advice r8) — skip them for this pass (their
                    # earlier warm samples, if any, remain valid)
                    cold_memo.update(cons)
                    continue
            if p > 0:
                tier_build_samples[tname].append(time.perf_counter() - tb0)
                tier_build_pass[tname].append(p)
        if cold_memo:
            skipped_by_pass[p] = sorted(cold_memo)
        t0 = time.perf_counter()
        for n in names:
            if n in errors or n in cold_memo:
                continue
            # one failing query must not lose the whole run's JSON:
            # record the error, keep timing everything else.
            try:
                t = run_once(n)
            except Exception as e:  # noqa: BLE001
                errors[n] = f"{type(e).__name__}: {e}"[:300]
                continue
            if p > 0:
                samples[n].append(t)
                sample_pass[n].append(p)
        pass_wall.append(round(time.perf_counter() - t0, 2))
        load_points.append(_loadavg())

    samples = {n: s for n, s in samples.items() if s}
    # Consumers whose tier build failed in EVERY pass have no samples
    # and no error row of their own — record them explicitly so
    # bench_compare reports "skipped", not "removed" (advice r9).
    skipped = sorted(
        n for n in names if n not in samples and n not in errors
    )
    # Targeted re-sample for unstable queries (skip sub-0.3s noise floor).
    # The extra samples land outside the pass loop, so they get their
    # own probe triple (appended as the last probes_per_pass entry) for
    # the per-pass normalization below.
    extra_probe_idx: int | None = None
    for n, s in samples.items():
        if min(s) >= 0.3 and (max(s) - min(s)) / min(s) > SPREAD_RERUN:
            # a failed EXTRA sample is dropped silently: the query has
            # valid pass samples, and recording it in `errors` while
            # keeping its timing would break the "errors are excluded
            # from timings" contract.
            rewarm_failed = False
            for _tname, (builder, cons) in tiers.items():
                if n in cons:
                    # per-query samples are warm-memo by contract now
                    # (each build is its own timed line) — make sure
                    # the memo IS warm so the extra sample matches the
                    # pass samples
                    try:
                        builder(spark, sf_dir)
                    except Exception:  # noqa: BLE001
                        rewarm_failed = True
                        break
            if rewarm_failed:
                continue
            if extra_probe_idx is None:
                probes_per_pass.append(probe_triple())
                extra_probe_idx = len(probes_per_pass) - 1
            try:
                s.append(run_once(n))
            except Exception:  # noqa: BLE001
                continue
            sample_pass[n].append(extra_probe_idx)

    ticks1 = _cpu_ticks()
    busy_frac = None
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        busy_frac = round((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 3)

    timings = {n: round(min(s), 4) for n, s in samples.items()}
    spreads = {
        n: round((max(s) - min(s)) / max(min(s), 1e-9), 2)
        for n, s in samples.items()
    }
    tier_build_sec = {
        t: (round(min(s), 4) if s else None)
        for t, s in tier_build_samples.items()
    }

    # Probe-normalized timings (VERDICT r10 ask #1): scale every sample
    # by ITS OWN pass's spark-probe ratio (ref/observed) — the suite is
    # Spark-bound, so the shuffle probe is the speed proxy — then min
    # across passes. The ratio is clamped to [0.5, 2]: short queries
    # are dominated by fixed scheduling overhead that does NOT scale
    # with box drift, so extrapolating a >2× probe slowdown onto every
    # sample over-corrects (a 4× clamp produced normalized totals
    # BELOW the all-time envelope). Beyond the clamp the per-pass
    # probes in the evidence make the attribution case themselves;
    # the normalized total is a diagnostic, the raw total + min-
    # envelope stay the headline pair.
    def _ratio(pidx: int) -> float:
        probe = None
        if 0 <= pidx < len(probes_per_pass):
            probe = probes_per_pass[pidx].get("spark")
        if not probe or probe <= 0:
            return 1.0
        return min(2.0, max(0.5, CALIB_REF["spark"] / probe))

    timings_norm = {
        n: round(min(t * _ratio(pidx)
                     for t, pidx in zip(s, sample_pass[n])), 4)
        for n, s in samples.items()
    }
    tier_build_norm = {
        t: (round(min(v * _ratio(pidx)
                      for v, pidx in zip(s, tier_build_pass[t])), 4)
            if s else None)
        for t, s in tier_build_samples.items()
    }
    total_norm = round(
        sum(timings_norm.values())
        + sum(v or 0.0 for v in tier_build_norm.values()), 4)
    out = compact_line(timings, sf, n_errors=len(errors),
                       extra_sec=sum(v or 0.0 for v in tier_build_sec.values()))
    evidence = {
        **out,
        "queries": timings,
        "samples": {n: [round(x, 3) for x in s] for n, s in samples.items()},
        "spread": spreads,
        "max_spread": max(spreads.values()) if spreads else None,
        "passes": PASSES,
        "pass_wall_sec": pass_wall,  # [warmup, pass1, pass2, ...]
        "loadavg_1m": load_points,  # before warmup, after each pass
        "cpu_busy_frac": busy_frac,  # whole-box busy share during the run
        # per-pass quiet gates: external busy samples observed before
        # the pass started + seconds spent waiting for quiet (bounded
        # by QUIET_WAIT_MAX across the whole run)
        "quiet_gates": gates,
        "quiet_busy_threshold": QUIET_BUSY,
        # per-pass box-speed probes (r11: one triple per pass, plus an
        # extra triple if the targeted re-sample block ran) and the
        # back-compat mins across counted passes
        "probes_per_pass": probes_per_pass,
        "calib_py_sec": _probe_min(probes_per_pass, "py"),
        "calib_disk_sec": _probe_min(probes_per_pass, "disk"),
        "calib_spark_sec": _probe_min(probes_per_pass, "spark"),
        # probe-normalized totals: per-query samples scaled by their own
        # pass's spark-probe ratio vs CALIB_REF, then min across passes
        "total_norm_sec": total_norm,
        "queries_norm": timings_norm,
        "tier_build_norm": tier_build_norm,
        "errors": errors,  # queries that threw (excluded from timings)
        "skipped": skipped,  # no samples, no own error (failed tier)
        "skipped_by_pass": skipped_by_pass,
        # shared-tier accounting: these queries reuse checkpointed
        # tiers; each build is re-paid + TIMED once per pass (before
        # any consumer runs), so per-query mins are warm-memo and the
        # build costs are explicit here and included in the stdout total
        "shared_tiers": {
            tname: {
                "consumers": list(cons),
                "build_sec": tier_build_sec[tname],
                "build_samples": [
                    round(x, 3) for x in tier_build_samples[tname]
                ],
            }
            for tname, (_b, cons) in tiers.items()
        },
    }
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_EVIDENCE.json")
    try:
        with open(sidecar, "w") as f:
            json.dump(evidence, f, indent=1)
    except OSError as e:  # evidence is best-effort; the stdout line is the contract
        print(f"bench: could not write {sidecar}: {e}", file=sys.stderr)
    append_history(evidence)
    print(json.dumps(out))
    spark.stop()


def append_history(evidence: dict) -> None:
    """Append a compact per-query snapshot to the COMMITTED
    ``BENCH_HISTORY.jsonl`` — the sidecar is overwritten (and
    gitignored) every run, so until r9 no per-query timing survived
    between rounds and regressions could only be detected at the total
    level (r8 verdict, Performance section). One line per bench run,
    in file order (the driver's end-of-round snapshot commit picks the
    round's runs up); per-query values are the min-across-passes
    timings, rounded to 3 decimals to keep a 236-query line ~6 KB.
    Best-effort like the sidecar."""
    line = {
        "sf": evidence.get("sf"),
        "n_queries": evidence.get("n_queries"),
        "n_errors": evidence.get("n_errors"),
        "total_sec": evidence.get("value"),
        "max_spread": evidence.get("max_spread"),
        "loadavg_1m": evidence.get("loadavg_1m"),
        "cpu_busy_frac": evidence.get("cpu_busy_frac"),
        "skipped": evidence.get("skipped"),
        "calib_py_sec": evidence.get("calib_py_sec"),
        "calib_disk_sec": evidence.get("calib_disk_sec"),
        "calib_spark_sec": evidence.get("calib_spark_sec"),
        "total_norm_sec": evidence.get("total_norm_sec"),
        "probes_per_pass": evidence.get("probes_per_pass"),
        "tier_build_sec": {
            t: v.get("build_sec")
            for t, v in evidence.get("shared_tiers", {}).items()
        },
        "queries": {
            n: round(v, 3) for n, v in evidence.get("queries", {}).items()
        },
    }
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_HISTORY.jsonl")
    try:
        with open(path, "a") as f:
            f.write(json.dumps(line, sort_keys=True) + "\n")
    except OSError as e:
        print(f"bench: could not append {path}: {e}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
