"""Property-based tests (hypothesis) for the operators with the
subtlest semantics: as-of join (checked against pandas.merge_asof) and
interval join (checked against a brute-force pair scan). Random small
frames, deterministic example generation, Spark-friendly settings."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from flink_learning_practise_spark.operators.joins import asof_join, interval_join

EPOCH = dt.datetime(2024, 1, 1)


def ts(seconds: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=seconds)


events_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 120)),  # (key, ts_sec)
    min_size=1,
    max_size=12,
)
dims_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 120), st.integers(0, 999)),
    min_size=1,
    max_size=12,
)


@settings(deadline=None, max_examples=12, derandomize=True)
@given(events=events_strategy, dims=dims_strategy)
def test_asof_join_matches_pandas_merge_asof(spark, events, dims):
    left = spark.createDataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(events)], "eid long, k long, ets timestamp"
    )
    # unique (key, ts) on the right: as-of semantics with duplicate
    # versions at the same instant is undefined in merge_asof
    dedup = {(k, s): v for k, s, v in dims}
    right = spark.createDataFrame(
        [(k, ts(s), v) for (k, s), v in dedup.items()], "k long, dts timestamp, v long"
    )
    got = {
        (r.eid): r.v
        for r in asof_join(left, right, "k", "ets", "dts", ["v"]).collect()
    }
    lpdf = left.toPandas().sort_values("ets", kind="stable")
    rpdf = right.toPandas().sort_values("dts", kind="stable")
    expect = pd.merge_asof(
        lpdf, rpdf, left_on="ets", right_on="dts", by="k", direction="backward"
    )
    for _, row in expect.iterrows():
        want = None if pd.isna(row.v) else int(row.v)
        assert got[row.eid] == want


@settings(deadline=None, max_examples=12, derandomize=True)
@given(events=events_strategy, dims=dims_strategy)
def test_interval_join_matches_bruteforce(spark, events, dims):
    lower, upper = 10, 5  # right_ts in [left_ts - 10s, left_ts + 5s]
    left = spark.createDataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(events)], "eid long, k long, ets timestamp"
    )
    right = spark.createDataFrame(
        [(j, k, ts(s)) for j, (k, s, _) in enumerate(dims)], "rid long, k long, rts timestamp"
    )
    out = interval_join(
        left, right, "ets", "rts", f"{lower} seconds", f"{upper} seconds", [("k", "k")]
    )
    got = {(r.eid, r.rid) for r in out.collect()}
    want = {
        (i, j)
        for i, (lk, ls) in enumerate(events)
        for j, (rk, rs, _) in enumerate(dims)
        if lk == rk and ls - lower <= rs <= ls + upper
    }
    assert got == want


def _funnel_reference(rows, steps, gap_s):
    """Brute-force skip-till-next-match matcher (pure Python): for each
    start event, bind each later step to the EARLIEST event of its type
    strictly later in (ts, id) order; fail if that event is out of gap."""
    matches = set()
    by_user: dict = {}
    for eid, user, s, typ in rows:
        by_user.setdefault(user, []).append((s, eid, typ))
    for user, seq in by_user.items():
        seq.sort()
        for idx, (s0, id0, t0) in enumerate(seq):
            if t0 != steps[0]:
                continue
            bound = [(s0, id0)]
            pos = idx
            ok = True
            for step in steps[1:]:
                nxt = next(
                    (
                        (s, i)
                        for s, i, t in seq[pos + 1 :]
                        if t == step
                    ),
                    None,
                )
                if nxt is None or nxt[0] - bound[-1][0] > gap_s:
                    ok = False
                    break
                pos = seq.index((nxt[0], nxt[1], step), pos + 1)
                bound.append(nxt)
            if ok:
                matches.add((user, *[i for _, i in bound]))
    return matches


funnel_events = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 60),  # ts seconds
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=1,
    max_size=16,
)


@settings(deadline=None, max_examples=12, derandomize=True)
@given(events=funnel_events)
def test_funnel_matches_bruteforce(spark, events):
    from flink_learning_practise_spark.operators.cep import funnel

    rows = [(i, u, s, t) for i, (u, s, t) in enumerate(events)]
    df = spark.createDataFrame(
        [(eid, ts(s), u, t) for eid, u, s, t in rows],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = funnel(df, ["a", "b", "c"], "20 seconds")
    got = {
        (r.user_id, r.step1_id, r.step2_id, r.step3_id) for r in out.collect()
    }
    assert got == _funnel_reference(rows, ["a", "b", "c"], 20)


# ---------------------------------------------------------------------------
# curation-tier properties

words_strategy = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]),
    min_size=1,
    max_size=12,
)
corpus_strategy = st.lists(
    st.tuples(st.integers(0, 1), words_strategy),  # (shard, words)
    min_size=1,
    max_size=8,
)


@settings(deadline=None, max_examples=10, derandomize=True)
@given(corpus=corpus_strategy, capacity=st.integers(2, 10))
def test_pack_sequences_conserves_tokens_and_stays_contiguous(spark, corpus, capacity):
    from flink_learning_practise_spark.operators.curation import pack_sequences

    rows = [(i, " ".join(w), f"s{shard}") for i, (shard, w) in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    packs = pack_sequences(df, "doc_id", "text", "source", capacity=capacity).collect()
    # conservation: every doc lands in exactly one pack, all tokens kept
    assert sum(r["n_docs"] for r in packs) == len(rows)
    assert sum(r["n_tokens"] for r in packs) == sum(len(w) for _, w in corpus)
    # contiguity per shard: id ranges of consecutive packs don't overlap
    by_shard: dict[str, list] = {}
    for r in packs:
        by_shard.setdefault(r["source"], []).append(r)
    for shard_packs in by_shard.values():
        shard_packs.sort(key=lambda r: r["pack_id"])
        for a, b in zip(shard_packs, shard_packs[1:]):
            assert a["last_doc"] < b["first_doc"]


pii_bits = st.lists(
    st.sampled_from(
        [
            "plain", "words", "here",
            "a@b.com", "x.y@mail.org",
            "555-123-4567",
            "10.0.0.1",
            "12345", "7",
        ]
    ),
    min_size=1,
    max_size=10,
)


@settings(deadline=None, max_examples=10, derandomize=True)
@given(bits=pii_bits)
def test_scrub_pii_is_idempotent_and_counts_match(spark, bits):
    from flink_learning_practise_spark.operators.curation import scrub_pii

    text = " ".join(bits)
    df = spark.createDataFrame([(1, text)], "event_id long, props string")
    once = scrub_pii(df, "event_id", "props").collect()[0]
    # counts match the planted items (each bit is a whole token)
    assert once["n_email"] == sum("@" in b for b in bits)
    assert once["n_phone"] == sum(b == "555-123-4567" for b in bits)
    assert once["n_ip"] == sum(b == "10.0.0.1" for b in bits)
    assert once["n_num"] == sum(b in ("12345", "7") for b in bits)
    # idempotence: scrubbing scrubbed text changes nothing
    df2 = spark.createDataFrame([(1, once["scrubbed"])], "event_id long, props string")
    twice = scrub_pii(df2, "event_id", "props").collect()[0]
    assert twice["scrubbed"] == once["scrubbed"]
    assert all(twice[f"n_{c}"] == 0 for c in ("email", "phone", "ip", "num"))


delta_corpus = st.lists(
    st.tuples(st.booleans(), words_strategy),  # (in_snapshot, words)
    min_size=1,
    max_size=10,
)


@settings(deadline=None, max_examples=10, derandomize=True)
@given(corpus=delta_corpus)
def test_incremental_dedup_partitions_the_delta(spark, corpus):
    from flink_learning_practise_spark.operators.curation import incremental_dedup

    rows = [(i * 2 + (0 if snap else 1), " ".join(w)) for i, (snap, w) in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = incremental_dedup(df, "doc_id", "text", F.col("doc_id") % 2 == 0).collect()
    texts = {i: t for i, t in rows}
    snap_texts = {t for i, t in rows if i % 2 == 0}
    got_ids = [r["doc_id"] for r in out]
    # survivors are delta-only, novel vs snapshot, unique, and min-id
    assert all(i % 2 == 1 for i in got_ids)
    assert all(texts[i] not in snap_texts for i in got_ids)
    assert len({texts[i] for i in got_ids}) == len(got_ids)
    for i in got_ids:
        assert i == min(
            j for j, t in rows if j % 2 == 1 and t == texts[i]
        )
    # completeness: every novel delta text is represented
    novel = {t for j, t in rows if j % 2 == 1 and t not in snap_texts}
    assert {texts[i] for i in got_ids} == novel


# ---------------------------------------------------------------------------
# MERGE INTO analog (operators/cdc.py): random changelogs vs a
# brute-force sequential replay

changelog_strategy = st.lists(
    st.tuples(
        st.integers(0, 4),      # key
        st.integers(0, 30),     # ts
        st.booleans(),          # tombstone?
    ),
    min_size=0,
    max_size=16,
)


@given(snap=changelog_strategy, chg=changelog_strategy)
@settings(max_examples=20, deadline=None)
def test_merge_snapshot_matches_bruteforce_replay(spark, snap, chg):
    from flink_learning_practise_spark.operators.cdc import merge_snapshot

    # ids = global arrival order; snapshot rows are upserts by contract
    snap_rows = [
        (k, i, t, f"v{i}") for i, (k, t, _d) in enumerate(snap)
    ]
    base = len(snap_rows)
    chg_rows = [
        (k, base + i, t, f"v{base + i}", d) for i, (k, t, d) in enumerate(chg)
    ]
    # the snapshot itself must be a compacted view: keep latest per key
    latest = {}
    for k, i, t, v in snap_rows:
        if k not in latest or (t, i) > (latest[k][2], latest[k][1]):
            latest[k] = (k, i, t, v)
    snap_rows = list(latest.values())

    sdf = spark.createDataFrame(
        snap_rows or [(None, None, None, None)],
        "k int, id int, ts int, v string",
    ).filter(F.col("k").isNotNull())
    cdf = spark.createDataFrame(
        chg_rows or [(None, None, None, None, None)],
        "k int, id int, ts int, v string, del boolean",
    ).filter(F.col("k").isNotNull())

    got = {
        (r.k, r.id): r.v
        for r in merge_snapshot(sdf, cdf, ["k"], "ts", "id", "del").collect()
    }

    # brute force: latest (ts, id) version wins per key; delete wins drop it
    versions = {}
    for k, i, t, v in snap_rows:
        versions.setdefault(k, []).append((t, i, v, False))
    for k, i, t, v, d in chg_rows:
        versions.setdefault(k, []).append((t, i, v, d))
    want = {}
    for k, vs in versions.items():
        t, i, v, d = max(vs)
        if not d:
            want[(k, i)] = v
    assert got == want


# ---------------------------------------------------------------------------
# Round-6 primitives: distributed prefix sum, 2-D skyline, Mann-Kendall
# and k-core — each checked against a brute-force single-node replay on
# random inputs (ties and degenerate shapes included by construction).

weighted_rows = st.lists(
    st.tuples(
        st.integers(0, 2),    # key
        st.integers(0, 8),    # order value (heavy ties)
        st.integers(1, 9),    # weight
    ),
    min_size=1,
    max_size=40,
)


@settings(deadline=None, max_examples=10, derandomize=True)
@given(rows=weighted_rows, parts=st.integers(2, 6))
def test_keyed_prefix_sum_crossing_invariant(spark, rows, parts):
    """For ANY threshold t ∈ (0, W], exactly one order-value group
    crosses it, and it is the smallest x with cumulative weight ≥ t —
    the consumer contract of every crossing-based percentile."""
    from flink_learning_practise_spark.operators.transforms import (
        keyed_prefix_sum_with_totals,
    )

    df = spark.createDataFrame(rows, "k int, x int, w int")
    cum, tot = keyed_prefix_sum_with_totals(
        df, ["k"], ["x"], "w", out_col="cw", partitions=parts
    )
    data = [(r.k, r.x, r.w, float(r.cw)) for r in cum.collect()]
    totals = {r.k: float(r.total) for r in tot.collect()}
    for k in {r[0] for r in rows}:
        W = sum(w for kk, _, w in rows if kk == k)
        assert totals[k] == W
        t = W / 2 + 0.25  # strictly inside a weight step
        crossing = sorted(
            x for kk, x, w, cw in data if kk == k and cw >= t and cw - w < t
        )
        want = min(
            x
            for x in {xx for kk, xx, _ in rows if kk == k}
            if sum(w for kk2, x2, w in rows if kk2 == k and x2 <= x) >= t
        )
        assert crossing and crossing[0] == want


skyline_rows = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6)),
    min_size=1,
    max_size=30,
)


@settings(deadline=None, max_examples=10, derandomize=True)
@given(pts=skyline_rows, parts=st.integers(2, 5))
def test_skyline_2d_dominance_property(spark, pts, parts):
    from flink_learning_practise_spark.operators.transforms import skyline_2d

    rows = [(i, float(x), y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x double, y int")
    got = {r.id for r in skyline_2d(df, "x", "y", partitions=parts).collect()}
    exp = {
        i
        for i, x, y in rows
        if not any(
            x2 <= x and y2 >= y and (x2 < x or y2 > y) for _, x2, y2 in rows
        )
    }
    assert got == exp


mk_series = st.lists(
    st.one_of(st.none(), st.integers(0, 5)), min_size=1, max_size=25
)


@settings(deadline=None, max_examples=10, derandomize=True)
@given(vals=mk_series)
def test_mann_kendall_pairwise_property(spark, vals):
    from flink_learning_practise_spark.operators.transforms import mann_kendall_s

    rows = [
        (1, i, float(v) if v is not None else None) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k long, i long, v double")
    out = mann_kendall_s(df, ["k"], ["i"], "v").collect()
    clean = [v for v in vals if v is not None]
    if not clean:
        assert not out
        return
    s = sum(
        (clean[j] > clean[i]) - (clean[j] < clean[i])
        for i in range(len(clean))
        for j in range(i + 1, len(clean))
    )
    assert [(r.n, r.s_stat) for r in out] == [(len(clean), s)]


graph_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=40,
)


@settings(deadline=None, max_examples=8, derandomize=True)
@given(raw=graph_edges, k=st.integers(2, 3))
def test_k_core_peeling_property(spark, raw, k):
    from flink_learning_practise_spark.operators.graph import k_core

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    if not edges:
        return
    df = spark.createDataFrame(edges, "u long, v long")
    got = {(r.id, r.degree) for r in k_core(df, k=k, rounds=13).collect()}
    ref = set(edges)
    while True:
        deg: dict = {}
        for u, v in ref:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {x for x, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in ref if u in keep and v in keep}
        if nxt == ref:
            break
        ref = nxt
    deg = {}
    for u, v in ref:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    assert got == set(deg.items())


# ---------------------------------------------------------------------------
# #183 burst-rate RANGE frame vs a brute-force O(n²) sweep


burst_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 200)),  # (user, ts_sec)
    min_size=1,
    max_size=25,
)


@given(evs=burst_strategy)
@settings(max_examples=12, deadline=None)
def test_burst_rate_matches_bruteforce(spark, evs):
    """max count inside any trailing 60-s window, per user — the RANGE
    frame must agree with the quadratic definition max_i |{j : t_i-59
    <= t_j <= t_i}| (including duplicate timestamps as frame peers)."""
    import collections

    from flink_learning_practise_spark.plans.events_analytics import (
        BURST_WINDOW_SEC,
    )
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(u, s) for u, s in evs], "user_id long, _sec long"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_sec")
        .rangeBetween(-(BURST_WINDOW_SEC - 1), 0)
    )
    got = {
        r.user_id: r.mb
        for r in df.withColumn("_b", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(F.max("_b").alias("mb"))
        .collect()
    }
    by_user = collections.defaultdict(list)
    for u, s in evs:
        by_user[u].append(s)
    for u, ss in by_user.items():
        want = max(
            sum(1 for t in ss if x - (BURST_WINDOW_SEC - 1) <= t <= x)
            for x in ss
        )
        assert got[u] == want


# ---------------------------------------------------------------------------
# #173 entropy closed form vs math.log recomputation


entropy_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 4)),  # (user, type)
    min_size=1,
    max_size=30,
)


@given(evs=entropy_strategy)
@settings(max_examples=12, deadline=None)
def test_user_entropy_matches_math(spark, evs):
    """H = ln(n) − Σc·ln(c)/n with the round@9/decimal discipline must
    stay within quantization error of the textbook −Σp·ln(p)."""
    import collections
    import math

    df = spark.createDataFrame(
        [(u, str(t)) for u, t in evs], "user_id long, event_type string"
    )
    cell = df.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("_c")
    )
    term = cell.select(
        "user_id",
        "_c",
        (
            F.col("_c").cast("decimal(18,0)")
            * F.round(F.log(F.col("_c").cast("double")), 9).cast("decimal(18,9)")
        ).alias("_clnc"),
    )
    agg = term.groupBy("user_id").agg(
        F.sum("_c").alias("n"), F.sum("_clnc").alias("_s")
    )
    h = F.round(F.log(F.col("n").cast("double")), 9) - F.col("_s").cast(
        "double"
    ) / F.col("n")
    got = {
        r.user_id: r.h
        for r in agg.select(
            "user_id", (F.floor(h * 1e6 + F.lit(0.5)) / 1e6).alias("h")
        ).collect()
    }
    counts = collections.defaultdict(collections.Counter)
    for u, t in evs:
        counts[u][t] += 1
    for u, cnt in counts.items():
        n = sum(cnt.values())
        want = -sum(c / n * math.log(c / n) for c in cnt.values())
        assert abs(got[u] - want) < 1e-5
        assert got[u] >= -1e-9  # entropy is nonnegative


# ---------------------------------------------------------------------------
# global_ntile_multi (round 7): boundary-tuple multi-measure ntile —
# the stacked single-exchange path must equal a brute-force
# sorted-assignment for arbitrary data/bucket shapes.

ntile_rows = st.lists(
    st.tuples(st.integers(-50, 50), st.integers(-9, 9)),  # (a, b) measures
    min_size=1,
    max_size=40,
)


def _brute_ntile(vals: list[tuple], n_buckets: int) -> dict:
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    q, m = divmod(len(vals), n_buckets)
    out = {}
    pos = 0
    for b in range(1, n_buckets + 1):
        size = q + (1 if b <= m else 0)
        for _ in range(size):
            if pos < len(order):
                out[order[pos]] = b
                pos += 1
    return out


@settings(deadline=None, max_examples=10, derandomize=True)
@given(rows=ntile_rows, nb=st.integers(2, 9))
def test_global_ntile_multi_property(spark, rows, nb):
    from flink_learning_practise_spark.operators.transforms import (
        global_ntile_multi,
    )

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, a long, b long"
    )
    want_a = _brute_ntile([(a, i) for i, (a, _) in enumerate(rows)], nb)
    want_b = _brute_ntile([(b, i) for i, (_, b) in enumerate(rows)], nb)
    got = {
        r.id: (r.sa, r.sb)
        for r in global_ntile_multi(
            df, nb, [(["a", "id"], "sa"), (["b", "id"], "sb")]
        ).collect()
    }
    assert got == {i: (want_a[i], want_b[i]) for i in range(len(rows))}


# ---------------------------------------------------------------------------
# capped_wedges (round 7): wedge set must equal brute force under any
# cap, restricted to middles with degree <= cap.

wedge_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
    unique=True,
)


@settings(deadline=None, max_examples=10, derandomize=True)
@given(edges=wedge_edges, cap=st.integers(1, 12))
def test_capped_wedges_property(spark, edges, cap):
    from flink_learning_practise_spark.operators.graph import capped_wedges

    # canonical undirected pair list (u < v, deduped) — the pair-tier shape
    pairs = sorted({(min(a, b), max(a, b)) for a, b in edges})
    df = spark.createDataFrame(pairs, "u long, v long")
    w, _ = capped_wedges(df, "u", "v", deg_cap=cap)
    got = sorted((r.w, r.u, r.v) for r in w.collect())

    nbr: dict[int, set] = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    want = sorted(
        (m, x, y)
        for m, ns in nbr.items()
        if len(ns) <= cap
        for x in ns
        for y in ns
        if x < y
    )
    assert got == want
