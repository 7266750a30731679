"""Invariant tests for the late-round analytics additions: CCNet-style
boilerplate stripping, TF-IDF keyword extraction, weekly retention
cohorts, and the Q4/Q13/Q18/Q22 relational shapes (their value parity
is covered by test_oracle_parity; these pin the semantic invariants an
oracle hash can't express)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_learning_practise_spark.datasets import load
from flink_learning_practise_spark.operators.curation import (
    BOILERPLATE_SEG_WORDS,
    boilerplate_strip,
)
from flink_learning_practise_spark.operators.text import normalize, tfidf_topk
from flink_learning_practise_spark.plans.events_analytics import retention_cohorts
from flink_learning_practise_spark.registry import all_queries


class TestBoilerplateStrip:
    def test_segment_accounting_and_clean_docs(self, spark, sf_medium):
        docs = load(spark, sf_medium, "documents")
        out = boilerplate_strip(docs, "doc_id", "text")
        joined = out.join(
            docs.select("doc_id", normalize(F.col("text")).alias("norm")), "doc_id"
        ).collect()
        assert len(joined) == docs.count()  # no doc lost, even all-boilerplate
        S = BOILERPLATE_SEG_WORDS
        stripped_any = 0
        for r in joined:
            n_tokens = len(r["norm"].split(" "))
            expect_segs = max(-(-n_tokens // S), 1)
            assert r["n_segments"] == expect_segs
            assert 0 <= r["n_boilerplate"] <= r["n_segments"]
            if r["n_boilerplate"] == 0:
                # nothing stripped => reassembly must be lossless
                assert r["cleaned"] == r["norm"]
            else:
                stripped_any += 1
                assert len(r["cleaned"]) < len(r["norm"])
        assert stripped_any > 0  # threshold splits the corpus non-trivially

    def test_cleaned_preserves_order(self, spark, sf_medium):
        docs = load(spark, sf_medium, "documents")
        out = boilerplate_strip(docs, "doc_id", "text")
        row = (
            out.join(docs.select("doc_id", normalize(F.col("text")).alias("norm")), "doc_id")
            .filter((F.col("n_boilerplate") > 0) & (F.col("cleaned") != ""))
            .orderBy("doc_id")
            .first()
        )
        # kept segments appear in original order: cleaned tokens are a
        # subsequence of the original tokens
        orig = row["norm"].split(" ")
        it = iter(orig)
        assert all(tok in it for tok in row["cleaned"].split(" "))


class TestTfidfTopk:
    def test_ranks_contiguous_scores_monotone(self, spark, sf_medium):
        docs = load(spark, sf_medium, "documents")
        out = tfidf_topk(docs, "doc_id", "text", k=5).collect()
        by_doc: dict[int, list] = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert len(by_doc) == docs.count()
        for rows in by_doc.values():
            rows.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
            scores = [r["score"] for r in rows]
            assert scores == sorted(scores, reverse=True)
            assert all(r["tf"] >= 1 and r["score"] >= 0.0 for r in rows)

    def test_corpus_wide_token_scores_zero(self, spark):
        # a token present in EVERY doc has idf ln(N/N)=0 and can never
        # out-rank a discriminating token
        df = spark.createDataFrame(
            [(1, "common alpha alpha"), (2, "common beta"), (3, "common gamma")],
            ["doc_id", "text"],
        )
        out = {(r["doc_id"], r["token"]): r for r in tfidf_topk(df, "doc_id", "text", k=3).collect()}
        assert out[(1, "common")]["score"] == 0.0
        assert out[(1, "alpha")]["rank"] == 1  # tf=2, df=1 dominates


class TestRetentionCohorts:
    def test_offset_zero_counts_cohort_size(self, spark, sf_medium):
        rows = retention_cohorts(spark, sf_medium).collect()
        assert all(r["week_offset"] >= 0 for r in rows)
        # every user is active in their own cohort week, so the
        # offset-0 cell IS the cohort size and the offset-0 total is
        # the distinct-user count
        ev = load(spark, sf_medium, "events")
        n_users = ev.select("user_id").distinct().count()
        zero = [r for r in rows if r["week_offset"] == 0]
        assert sum(r["active_users"] for r in zero) == n_users
        for r in rows:  # no later cell can exceed its cohort's size
            cohort = next(
                z["active_users"] for z in zero if z["cohort_week"] == r["cohort_week"]
            )
            assert r["active_users"] <= cohort


class TestRelationalShapes:
    def test_semi_join_never_multiplies(self, spark, sf_medium):
        """q_order_priority_check: the EXISTS must not duplicate orders
        with many returned lines — total counted orders <= orders in
        the date window."""
        q = all_queries()["q_order_priority_check"].fn(spark, sf_medium)
        total = sum(r["order_count"] for r in q.collect())
        orders = load(spark, sf_medium, "orders").filter(
            (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
        )
        assert 0 < total <= orders.count()

    def test_outer_join_keeps_zero_order_customers(self, spark, sf_medium):
        """q_customer_order_distribution must account for EVERY
        customer exactly once (the point of the outer join)."""
        q = all_queries()["q_customer_order_distribution"].fn(spark, sf_medium)
        n_cust = load(spark, sf_medium, "customer").count()
        assert sum(r["custdist"] for r in q.collect()) == n_cust

    def test_dormant_threshold_is_exact(self, spark, sf_medium):
        """q_dormant_high_value: result must equal a brute-force
        recomputation with driver-side decimal arithmetic."""
        import decimal

        cust = load(spark, sf_medium, "customer").collect()
        orders = load(spark, sf_medium, "orders").collect()
        recent = {r["o_custkey"] for r in orders if str(r["o_orderdate"]) >= "1998-01-01"}
        pos = [decimal.Decimal(str(r["c_acctbal"])) for r in cust if r["c_acctbal"] > 0]
        tot, cnt = sum(pos), len(pos)
        expect = sum(
            1
            for r in cust
            if decimal.Decimal(str(r["c_acctbal"])) * cnt > tot
            and r["c_custkey"] not in recent
        )
        q = all_queries()["q_dormant_high_value"].fn(spark, sf_medium)
        assert sum(r["numcust"] for r in q.collect()) == expect


class TestSortedNeighborhood:
    def test_subset_of_exact_tier_with_equal_values(self, spark, sf_medium):
        """SNM candidates are exact-verified, so its pairs must be a
        subset of the inverted-index tier with identical jaccard; on
        this corpus the two passes find every τ-pair (exact dups sort
        adjacent), so the tiers coincide."""
        from flink_learning_practise_spark.registry import all_queries

        qs = all_queries()
        snm = {
            (r.id_a, r.id_b): r.jaccard
            for r in qs["q_dedup_snm"].fn(spark, sf_medium).collect()
        }
        full = {
            (r.id_a, r.id_b): r.jaccard
            for r in qs["q_dedup_ngram_jaccard"].fn(spark, sf_medium).collect()
        }
        assert snm and set(snm) <= set(full)
        assert all(abs(snm[p] - full[p]) < 1e-12 for p in snm)
        assert len(snm) / len(full) >= 0.9  # multi-pass recall floor


def test_merge_snapshot_tombstones_and_idempotence(spark):
    """MERGE semantics on handcrafted frames: latest-wins upsert,
    tombstone removal only when the delete IS the latest version, and
    idempotence (re-merging the same changelog changes nothing)."""
    from flink_learning_practise_spark.operators.cdc import merge_snapshot

    snap_rows = [(1, 10, 100, "a"), (2, 11, 100, "b"), (3, 12, 100, "c")]
    snap = spark.createDataFrame(snap_rows, "k long, id long, ts long, v string")
    chg = spark.createDataFrame(
        [
            (1, 20, 200, "a2", False),   # plain upsert
            (2, 21, 200, None, True),    # tombstone, latest -> key 2 gone
            (3, 22, 50, None, True),     # STALE tombstone -> key 3 stays
            (4, 23, 200, "d", False),    # brand-new key
            (4, 24, 200, "d2", False),   # same ts -> higher id wins
        ],
        "k long, id long, ts long, v string, del boolean",
    )
    out = merge_snapshot(snap, chg, ["k"], "ts", "id", "del")
    got = {(r.k, r.id, r.v) for r in out.collect()}
    assert got == {(1, 20, "a2"), (3, 12, "c"), (4, 24, "d2")}

    # idempotence: merging the changelog again onto the result is a no-op
    again = merge_snapshot(out, chg, ["k"], "ts", "id", "del")
    assert {(r.k, r.id, r.v) for r in again.collect()} == got


def test_heavy_hitter_exact_output(spark, sf_medium):
    """The MG-candidates + exact-filter pipeline must return EXACTLY
    {token: freq > n/(k+1)} with exact counts — the deterministic
    contract that makes the query oracle-checkable.  Verified for two
    k values and under a repartition (partition-independence)."""
    from flink_learning_practise_spark.datasets import load
    from flink_learning_practise_spark.operators.text import heavy_hitter_tokens

    docs = load(spark, sf_medium, "documents")
    exact = {
        r.token: r.n
        for r in docs.selectExpr(
            "explode(split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' ')) AS token"
        )
        .filter("token <> ''")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(exact.values())
    for k in (8, 64):
        want = {(t, c) for t, c in exact.items() if c * (k + 1) > n_total}
        got = {
            (r.token, r.cnt)
            for r in heavy_hitter_tokens(docs.repartition(7), "text", k=k).collect()
        }
        assert got == want, f"k={k}: {got ^ want}"
    assert got  # non-vacuous at k=64 on this corpus


def test_global_rank_and_ntile_match_window_semantics(spark):
    """Distributed global rank/ntile must agree exactly with the
    single-partition window built-ins they replace — also on an empty
    and a one-row frame, and with more than 300 non-empty range
    partitions (a per-partition CASE chain of offsets overflowed the
    column converter's stack there)."""
    from pyspark.sql import Window

    from flink_learning_practise_spark.operators.transforms import (
        global_ntile,
        global_rank,
    )

    w = Window.orderBy("score", "id")
    for n, parts in ((1000, None), (4000, 400), (0, None), (1, None)):
        df = spark.range(n).selectExpr(
            "pmod(hash(id), 97) AS score", "id"
        )
        if parts:
            nonempty = (
                df.repartitionByRange(parts, "score", "id")
                .select(F.spark_partition_id())
                .distinct()
                .count()
            )
            assert nonempty > 300, nonempty
        got = {
            r.id: r.global_rank
            for r in global_rank(df, ["score", "id"], partitions=parts).collect()
        }
        want = {
            r.id: r.rn
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        assert got == want, (n, parts)

        for b in (7, 10, 1500):  # incl. more buckets than rows
            gb = {
                r.id: r.bucket
                for r in global_ntile(df, b, ["score", "id"]).collect()
            }
            wb = {
                r.id: r.nt
                for r in df.withColumn("nt", F.ntile(b).over(w)).collect()
            }
            assert gb == wb, f"n={n} ntile({b}) mismatch"


def test_global_ntile_multi_matches_window_ntile(spark):
    """Boundary-tuple multi-ntile (zero exchanges of the scored frame)
    must agree exactly with ntile() OVER for every measure, including
    more buckets than rows and an empty and a one-row frame. Without
    skip_nulls, a NULL measure raises instead of mis-bucketing."""
    import pytest
    from pyspark.sql import Window

    from flink_learning_practise_spark.operators.transforms import (
        global_ntile_multi,
    )

    for n in (500, 0, 1):
        df = spark.range(n).selectExpr(
            "pmod(hash(id), 53) AS a",
            "pmod(hash(id * 7 + 1), 11) AS b",
            "id",
        )
        for nb in (4, 7, 800):  # incl. more buckets than rows
            got = {
                r.id: (r.sa, r.sb)
                for r in global_ntile_multi(
                    df, nb, [(["a", "id"], "sa"), (["b", "id"], "sb")]
                ).collect()
            }
            want = {
                r.id: (r.wa, r.wb)
                for r in df.withColumn(
                    "wa", F.ntile(nb).over(Window.orderBy("a", "id"))
                ).withColumn(
                    "wb", F.ntile(nb).over(Window.orderBy("b", "id"))
                ).collect()
            }
            assert got == want, f"n={n} multi-ntile({nb}) mismatch"

    one_null = spark.range(200).selectExpr(
        "IF(id = 117, NULL, pmod(hash(id), 53)) AS a", "id"
    )
    with pytest.raises(ValueError, match="NULL"):
        global_ntile_multi(one_null, 4, [(["a", "id"], "sa")])


def test_ewma_matches_pure_python_fold(spark):
    """The JVM array-fold EWMA must equal a plain Python recursion with
    the same quantization, for random series across multiple keys
    (hypothesis-style sweep, fixed seeds for reproducibility)."""
    import math
    import random

    from flink_learning_practise_spark.operators.transforms import ewma

    rng = random.Random(42)
    rows = []
    for key in range(7):
        for i in range(rng.randint(1, 40)):
            rows.append((key, i, round(rng.uniform(-100, 100), 4)))
    df = spark.createDataFrame(rows, "k long, i long, v double")
    got = {
        (r.k, r.i): r.ewma
        for r in ewma(df, ["k"], ["i"], "v", alpha=0.25).collect()
    }

    def q9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    series: dict[int, list[tuple[int, float]]] = {}
    for k, i, v in rows:
        series.setdefault(k, []).append((i, v))
    for k, s in series.items():
        prev = None
        for i, v in sorted(s):
            prev = q9(v) if prev is None else q9(0.25 * v + 0.75 * prev)
            assert got[(k, i)] == prev, (k, i)
    assert len(got) == len(rows)


def test_ewma_linear_in_series_length(spark):
    """Scale guard (r4 verdict weak #3): one key with a 50k-row series
    must complete in seconds — the old ``aggregate(acc || array(step))``
    fold paid O(n²) array copies (1.25e9 element copies here, minutes);
    the applyInPandas loop is O(n)."""
    import time

    from flink_learning_practise_spark.operators.transforms import ewma

    n = 50_000
    df = spark.range(n).select(
        F.lit(1).alias("k"),
        F.col("id").alias("i"),
        (F.col("id") % 997 * 0.25).alias("v"),
    )
    t0 = time.perf_counter()
    out = ewma(df, ["k"], ["i"], "v", alpha=0.3)
    rows = out.count()
    wall = time.perf_counter() - t0
    assert rows == n
    assert wall < 60, f"50k-row single-key EWMA took {wall:.1f}s — not linear"
    # spot-check the tail is still the exact quantized recursion
    import math

    last = out.orderBy(F.desc("i")).limit(1).collect()[0]
    prev = None
    for i in range(n):
        v = (i % 997) * 0.25
        t = v if prev is None else 0.3 * v + 0.7 * prev
        prev = math.floor(t * 1e9 + 0.5) / 1e9
    assert last.ewma == prev


def test_pagerank_invariants(spark):
    """Fixed-iteration PageRank sanity on a known graph: ranks positive,
    total mass ≤ 1 (dangling mass dropped by design), the hub of a star
    outranks its leaves, isolated vertices sit at the (1−d)/N floor."""
    from pyspark.sql import functions as F

    from flink_learning_practise_spark.operators.graph import pagerank

    # star: 1..5 -> 0 (and 0 -> 1 so vertex 0 is not dangling);
    # vertices 10, 11 isolated
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 1)], "src long, dst long"
    )
    verts = spark.createDataFrame([(10,), (11,)], "src long")
    pr = {
        r.vertex: r.pagerank
        for r in pagerank(edges, "src", "dst", vertices=verts, iterations=8).collect()
    }
    assert set(pr) == {0, 1, 2, 3, 4, 5, 10, 11}
    assert all(v > 0 for v in pr.values())
    assert sum(pr.values()) <= 1.0 + 1e-6
    hub = pr[0]
    assert all(hub > pr[i] for i in (2, 3, 4, 5))
    n = len(pr)
    floor_rank = round(0.15 / n, 9)
    assert abs(pr[10] - floor_rank) < 1e-9 and pr[10] == pr[11]


def test_heavy_hitter_exact_property_random_corpora(spark):
    """Property sweep (fixed-seed randomized): on random corpora with
    skewed token distributions, random partitioning and several k, the
    MG-candidates + exact-filter output must equal the exact
    {token: freq > n/(k+1)} set computed offline."""
    import collections
    import random

    from flink_learning_practise_spark.operators.text import heavy_hitter_tokens

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(30)]
    for trial in range(3):
        # zipf-ish skew: token i weight ~ 1/(i+1)
        weights = [1.0 / (i + 1) for i in range(len(vocab))]
        docs = []
        for d in range(rng.randint(20, 60)):
            toks = rng.choices(vocab, weights=weights, k=rng.randint(1, 30))
            docs.append((d, " ".join(toks)))
        df = spark.createDataFrame(docs, "doc_id long, text string").repartition(
            rng.choice([1, 5, 13])
        )
        exact = collections.Counter(
            t for _, text in docs for t in text.split()
        )
        n = sum(exact.values())
        for k in (4, 16):
            want = {(t, c) for t, c in exact.items() if c * (k + 1) > n}
            got = {
                (r.token, r.cnt)
                for r in heavy_hitter_tokens(df, "text", k=k).collect()
            }
            assert got == want, f"trial {trial} k={k}: {got ^ want}"


def test_keyed_rank_matches_window(spark):
    """keyed_rank_with_totals must equal row_number() OVER (PARTITION BY
    key ORDER BY ...) for every key, and totals must equal key counts —
    across a partition count that forces keys to straddle partitions,
    with a NULL key (its own group, as in the window), and on an empty
    and a one-row frame."""
    import random
    from collections import Counter

    from pyspark.sql import Window

    from flink_learning_practise_spark.operators.transforms import (
        keyed_rank_with_totals,
    )

    rng = random.Random(3)
    rows = [
        (rng.choice(["a", "b", "c", "d"]), i, rng.uniform(-50, 50))
        for i in range(4000)
    ]
    null_key = rows + [(None, 4000 + i, rng.uniform(-50, 50)) for i in range(400)]
    w = Window.partitionBy("k").orderBy("v", "id")
    for inp in (rows, null_key, [], rows[:1]):
        df = spark.createDataFrame(inp, "k string, id long, v double")
        ranked, totals = keyed_rank_with_totals(
            df, ["k"], ["v", "id"], "r", partitions=16
        )
        exp = {
            (r.k, r.id): r.rn
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        got = {(r.k, r.id): r.r for r in ranked.collect()}
        assert got == exp, len(inp)
        key_counts = Counter(k for k, _, _ in inp)
        assert {r.k: r.n for r in totals.collect()} == dict(key_counts)


def test_max_concurrency_brute_force(spark):
    """Sweep-line result vs brute-force interval stabbing at sf0.001:
    sessionize identically, then count overlaps at every boundary
    instant per day in pure Python."""
    from flink_learning_practise_spark.plans.events_analytics import (
        CONCURRENCY_GAP_MIN,
        max_concurrency,
    )
    from flink_learning_practise_spark.datasets import load

    sf = "/root/testdata/sf0.001"
    ev = load(spark, sf, "events").select("user_id", "ts", "event_id").collect()
    from collections import defaultdict
    import datetime

    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id))
    gap = datetime.timedelta(minutes=CONCURRENCY_GAP_MIN)
    sessions = []
    for rows in by_user.values():
        rows.sort()
        start = prev = rows[0][0]
        for t, _ in rows[1:]:
            # whole-second gap comparison, matching unix_timestamp()
            if int(t.timestamp()) - int(prev.timestamp()) > gap.total_seconds():
                sessions.append((start, prev))
                start = t
            prev = t
        sessions.append((start, prev))
    # clip per day, stab at each boundary
    per_day = defaultdict(list)
    for s, e in sessions:
        d = s.date()
        while d <= e.date():
            day_start = datetime.datetime.combine(d, datetime.time())
            day_end = day_start + datetime.timedelta(days=1) - datetime.timedelta(microseconds=1)
            per_day[d].append((max(s, day_start), min(e, day_end)))
            d += datetime.timedelta(days=1)
    expected = {}
    for d, ivals in per_day.items():
        bounds = {t for iv in ivals for t in iv}
        expected[d] = max(
            sum(1 for s, e in ivals if s <= t <= e) for t in bounds
        )
    got = {r.day: r.max_concurrency for r in max_concurrency(spark, sf).collect()}
    assert got == expected


def test_keyed_select_rank_matches_window_median(spark):
    """keyed_select_rank at ceil(n/2) must pick exactly the window-based
    discrete median row per key, including keys that straddle range
    partitions, a NULL key (its own group), and an empty and a one-row
    frame."""
    import random

    from pyspark.sql import Window

    from flink_learning_practise_spark.operators.transforms import (
        keyed_select_rank,
    )

    rng = random.Random(9)
    rows = [
        (rng.choice(["a", "b", "c"]), i, rng.uniform(-10, 10))
        for i in range(3000)
    ]
    null_key = rows + [(None, 3000 + i, rng.uniform(-10, 10)) for i in range(300)]
    w = Window.partitionBy("k").orderBy("v", "id")
    for inp in (rows, null_key, [], rows[:1]):
        df = spark.createDataFrame(inp, "k string, id long, v double")
        _, sel = keyed_select_rank(
            df, ["k"], ["v", "id"], lambda n: (n + 1) // 2, partitions=16
        )
        got = {r.k: (r.v, r.id) for r in sel.collect()}
        ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("k"))
        )
        exp = {
            r.k: (r.v, r.id)
            for r in ranked.filter(
                F.col("rn") == F.ceil(F.col("n") / 2).cast("int")
            ).collect()
        }
        assert got == exp, len(inp)


def test_ewma_null_poisons_as_sql_null(spark):
    """A null input value must poison that row and every later row of
    its key — and the poisoned rows must be SQL NULL (None), not float
    NaN, matching the DuckDB recursion's NULL propagation (the driver's
    value hash distinguishes them; review r5). Other keys unaffected."""
    from flink_learning_practise_spark.operators.transforms import ewma

    rows = [
        (1, 0, 10.0),
        (1, 1, None),
        (1, 2, 20.0),
        (2, 0, 4.0),
        (2, 1, 8.0),
    ]
    df = spark.createDataFrame(rows, "k long, i long, v double")
    got = {
        (r.k, r.i): r.ewma
        for r in ewma(df, ["k"], ["i"], "v", alpha=0.5).collect()
    }
    assert got[(1, 0)] == 10.0
    assert got[(1, 1)] is None  # null in, null out — not NaN
    assert got[(1, 2)] is None  # poisoned forever, like 0.5*x + 0.5*NULL
    assert got[(2, 0)] == 4.0 and got[(2, 1)] == 6.0  # clean key untouched


def test_fk_integrity_duplicate_parent_key_does_not_inflate(spark, tmp_path):
    """The left-join COUNT(*) formulation counts each child row once
    per matching parent row — so a duplicated parent key would silently
    inflate n_child_rows. The parent projection dropDuplicates guard
    (r5 verdict ask) must keep counts exact even when the PK
    precondition is violated upstream."""
    from flink_learning_practise_spark.plans.order_stats import fk_integrity

    d = str(tmp_path)
    # orders: o_orderkey=1 DUPLICATED; lineitem has 3 rows, 1 orphan
    spark.createDataFrame(
        [(1, 10), (1, 10), (2, 11)], "o_orderkey long, o_custkey long"
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(1,), (1,), (99,)], "l_orderkey long"
    ).write.parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(10, 0), (11, 0)], "c_custkey long, c_nationkey long"
    ).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame([(0,)], "n_nationkey long").write.parquet(
        f"{d}/nation.parquet"
    )
    got = {r.fk: (r.n_child_rows, r.n_orphans) for r in fk_integrity(spark, d).collect()}
    assert got["lineitem->orders"] == (3, 1)  # NOT (5, 1): dup parent ignored
    assert got["orders->customer"] == (3, 0)  # child dup rows still count
    assert got["customer->nation"] == (2, 0)


def test_keyed_prefix_sum_matches_window(spark):
    """Distributed per-key cumulative weight sum must equal the single-
    node window cumsum on the key/order VALUE level (tie order within
    equal order values is partition-dependent, so compare the cum at
    each distinct (key, order) group's end — the consumer contract) —
    also with a NULL key (its own group) and on an empty and a one-row
    frame."""
    import random

    from flink_learning_practise_spark.operators.transforms import keyed_prefix_sum

    rng = random.Random(7)
    rows = [
        (k, rng.randint(0, 5), rng.randint(1, 9))
        for k in ("a", "b", "c")
        for _ in range(200)
    ]
    null_key = rows + [(None, rng.randint(0, 5), rng.randint(1, 9)) for _ in range(200)]
    for inp in (rows, null_key, [], rows[:1]):
        df = spark.createDataFrame(inp, "k string, x long, w long")
        got = keyed_prefix_sum(df, ["k"], ["x"], "w", out_col="cw", partitions=7)
        # end-of-group cum = sum of weights with (k, x') <= (k, x)
        end = {
            (r.k, r.x): float(r.m)
            for r in got.groupBy("k", "x").agg(F.max("cw").alias("m")).collect()
        }
        exp: dict = {}
        for k, x, w in inp:
            exp[(k, x)] = exp.get((k, x), 0) + w
        assert set(end) == set(exp), len(inp)
        for (k, x), _ in end.items():
            want = sum(v for (k2, x2), v in exp.items() if k2 == k and x2 <= x)
            assert end[(k, x)] == want, (k, x)


def test_keyed_prefix_sum_global_mode(spark):
    from flink_learning_practise_spark.operators.transforms import keyed_prefix_sum

    df = spark.createDataFrame([(i, 2) for i in range(100)], "x long, w long")
    got = keyed_prefix_sum(df, [], ["x"], "w", out_col="cw", partitions=5)
    vals = {r.x: float(r.cw) for r in got.collect()}
    assert vals[0] == 2 and vals[50] == 102 and vals[99] == 200
    for rows in ([], [(7, 3)]):  # empty and one-row frames
        one = spark.createDataFrame(rows, "x long, w long")
        got = keyed_prefix_sum(one, [], ["x"], "w", out_col="cw", partitions=5)
        assert [(r.x, float(r.cw)) for r in got.collect()] == rows


def test_mann_kendall_s_brute_force(spark):
    import random

    from flink_learning_practise_spark.operators.transforms import mann_kendall_s

    rng = random.Random(3)
    rows = []
    series: dict = {}
    for k in range(6):
        n = rng.randint(2, 40)
        vs = [rng.choice([None, *range(8)]) for _ in range(n)]
        series[k] = [v for v in vs if v is not None]
        rows += [(k, i, float(v) if v is not None else None) for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "k long, i long, v double")
    got = {r.k: (r.n, r.s_stat) for r in mann_kendall_s(df, ["k"], ["i"], "v").collect()}
    for k, vs in series.items():
        if not vs:
            assert k not in got
            continue
        s = sum(
            (vs[j] > vs[i]) - (vs[j] < vs[i])
            for i in range(len(vs))
            for j in range(i + 1, len(vs))
        )
        assert got[k] == (len(vs), s), k


def test_skyline_2d_brute_force(spark):
    """Distributed prefix-max skyline must equal the O(n²) dominance
    definition on random data with heavy x/y ties, on an empty and a
    one-row frame, and with more than 300 non-empty range partitions of
    the x tier (a per-partition CASE chain of offsets overflowed the
    column converter's stack there)."""
    import random

    import numpy as np

    from flink_learning_practise_spark.operators.transforms import skyline_2d

    rng = random.Random(13)
    ties = [(i, float(rng.randint(0, 12)), rng.randint(0, 12)) for i in range(300)]
    # ~4000 distinct x, y falling with x plus noise: a long frontier
    wide = [
        (i, float(x), (40000 - x) // 10 + rng.randint(0, 40))
        for i, x in enumerate(rng.sample(range(40000), 4000))
    ]
    for rows, parts in ((ties, 7), (wide, 400), ([], 7), (ties[:1], 7)):
        df = spark.createDataFrame(rows, "id long, x double, y int")
        if parts == 400:
            nonempty = (
                df.select("x").distinct().repartitionByRange(parts, "x")
                .select(F.spark_partition_id())
                .distinct()
                .count()
            )
            assert nonempty > 300, nonempty
        got = {r.id for r in skyline_2d(df, "x", "y", partitions=parts).collect()}
        # vectorized O(n²) dominance: row i is dominated by some j
        x = np.array([r[1] for r in rows], dtype=float)
        y = np.array([r[2] for r in rows], dtype=np.int64)
        le, ge = x[None, :] <= x[:, None], y[None, :] >= y[:, None]
        strict = (x[None, :] < x[:, None]) | (y[None, :] > y[:, None])
        dominated = (le & ge & strict).any(axis=1)
        exp = {r[0] for r, d in zip(rows, dominated) if not d}
        assert got == exp, (len(rows), parts)
        assert exp or not rows


def test_holt_linear_matches_reference_and_poisons_nulls(spark):
    """Two-state Holt recursion vs a Python replay (same quantization);
    a null value must poison that row and the rest of its key as SQL
    NULL, like ewma."""
    import math

    from flink_learning_practise_spark.operators.transforms import holt_linear

    rows = [
        (1, 0, 10.0), (1, 1, 14.0), (1, 2, 18.0), (1, 3, 26.0),
        (2, 0, 5.0), (2, 1, None), (2, 2, 7.0),
    ]
    df = spark.createDataFrame(rows, "k long, i long, v double")
    got = {
        (r.k, r.i): (r.level, r.trend)
        for r in holt_linear(df, ["k"], ["i"], "v", alpha=0.5, beta=0.3).collect()
    }

    def q9(x):
        return math.floor(x * 1e9 + 0.5) / 1e9

    lvl, trd = q9(10.0), 0.0
    for i, x in [(1, 14.0), (2, 18.0), (3, 26.0)]:
        nl = q9(0.5 * x + 0.5 * (lvl + trd))
        trd = q9(0.3 * (nl - lvl) + 0.7 * trd)
        lvl = nl
        assert got[(1, i)] == (lvl, trd), i
    assert got[(1, 0)] == (10.0, 0.0)
    assert got[(2, 0)] == (5.0, 0.0)
    assert got[(2, 1)] == (None, None)
    assert got[(2, 2)] == (None, None)  # poisoned forever


def test_keyed_prefix_sum_totals_are_free_and_exact(spark):
    from flink_learning_practise_spark.operators.transforms import (
        keyed_prefix_sum_with_totals,
    )

    rows = [("a", i, i % 3 + 1) for i in range(50)] + [("b", i, 2) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, x long, w long")
    cum, tot = keyed_prefix_sum_with_totals(df, ["k"], ["x"], "w", partitions=5)
    got = {r.k: float(r.total) for r in tot.collect()}
    assert got == {"a": sum(i % 3 + 1 for i in range(50)), "b": 40.0}
    # totals equal the cumsum's per-key max (consistency of the two views)
    from pyspark.sql import functions as FF
    mx = {r.k: float(r.m) for r in cum.groupBy("k").agg(FF.max("cum_w").alias("m")).collect()}
    assert mx == got


def test_keyed_prefix_sum_long_weight_path_matches_decimal(spark):
    """weight_type='long' must produce the same cumsums and totals as
    the decimal default on integral weights (the weighted_percentiles
    fast path) — value-identical, only the arithmetic route differs."""
    import random

    from flink_learning_practise_spark.operators.transforms import (
        keyed_prefix_sum_with_totals,
    )

    rng = random.Random(11)
    rows = [
        (k, rng.randint(0, 9), rng.randint(1, 50))
        for k in ("a", "b")
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, x long, w long")
    cum_d, tot_d = keyed_prefix_sum_with_totals(df, ["k"], ["x"], "w", partitions=6)
    cum_l, tot_l = keyed_prefix_sum_with_totals(
        df, ["k"], ["x"], "w", partitions=6, weight_type="long"
    )
    assert dict(tot_l.collect()) == {
        r.k: int(r.total) for r in tot_d.collect()
    }
    # long path emits bigint cumsums
    assert dict(cum_l.dtypes)["cum_w"] == "bigint"
    end_d = {
        (r.k, r.x): int(r.m)
        for r in cum_d.groupBy("k", "x").agg(F.max("cum_w").alias("m")).collect()
    }
    end_l = {
        (r.k, r.x): int(r.m)
        for r in cum_l.groupBy("k", "x").agg(F.max("cum_w").alias("m")).collect()
    }
    assert end_l == end_d


def test_global_ntile_multi_skip_nulls_matches_per_subset(spark):
    """skip_nulls in global_ntile_multi must equal a per-subset
    global_ntile over the non-null rows of each measure (the
    segment_migration shape: measures defined on different subsets)."""
    import random

    from flink_learning_practise_spark.operators.transforms import (
        global_ntile,
        global_ntile_multi,
    )

    rng = random.Random(23)
    rows = [
        (
            i,
            rng.randint(0, 1000) if rng.random() < 0.8 else None,
            rng.randint(0, 1000) if rng.random() < 0.6 else None,
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, m1 long, m2 long")
    scored = global_ntile_multi(
        df,
        4,
        [(["m1", "id"], "b1"), (["m2", "id"], "b2")],
        skip_nulls=True,
    )
    for m, b in (("m1", "b1"), ("m2", "b2")):
        want = {
            r.id: r.bucket
            for r in global_ntile(
                df.where(F.col(m).isNotNull()).select("id", m),
                4,
                [m, "id"],
                bucket_col="bucket",
            ).collect()
        }
        got = {
            r["id"]: r[b]
            for r in scored.where(F.col(m).isNotNull()).select("id", b).collect()
        }
        assert got == want, (m, b)


def test_rotation_green_row_semantics(tmp_path):
    """rotation.py must not age out failed driver rows: only passing
    rows (and the declared rows-only no_oracle pass) count as green."""
    import os
    import sys

    tools_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    sys.path.insert(0, tools_dir)
    from rotation import _row_green

    assert _row_green({"rows_match": True, "schema_match": True,
                       "hash_match": True, "err": None})
    assert not _row_green({"rows_match": True, "schema_match": True,
                           "hash_match": False, "err": None})
    assert not _row_green({"rows_match": None, "schema_match": None,
                           "hash_match": None, "err": "AnalysisException: boom"})
    # declared rows-only pass: no oracle, rows produced
    assert _row_green({"rows_match": None, "schema_match": None,
                       "hash_match": None, "spark_rows": 5,
                       "err": "no_oracle"})
    # rows-only with ZERO (or missing) rows is NOT green — it must keep
    # window priority rather than age out (ADVICE r7).
    assert not _row_green({"rows_match": None, "schema_match": None,
                           "hash_match": None, "spark_rows": 0,
                           "err": "no_oracle"})
    assert not _row_green({"rows_match": None, "schema_match": None,
                           "hash_match": None, "err": "no_oracle"})


class TestTheilDecomposition:
    def test_identity_against_textbook_python(self, spark, sf_small):
        """The within/between decomposition must reassemble the
        textbook GLOBAL Theil T = (1/n)·Σ (x/μ)·ln(x/μ), recomputed
        independently in Python from the same parquet — catches any
        formula error a DuckDB replay of the same SQL would share."""
        import math

        import duckdb

        from flink_learning_practise_spark.plans.order_stats import theil_index

        rows = theil_index(spark, sf_small).collect()
        # T_total = Σ_g share_g · T_g + Σ_g between_g
        t_spark = sum(
            r.revenue_share * r.theil_within + r.theil_between_term
            for r in rows
        )
        xs = [
            int(v[0])
            for v in duckdb.sql(
                f"""
            SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)) AS BIGINT)
            FROM '{sf_small}/orders.parquet' o
            JOIN '{sf_small}/customer.parquet' c ON o.o_custkey = c.c_custkey
            GROUP BY o_custkey
            """
            ).fetchall()
        ]
        n = len(xs)
        mu = sum(xs) / n
        t_true = sum((x / mu) * math.log(x / mu) for x in xs) / n
        # share/within/between are each quantized@6 → the reassembled
        # total carries ≤ ~(3·#nations)·1e-6 of quantization slack
        assert abs(t_spark - t_true) < 1e-4
        # decomposition sanity: every within-term nonnegative
        assert all(r.theil_within >= -1e-9 for r in rows)


class TestMutualInfoIdentity:
    def test_mi_against_textbook_python(self, spark, sf_small):
        import collections
        import math

        import duckdb

        from flink_learning_practise_spark.plans.events_analytics import (
            type_hour_mutual_info,
        )

        r = type_hour_mutual_info(spark, sf_small).collect()[0]
        cells = duckdb.sql(
            f"""
            SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER),
                   COUNT(*)
            FROM '{sf_small}/events.parquet' GROUP BY 1, 2
            """
        ).fetchall()
        nn = sum(c for _, _, c in cells)
        nx = collections.Counter()
        ny = collections.Counter()
        for t, h, c in cells:
            nx[t] += c
            ny[h] += c
        mi = sum(
            (c / nn) * math.log(c * nn / (nx[t] * ny[h]))
            for t, h, c in cells
        )
        assert r.n_events == nn
        assert abs(r.mi_nats - mi) < 1e-5
        assert r.mi_nats >= -1e-9  # MI is nonnegative


class TestBasketPairsMegaBasketGuard:
    def test_mega_basket_excluded_from_pairs_but_counted_in_supports(
        self, spark
    ):
        """VERDICT r7 ask #6: a basket above BASKET_MAX_ITEMS must not
        square into the pair join, but its items still count toward
        per-part supports and the order total (bounded-error contract,
        mirroring graph.capped_wedges)."""
        from flink_learning_practise_spark.plans import order_stats as os_

        mega = [(999, p) for p in range(os_.BASKET_MAX_ITEMS + 10)]
        normal = [(1, 10), (1, 11), (2, 10), (2, 11)]
        li = spark.createDataFrame(
            normal + mega, "l_orderkey long, l_partkey long"
        )
        rows = {
            (r.part_a, r.part_b): r for r in os_._basket_pairs_from(li).collect()
        }
        # the normal pair survives with exact support
        assert (10, 11) in rows
        r = rows[(10, 11)]
        assert r.n_both == 2
        # supports still COUNT the mega basket (it contains parts
        # 10/11 too): n_a = n_b = 3, and the order total includes it:
        # lift = n_orders * n_both / (n_a * n_b) = 3 * 2 / (3 * 3)
        assert r.n_a == 3 and r.n_b == 3
        assert abs(float(r.lift) - 2.0 / 3.0) < 1e-6
        # no pair from within the mega basket leaked through
        mega_parts = {p for _, p in mega}
        assert not any(
            pa in mega_parts and pb in mega_parts and pa >= 12
            for pa, pb in rows
        )

    def test_cap_never_binds_at_driver_sfs(self, spark, sf_medium):
        """TPC-H bounds lines-per-order at 7 — the guard must be a
        no-op on the driver tables (oracle unchanged)."""
        from flink_learning_practise_spark.datasets import load
        from flink_learning_practise_spark.plans import order_stats as os_

        li = load(spark, sf_medium, "lineitem")
        mx = (
            li.select("l_orderkey", "l_partkey")
            .distinct()
            .groupBy("l_orderkey")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert mx <= os_.BASKET_MAX_ITEMS
