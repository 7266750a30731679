"""Corpus-curation operators for large-scale training-data pipelines,
extending the dedup/text tiers (SURVEY §2 #37-53) with the remaining
steps of a production data-curation flow: PII scrubbing, Gopher-style
repetition filtering, sequence packing, benchmark decontamination,
temperature-based domain mixing, and incremental (snapshot-delta)
dedup.

Scale design: every operator is either a pure map-side projection
(scrub_pii, the per-row repetition features) or a small number of
keyed aggregates with map-side partial aggregation; the only joins are
a broadcast of a provably-small set (benchmark shingles, per-domain
rates) or a shuffle-on-digest anti-join (incremental dedup — same
shape as :func:`dedup.near_dedup_survivors`). No Python in any path.

All hash-dependent decisions (sampling buckets) use the portable
md5-prefix bucket of :func:`transforms.assign_split`, so every output
is reproducible bit-for-bit in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize

# PII patterns, restricted to the regex subset that behaves identically
# in Java regex (Spark) and RE2 (DuckDB): character classes,
# alternation, bounded repetition, \b, \d. Order matters: emails are
# scrubbed before the free-standing-number rule so the number rule
# can't chew the local part first.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # free-standing digit runs: aggressive identifier scrubbing (user
    # ids, account numbers); applied LAST so structured forms above
    # keep their specific tokens.
    ("num", r"\b\d+\b", "<NUM>"),
)


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact PII-shaped spans and count redactions per category.

    Returns (id, scrubbed, n_<category>...). Each pattern is counted on
    the text AFTER the preceding patterns' replacements, so a span
    belongs to exactly one category (the digits inside an email or
    phone number don't also count as free-standing numbers) and
    ``n_<c>`` equals the number of ``<C>`` tokens the scrub inserted.
    Map-only projection — runs at scan speed at any scale.
    """
    scrubbed: Column = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(scrubbed, F.lit(pat)).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select(F.col(id_col), scrubbed.alias("scrubbed"), *counts)


# Gopher-style repetition / shape gates (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", §A1.1 repetition filters — public
# paper). Thresholds are corpus-tunable; defaults split the synthetic
# corpus non-trivially.
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_TOP2GRAM = 0.05
GOPHER_MAX_DUP3GRAM = 0.10


def _ngram_array(w: Column, n: int) -> Column:
    """NON-distinct n-gram array of a word array (repetition stats need
    multiplicity, unlike dedup's distinct shingle_array)."""
    m = F.greatest(F.size(w) - (n - 1), F.lit(0))
    acc = F.slice(w, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(w, j, m), lambda x, y: F.concat_ws(" ", x, y))
    return acc


def _max_run_frac(arr: Column) -> Column:
    """Fraction of array occupied by its most frequent element:
    sort, then fold for the longest run of equal neighbors. Interpreted
    HOF per ELEMENT, but n-gram arrays are document-sized (~n_words),
    so this stays in the cheap per-row regime — and it keeps the whole
    operator map-only (the alternative — explode + two aggregates +
    join back — shuffles every n-gram occurrence and re-evaluates the
    feature projection on both join sides; measured 3× slower)."""
    fold = F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.when(F.size(arr) > 0, fold.cast("double") / F.size(arr)).otherwise(
        F.lit(0.0)
    )


def repetition_features(
    df: DataFrame, id_col: str, text_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Gopher-style repetition and shape features plus a keep flag.

    ``carry`` columns are passed through the projection so downstream
    stages (dedup, packing) keep working on the same single scan
    instead of joining features back onto the corpus.

    - ``top_2gram_frac``: occurrences of the most frequent bigram over
      all bigram occurrences (boilerplate detector) — the max
      equal-neighbor run in the sorted bigram array.
    - ``dup_3gram_frac``: fraction of trigram occurrences that are
      repeats — total minus distinct, over total.
    - ``mean_word_len``, ``n_words``: shape gates.
    - ``keep``: every gate passes.

    Every feature is computed per row from the document's own n-gram
    arrays: ONE projection over the scan, no shuffle, no join — at
    100 TB this runs at I/O speed like the other text gates. Docs too
    short for bigrams/trigrams get fraction 0 (nothing is repeated in
    them).
    """
    from .dedup import widen

    norm = normalize(F.col(text_col))
    w = F.split(norm, " ")
    tri = _ngram_array(w, 3)
    # widen: the n-gram HOFs run interpreted per element, so a
    # single-split local scan would serialize ~n_words lambda evals per
    # doc onto one core; a no-op at scale where the scan has splits.
    out = widen(df).select(
        F.col(id_col),
        F.size(w).alias("n_words"),
        (
            (F.length(norm) - (F.size(w) - 1)).cast("double") / F.size(w)
        ).alias("mean_word_len"),
        _max_run_frac(_ngram_array(w, 2)).alias("top_2gram_frac"),
        F.when(
            F.size(tri) > 0,
            (F.size(tri) - F.size(F.array_distinct(tri))).cast("double")
            / F.size(tri),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_frac"),
        *carry,
    )
    keep = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_WORD_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_WORD_LEN)
        & (F.col("top_2gram_frac") <= GOPHER_MAX_TOP2GRAM)
        & (F.col("dup_3gram_frac") <= GOPHER_MAX_DUP3GRAM)
    )
    return out.select(
        id_col,
        "n_words",
        "mean_word_len",
        "top_2gram_frac",
        "dup_3gram_frac",
        keep.alias("keep"),
        *carry,
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shard_col: str,
    capacity: int = 128,
) -> DataFrame:
    """Greedy contiguous sequence packing: within each shard, documents
    (in id order) fill capacity-TARGETED token bins — the batch-shaping
    step before training (padding waste ∝ 1/capacity_utilization).

    A document goes to bin ``floor(tokens_before_it / capacity)``
    (running-sum packing): deterministic, one pass, and parallel per
    shard. Bin sizes are a TARGET, not a hard cap — a document
    straddling a bin boundary lands wholly in the earlier bin, so a
    bin can overflow by up to (doc_len - 1) tokens (and an oversized
    document always overflows its own bin); consumers that need a hard
    token budget truncate at read time. An exact never-overflow packer
    needs a sequential per-shard decision chain that no windowed
    expression computes. One shuffle keys by shard for the running
    sum; per-shard sequential scan is the inherent cost of
    order-dependent packing — at 100 TB the shard column must be finer
    than a source label (e.g. a hash-bucket of the id) so no single
    shard serializes the job.

    Returns one row per (shard, pack): n_docs, n_tokens, first/last id.
    """
    from pyspark.sql import Window

    tok = F.size(F.split(normalize(F.col(text_col)), " "))
    win = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = df.select(
        F.col(shard_col), F.col(id_col), tok.alias("_tok")
    ).withColumn(
        "pack_id",
        F.floor(
            F.coalesce(F.sum("_tok").over(win), F.lit(0)) / F.lit(capacity)
        ),
    )
    return packed.groupBy(shard_col, "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tok").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def decontaminate(
    sh: DataFrame, id_col: str, benchmark_pred: Column
) -> DataFrame:
    """Benchmark decontamination over a :func:`~.dedup.doc_shingle_frame`
    ``(id, _sh, _n)`` frame: flag training documents sharing any
    k-word shingle with the held-out benchmark set (rows matching
    ``benchmark_pred``), with the count of distinct shared shingles.

    The benchmark shingle set is small by construction (eval sets are
    thousands of docs, not billions) → broadcast; the training side
    streams through one explode + broadcast semi-join + count, so the
    full corpus is never shuffled. Production pipelines use k of 8-13
    (n-gram collision at k=3 is common English); k is a parameter of
    :func:`~.dedup.doc_shingle_frame`.

    ``benchmark_pred`` splits ``sh`` into its two sides. It may name
    any column of the frame ``sh`` was projected from (a source label,
    an id rule), because Spark resolves a filter's missing columns
    through the projection — but not once ``sh`` is a checkpoint, which
    keeps only ``(id, _sh, _n)``. Both sides read the SAME shingles, so
    a checkpointed ``sh`` shingles the corpus once, not once per side.
    """
    bench_sh = (
        sh.filter(benchmark_pred)
        .select(F.explode_outer("_sh").alias("shingle"))
        .distinct()
    )
    corpus_sh = sh.filter(~benchmark_pred).select(
        F.col(id_col), F.explode_outer("_sh").alias("shingle")
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def domain_mixture(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    keep_frac: float = 0.5,
    seed: str = "mix1",
) -> DataFrame:
    """Temperature-weighted domain rebalancing (α = 0.5): keep
    ``keep_frac`` of the corpus overall, with per-domain quotas
    ∝ sqrt(domain size) — the standard sampling-temperature scheme
    that flattens the domain distribution (big domains are downsampled
    harder, small domains kept nearly whole) without the starvation of
    uniform quotas.

    Per-domain keep rate: ``min(1, target_total·w_d / (Σw·n_d))`` with
    ``w_d = floor(sqrt(n_d)·1000)`` held in INTEGERS so the rate is a
    single IEEE-double expression — bit-identical across engines — and
    membership is the md5-bucket grid of ``transforms.stratified_sample``
    (reproducible, monotone in the rate). Two tiny aggregates (per-domain
    counts; their sum) + one broadcast join back; the corpus itself is
    never shuffled. Returns kept rows as (id, domain, rate_bp).
    """
    from pyspark.sql import Window

    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_n"))
    w_all = Window.partitionBy()  # counts is |domains| rows — tiny
    rates = (
        counts.withColumn("_w", F.floor(F.sqrt("_n") * 1000))
        .withColumn("_sumw", F.sum("_w").over(w_all))
        .withColumn(
            "_target", F.floor(F.lit(keep_frac) * F.sum("_n").over(w_all))
        )
        .withColumn(
            "_rate",
            F.least(
                F.lit(1.0),
                (F.col("_target").cast("double") * F.col("_w"))
                / (F.col("_sumw").cast("double") * F.col("_n")),
            ),
        )
        .select(
            domain_col,
            F.floor(F.col("_rate") * 10000).cast("int").alias("rate_bp"),
        )
    )
    bucket = (
        F.expr(
            f"conv(substring(md5(concat('{seed}', ':', CAST({id_col} AS STRING))), 1, 8), 16, 10)"
        ).cast("bigint")
        % 10000
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(bucket < F.col("rate_bp"))
        .select(id_col, domain_col, "rate_bp")
    )


def incremental_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    snapshot_pred: Column,
) -> DataFrame:
    """Snapshot-delta dedup: from the DELTA rows (those NOT matching
    ``snapshot_pred``), keep one representative per normalized-content
    digest that does not already exist in the SNAPSHOT — the daily
    ingest step of a continuously-updated corpus (dedup new crawl
    against yesterday's corpus without re-deduping the whole corpus).

    Digest anti-join (shuffle on fixed-width md5 keys; AQE broadcasts
    when the delta is small) + min-id groupBy, the same shapes as
    :func:`dedup.exact_dedup` / ``near_dedup_survivors``. Returns
    (id, n_copies) where n_copies counts the delta-internal copies.
    """
    hashed = df.select(
        F.col(id_col),
        snapshot_pred.alias("_snap"),
        F.md5(normalize(F.col(text_col))).alias("_h"),
    )
    snap_h = hashed.filter("_snap").select("_h").distinct()
    fresh = hashed.filter(~F.col("_snap")).join(snap_h, "_h", "left_anti")
    return (
        fresh.groupBy("_h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


# CCNet-style cross-document boilerplate removal (Wenzek et al. 2020,
# "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
# Data" — public paper — deduplicates by PARAGRAPH hash across the
# corpus before any document-level filter). The synthetic corpus has
# no newlines, so the paragraph unit here is a fixed-width token
# segment; the algorithm (segment → corpus-wide frequency → strip
# over-represented segments, reassemble in order) is unchanged.
BOILERPLATE_SEG_WORDS = 2
BOILERPLATE_MIN_DOCS = 20


def boilerplate_strip(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = BOILERPLATE_SEG_WORDS,
    min_docs: int = BOILERPLATE_MIN_DOCS,
) -> DataFrame:
    """Strip segments that recur across ``>= min_docs`` distinct
    documents (headers, footers, navigation chrome at web scale);
    returns (id, n_segments, n_boilerplate, cleaned) with the surviving
    segments rejoined in document order.

    Scale shape: one explode to (doc, seg_idx, segment) — ~n_tokens /
    seg_words rows — then ONE repartition on the segment shared by the
    frequency aggregate and the join back (ReusedExchange, the same
    pattern as the n-gram shingle tier). The distinct-doc count plans
    as two aggregates — partial (segment, doc) dedup map-side, then
    counts — so a segment present in half the corpus shuffles counts,
    not doc lists (skew-safe). Reassembly is one groupBy(doc):
    collect_list is bounded by document size, not corpus size.
    """
    from .text import normalize

    # Segment in ONE regex pass: insert a \x01 separator after every
    # seg_words-th token, then split on it. A transform(i ->
    # array_join(slice(words, ...))) re-evaluates the word split PER
    # SEGMENT (HOF lambdas are interpreted, no subexpression reuse —
    # measured ~2x slower end-to-end); the regex stays in codegen and
    # touches each character once. The single-token tail segment falls
    # out the same as the oracle's clipped list slice.
    sep = "\x01"
    group = r"((?:\S+ ){%d}\S+) " % (seg_words - 1)
    segs = F.split(
        F.regexp_replace(normalize(F.col(text_col)), group, "$1" + sep), sep
    )
    ex = df.select(F.col(id_col), F.posexplode(segs).alias("seg_idx", "seg"))
    part = ex.repartition("seg")
    counts = part.groupBy("seg").agg(
        F.count_distinct(F.col(id_col)).alias("ndocs")
    )
    tagged = part.join(counts, "seg").withColumn(
        "is_bp", F.col("ndocs") >= F.lit(min_docs)
    )
    kept_in_order = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(F.collect_list(F.struct("seg_idx", "is_bp", "seg"))),
                lambda x: ~x["is_bp"],
            ),
            lambda x: x["seg"],
        ),
        " ",
    )
    return tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.count(F.when(F.col("is_bp"), 1)).alias("n_boilerplate"),
        kept_in_order.alias("cleaned"),
    )


def decontaminate_neardup(
    sh: DataFrame,
    id_col: str,
    benchmark_pred: Column,
    threshold: float = 0.8,
) -> DataFrame:
    """NEAR-DUP benchmark decontamination over a
    :func:`~.dedup.doc_shingle_frame` ``(id, _sh, _n)`` frame: training
    documents whose k-shingle Jaccard against some benchmark document
    reaches ``threshold`` — catches paraphrases and near-copies that
    share most (not necessarily all) shingles, where
    :func:`decontaminate`'s any-shared-shingle flag is the
    high-recall/low-precision first pass. ``benchmark_pred`` splits
    ``sh`` as in :func:`decontaminate`.

    Scale shape: the benchmark side joins UNHINTED — a real eval set is
    bounded and AQE will broadcast it, but ``benchmark_pred`` can also
    select a corpus-proportional slice (the registered query uses a
    1-in-5 split), and a hard hint would force that build side at any
    size (BROADCAST_POLICY — review r4 caught the original hint here).
    Candidates are bounded by benchmark docs sharing a shingle, and
    the exact Jaccard verifies inline — both shingle-set sizes are the
    frame's ``_n``, taken BEFORE exploding, so the corpus is never
    windowed on content.

    Returns (id, bench_id, jaccard) for every flagged pair.
    """

    def sized_shingles(frame: DataFrame, out_id: str, n_col: str) -> DataFrame:
        # The join key is the 8-byte xxhash64 of the shingle, not the
        # 20-40 byte shingle string: the equi-join only needs to DECIDE
        # which shingles collide (guide: shuffle keys/metadata, not
        # payloads), and n_common counts matching rows either way. A
        # cross-shingle hash collision inside one (doc, bench) pair is
        # the only divergence class (~n_pairs/2^64 — the same accepted
        # class as the md5 digests the exact-dedup tier shuffles).
        return (
            frame
            .select(
                F.col(id_col).alias(out_id),
                F.col("_n").alias(n_col),
                F.explode_outer("_sh").alias("_shingle"),
            )
            .select(out_id, n_col, F.xxhash64("_shingle").alias("shingle"))
        )

    bench_sized = sized_shingles(sh.filter(benchmark_pred), "bench_id", "nb")
    corpus_sized = sized_shingles(sh.filter(~benchmark_pred), id_col, "na")
    joined = corpus_sized.join(bench_sized, "shingle")
    return (
        joined.groupBy(id_col, "bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(id_col, "bench_id", "jaccard")
    )
