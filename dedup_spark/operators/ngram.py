"""Word-3-gram exact Jaccard near-dup pairs: a document-frequency-capped
inverted index. ``gram_rows`` builds the (gh, doc_id, n) rows of each
doc's distinct kept trigrams; the caller persists them (the pair
self-join reads them twice) and passes their measured count to
``jaccard_pairs``, which returns (src, dst, n_common, jaccard) for every
pair whose Jaccard, rounded to 6 dp, is at least 0.3."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import trigram_array

MAX_GRAM_DF = 1000  # posting-list cap: grams in more docs carry no signal

# below this many (gh, doc_id, n) rows the pair volume cannot stress a
# 64 MB/task aggregation budget at 8x-parallelism width, and the
# dedicated volume-measuring job would be pure added latency
VOLUME_MIN_ROWS = 4_000_000


def gram_rows(docs: DataFrame) -> DataFrame:
    """(gh, doc_id, n) over ``(doc_id, text)`` docs: ``gh`` is the
    ``xxhash64`` of a distinct word trigram (an 8-byte shuffle key instead
    of the trigram text) in at most ``MAX_GRAM_DF`` docs, ``n`` the doc's
    kept-gram count. Blank docs and docs under 3 tokens yield no rows."""
    d = docs.where(F.length(F.trim("text")) > 0)
    # materialize the token array in its OWN projection: referencing
    # the split() expression from the size guard, the sequence bound,
    # and the gram lambda re-runs the regex split per reference (no
    # CSE across the expression tree) — measured 7x on the gram build
    # (4.9 s→0.7 s)
    dt = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
    toks = F.col("toks")
    # docs with <3 tokens yield zero grams — matches the DuckDB
    # generate_series semantics which emits nothing. The trigram
    # array is the shared zip_with construction (textstats) —
    # identical strings to the per-index transform/slice form,
    # measured ~4× cheaper per doc.
    tri = F.when(
        F.size(toks) >= 3, trigram_array(toks, F.size(toks))
    ).otherwise(F.array().cast("array<string>"))
    grams = dt.select(
        "doc_id",
        F.explode(F.array_distinct(tri)).alias("ng"),
    ).where(F.col("ng") != "").select(
        "doc_id", F.xxhash64("ng").alias("gh")
    )
    # kept (gh, doc_id, n) rows: df cap via a window count over an
    # explicitly-numbered repartition (AQE-coalesce-exempt — guide
    # §2.5), then each doc's kept-gram count ``n`` via a second
    # narrow window — carrying n on the gram row lets the pair stage
    # compute jaccard inline instead of joining the ~10^8-row pair
    # aggregate against a per-doc size table twice (both windows and
    # the join shuffle only the 2.6M narrow gram rows at sf1.0).
    p = docs.sparkSession.sparkContext.defaultParallelism * 2
    w = Window.partitionBy("gh")
    wd = Window.partitionBy("doc_id")
    return (
        grams.repartition(p, "gh")
        .withColumn("df", F.count("*").over(w))
        .where(F.col("df") <= MAX_GRAM_DF)
        .select("gh", "doc_id")
        .repartition(p, "doc_id")
        .withColumn("n", F.count("*").over(wd))
    )


def jaccard_pairs(gram_rows: DataFrame, n_rows: int) -> DataFrame:
    """(src, dst, n_common, jaccard), src < dst, rounded jaccard >= 0.3.
    ``n_rows``: the measured row count of ``gram_rows`` (a cache
    barrier's count); above ``VOLUME_MIN_ROWS`` a measured pair volume
    sizes the pair exchange."""
    # pair generation as a co-partitioned merge self-join on the gram
    # hash (guide §7.1): the old flatten(transform(...)) explode over
    # collect_list postings materialized every gram's C(df,2) struct
    # array through interpreted HOFs — measured 121 s of GC across the
    # explode stages at sf1.0; the join streams the identical pair
    # multiset out of codegen. Per-key match buffer ≤ MAX_GRAM_DF
    # rows (the df cap), so no task holds a hot gram's whole pair set.
    # The co-occurrence count groups by (src, dst) over an 8×-wide
    # explicit repartition: the pair stream is nearly duplicate-free
    # (114M distinct of 127M instances at sf1.0), so at the session's
    # default width each final-agg task's hash map outgrew its
    # execution-memory share and fell back to sort-based aggregation
    # (measured 16.2 s → 6.6 s for the agg alone). n_src/n_dst ride
    # the group key (functionally dependent on src/dst), so jaccard
    # is computed inline — no join back onto the pair aggregate.
    a = gram_rows.alias("a")
    b = gram_rows.alias("b")
    # pair-aggregation width: 8x parallelism keeps each final-agg
    # task's hash map inside its execution-memory share at the
    # measured sf1.0 volume (118M instances), but the volume grows
    # ~quadratically in gram df, and at 2x the corpus the fixed
    # width overflowed every map into sort-based fallback (event-log
    # measured: 13 GB spill, 2,054 s runSum in the one agg stage).
    # For large inputs (n_rows > VOLUME_MIN_ROWS, where one
    # sub-second in-cache pass amortizes) the EXACT instance count
    # sum(C(df,2)) sizes the exchange instead: ~80 B/key of
    # UnsafeFixedWidthAggregationMap footprint against a 64 MB
    # per-task budget, rounded up to a parallelism multiple (guide
    # §2.5: derive widths from data size, not constants; the
    # session's bypass threshold covers these widths).
    spark = gram_rows.sparkSession
    dp = spark.sparkContext.defaultParallelism
    p8 = dp * 8
    if n_rows > VOLUME_MIN_ROWS:
        inst = gram_rows.groupBy("gh").count().agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)
        ).first()[0] or 0
        need = -(-int(inst * 80) // (64 << 20))   # ceil div
        p8 = max(p8, dp * (-(-need // dp)))
        # staying on the bypass writer beats a strict 64 MB/task agg
        # budget while the maps still fit the ~150 MB execution
        # share: clamp to the session's (FD-limited) threshold when
        # that keeps per-task state under 128 MB, otherwise take the
        # width and let the exchange use the serialized-sort writer.
        bypass_cap = int(spark.conf.get(
            "spark.shuffle.sort.bypassMergeThreshold", "200"))
        cap = dp * (bypass_cap // dp) if bypass_cap >= dp else 0
        if p8 > cap > 0 and inst * 80 // cap <= (128 << 20):
            p8 = cap
    inter = (
        a.hint("merge")
        .join(b, "gh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: for a pair with gram-set sizes n_a, n_b and
        # any overlap c, jaccard = c/(n_a+n_b-c) <= min(n)/max(n), so
        # a pair with 10*min(n) < 3*max(n) has exact jaccard < 0.3 and
        # every one of its instances (n_src/n_dst are pair constants)
        # is dropped BEFORE the pair exchange — integer arithmetic
        # (guide §2.3: shuffle fewer rows). Caveat: the output
        # predicate is round(jaccard, 6) >= 0.3, not jaccard >= 0.3.
        # A dropped pair sits at least 1/(10*max(n)) below 0.3, which
        # exceeds the 5e-7 rounding margin unless max(n) >= 200,000
        # grams; only there can a pair that would round up to 0.3 be
        # lost. The parity twin caps a document at 9,999 grams
        # (generate_series(1, 9999) in its SQL), so that case is
        # unreachable on any input the oracle can check.
        .where(
            F.least("a.n", "b.n") * F.lit(10)
            >= F.greatest("a.n", "b.n") * F.lit(3)
        )
        .repartition(p8, F.col("a.doc_id"), F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
            F.col("a.n").alias("n_src"),
            F.col("b.n").alias("n_dst"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_src") + F.col("n_dst") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= 0.3)
        .select("src", "dst", "n_common", "jaccard")
    )
