"""Text-analysis operators for training-data pipelines (driver extras):
token counting, quality scoring, language-ID heuristic, bottom-k document
fingerprints. All pure ``pyspark.sql.functions`` (JVM-side, codegen'd) —
no Python UDFs — and each has an ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic stopword votes per language (heuristic language-ID).
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "la", "que"],
    "fr": ["le", "la", "et"],
    "zh": ["的", "是", "了"],
}

PUNCT_CLASS = r"[.,;:!?]"


def _token_count_col(text: str):
    """Whitespace token count; empty/blank → 0."""
    return F.when(
        F.length(F.trim(F.col(text))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text)), r"\s+")))


def with_token_count(df: DataFrame, text: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", _token_count_col(text))


def with_quality_score(df: DataFrame, text: str = "text") -> DataFrame:
    """Deterministic quality features + composite score:
    punct ratio, mean token length, stopword ratio (en markers)."""
    n_tok = _token_count_col(text)
    n_chars = F.length(F.col(text))
    punct = n_chars - F.length(F.regexp_replace(F.col(text), PUNCT_CLASS, ""))
    stop = sum(
        (
            F.size(F.split(F.concat(F.lit(" "), F.col(text), F.lit(" ")),
                           f" {w} ")) - 1
            for w in LANG_MARKERS["en"]
        ),
        F.lit(0),
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn(
            "punct_ratio",
            F.round(punct / F.greatest(n_chars, F.lit(1)), 6),
        )
        .withColumn(
            "mean_token_len",
            F.round(
                (n_chars - F.greatest(n_tok - 1, F.lit(0)))
                / F.greatest(n_tok, F.lit(1)),
                6,
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.round(stop / F.greatest(n_tok, F.lit(1)), 6),
        )
        .withColumn(
            "quality_score",
            F.round(
                F.least(F.col("stopword_ratio") * 2, F.lit(1.0)) * 0.4
                + (1 - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.3
                + F.least(n_tok / 100.0, F.lit(1.0)) * 0.3,
                6,
            ),
        )
    )


def with_lang_pred(df: DataFrame, text: str = "text") -> DataFrame:
    """Stopword-vote language ID; ties broken by language order (sorted);
    zero votes → 'unknown'."""
    padded = F.concat(F.lit(" "), F.col(text), F.lit(" "))
    scores = {
        lang: sum(
            (F.size(F.split(padded, f" {w} ")) - 1 for w in words),
            F.lit(0),
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return df.withColumn("lang_pred", pred)


def token_hash_col():
    """Shared 32-bit token hash: int of first 8 md5 hex chars — identical
    in Spark (conv) and DuckDB (('0x'||substr(md5(t),1,8))::BIGINT)."""
    return lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")


def doc_fingerprint(df: DataFrame, text: str = "text", k: int = 8,
                    id_col: str = "doc_id") -> DataFrame:
    """Bottom-k sketch fingerprint: the k smallest 32-bit token hashes per
    document — an order-insensitive near-dup fingerprint (bottom-k minwise
    sketch; same family as the reference's per-block hash index)."""
    h = token_hash_col()
    toks = F.array_distinct(F.split(F.trim(F.col(text)), r"\s+"))
    hashes = F.transform(toks, h)
    return df.select(
        F.col(id_col),
        F.slice(F.array_sort(hashes), 1, k).alias("fingerprint"),
    ).where(F.length(F.trim(F.col(text))) > 0)

def passage_segments(df: DataFrame, text: str = "text",
                     id_col: str = "doc_id",
                     seg_tokens: int = 20) -> DataFrame:
    """Fixed-size token segments per document: (id, seg_id, seg_hash).

    Sub-document granularity for passage-level dedup — the same fixed-size
    split idea as the reference's ModeFixed splitter (writer.go NewWriter
    fixed mode), lifted from bytes to whitespace tokens so it composes
    with the text operators. Pure JVM expressions: split → per-doc segment
    index explode → slice/concat → sha256. No Python UDFs, no shuffle
    (the explode is row-local); output is ~n_tokens/seg_tokens rows/doc.
    """
    toks = F.split(F.trim(F.col(text)), r"\s+")
    n_segs = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    exploded = (
        df.where(F.length(F.trim(F.col(text))) > 0)
        .select(
            F.col(id_col),
            toks.alias("_toks"),
            F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_id"),
        )
    )
    seg_text = F.concat_ws(
        " ",
        F.slice("_toks", F.col("seg_id") * seg_tokens + 1, seg_tokens),
    )
    return exploded.select(
        F.col(id_col),
        F.col("seg_id"),
        F.sha2(seg_text, 256).alias("seg_hash"),
    )


def passage_dedup_stats(df: DataFrame, text: str = "text",
                        id_col: str = "doc_id",
                        seg_tokens: int = 20) -> DataFrame:
    """First-occurrence dedup at passage granularity (reference J1
    semantics — writer.go:595-601 once-new-always-old — applied to
    sub-document segments): per document, how many of its segments are
    globally new vs already seen in an earlier (id, seg_id) position.

    Skew-safe by construction: the first occurrence per hash comes from
    ``groupBy(seg_hash).agg(min(struct(id, seg_id)))`` — map-side partial
    aggregation collapses a boilerplate passage duplicated 10^6 times to
    one row per map task — NOT from a per-key ordered window, which would
    buffer+sort all 10^6 instances of the hot hash in a single task.

    Join-free: each hash's unique first instance belongs to exactly one
    document, so ``n_new_segs`` is a COUNT over the firsts keyed by the
    first-occurrence document — no join of the full segment set back onto
    the firsts (which would re-shuffle every segment row by hash a second
    time). Two narrow aggregations + a broadcast-sized-per-doc merge
    instead of a segment-cardinality wide join.
    """
    segs = passage_segments(df, text=text, id_col=id_col,
                            seg_tokens=seg_tokens)
    key = F.struct(F.col(id_col), F.col("seg_id"))
    per_doc = segs.groupBy(id_col).agg(F.count("*").alias("n_segs"))
    new_per_doc = (
        segs.groupBy("seg_hash").agg(F.min(key).alias("first_key"))
        .groupBy(F.col(f"first_key.{id_col}").alias(id_col))
        .agg(F.count("*").alias("n_new_segs"))
    )
    n_new = F.coalesce(F.col("n_new_segs"), F.lit(0))
    return per_doc.join(new_per_doc, id_col, "left").select(
        F.col(id_col),
        "n_segs",
        n_new.alias("n_new_segs"),
        F.round(1.0 - n_new / F.col("n_segs"), 6).alias("dup_frac"),
    )


def trigram_array(toks, n):
    """tri[j] = toks[j] + ' ' + toks[j+1] + ' ' + toks[j+2], j = 1..n-2,
    as two ``zip_with`` passes over three shifted slices. Identical
    strings to the per-index ``transform(concat_ws(slice(toks, j, 3)))``
    form (every slice has exactly 3 elements for j ≤ n-2; tokens are
    never null), but ~4× cheaper at bench scale: the interpreted
    per-element work is two string concats instead of allocating a
    3-element array slice per trigram (guide §1.2 'per-task work').
    Caller must guard n >= 3."""
    a = F.slice(toks, 1, n - 2)
    b = F.slice(toks, 2, n - 2)
    c = F.slice(toks, 3, n - 2)
    return F.zip_with(
        F.zip_with(a, b, lambda x, y: F.concat(x, F.lit(" "), y)),
        c,
        lambda xy, z: F.concat(xy, F.lit(" "), z),
    )


def with_repetition(df: DataFrame, text: str = "text") -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText family of
    within-document repetition filters, Rae et al. 2021 §A1.1): fraction
    of duplicate tokens and duplicate word-trigrams. High values flag
    boilerplate/spam for a training-data pipeline. Pure JVM array
    expressions — transform/slice/array_distinct — no shuffle at all.

    The token array is materialized in its OWN projection before the
    trigram lambda touches it: a lambda that captures the raw
    ``split(text)`` expression gets it inlined into the transform body
    (CollapseProject), re-splitting the whole document once per trigram —
    O(n_tokens²) splits per doc, measured 6x slower at bench scale. A
    multiply-referenced non-trivial alias is exempt from project
    collapsing, so the split runs once per row.
    """
    base = df.where(F.length(F.trim(F.col(text))) > 0).withColumn(
        "_toks", F.split(F.trim(F.col(text)), r"\s+")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    tri = F.when(n >= 3, trigram_array(toks, n)).otherwise(
        F.array().cast("array<string>")
    )
    n_tri = F.size(tri)
    return (
        base.withColumn("n_tokens", n)
        .withColumn(
            "dup_token_frac",
            F.round(1.0 - F.size(F.array_distinct(toks)) / n, 6),
        )
        .withColumn(
            "dup_trigram_frac",
            F.when(
                n_tri > 0,
                F.round(1.0 - F.size(F.array_distinct(tri)) / n_tri, 6),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_toks")
    )
