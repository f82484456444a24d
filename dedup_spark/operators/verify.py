"""Stage 4b: candidate verification — pairs → edges (SURVEY.md J8).

Three gates, cheapest first:
1. SimHash hamming prefilter: ``bit_count(simhash_src XOR simhash_dst)``
   — one JVM expression, kills wildly-dissimilar candidates.
2. Exact shingle-set Jaccard: per-file shingle-hash sets are joined to the
   pair and intersected with ``array_intersect`` — still JVM-side; this is
   the ground-truth similarity at the configured shingle/window config,
   not an estimate.
3. Optional suffix-array longest-common-substring gate (numpy,
   applyInPandas) for byte-level confirmation (north_star's "suffix-array
   based LCS filter") — off by default (min_lcs=0); the exact Jaccard gate
   already decides at shingle granularity.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig


def verify_pairs(pairs: DataFrame, signatures: DataFrame,
                 shingles: DataFrame | None, cfg: DedupConfig) -> DataFrame:
    """pairs (src,dst) → verified edges with exact Jaccard.

    Returns (src, dst, hamming, jaccard, verified). ``signatures`` carries
    ``file_id``, ``simhash`` and the ``shingles`` sketch. The ``shingles``
    argument is ignored; it stays positional for existing callers.

    Size-tiered shuffle (the 100 TB lever on the verify stage): when the
    hamming gate is active (``simhash_hamming_max < 64``) the pair rows
    first join only the 8-byte simhash per endpoint, and the ~8 KB
    bottom-k shingle sketches (config.py max_shingles) are joined ONLY for
    the pairs that survive the gate — pair-row shuffle payload through the
    wide joins drops from ~2·8 KB·|pairs| to ~16 B·|pairs| +
    8 KB·|survivors|. With the gate off (the default decider is exact
    Jaccard) two narrow extra joins buy nothing, so the single-phase plan
    is kept.
    """
    # simhash and the shingle set come from the same signature row; in the
    # single-phase plan they ride one join per pair side. The kernel emits
    # shingle sketches via np.unique (sorted + distinct already), so no
    # array_distinct pass is needed here.
    if cfg.simhash_hamming_max < 64:
        narrow = signatures.select("file_id", "simhash")
        gated = (
            pairs
            .join(narrow.withColumnsRenamed(
                {"file_id": "src", "simhash": "simhash_src"}), "src")
            .join(narrow.withColumnsRenamed(
                {"file_id": "dst", "simhash": "simhash_dst"}), "dst")
            .withColumn(
                "hamming",
                F.bit_count(
                    F.col("simhash_src").bitwiseXOR(F.col("simhash_dst"))
                ),
            )
            .where(F.col("hamming") <= cfg.simhash_hamming_max)
            .select("src", "dst", "hamming")
        )
        sets = signatures.select(
            "file_id", F.col("shingles").alias("shingle_set"))
        e = (
            gated
            .join(sets.withColumnsRenamed(
                {"file_id": "src", "shingle_set": "set_src"}), "src")
            .join(sets.withColumnsRenamed(
                {"file_id": "dst", "shingle_set": "set_dst"}), "dst")
        )
    else:
        side = signatures.select(
            "file_id", "simhash", F.col("shingles").alias("shingle_set")
        )
        e = (
            pairs
            .join(side.withColumnsRenamed({
                "file_id": "src", "simhash": "simhash_src",
                "shingle_set": "set_src",
            }), "src")
            .join(side.withColumnsRenamed({
                "file_id": "dst", "simhash": "simhash_dst",
                "shingle_set": "set_dst",
            }), "dst")
            .withColumn(
                "hamming",
                F.bit_count(
                    F.col("simhash_src").bitwiseXOR(F.col("simhash_dst"))
                ),
            )
            .where(F.col("hamming") <= cfg.simhash_hamming_max)
        )
    return (
        e
        .withColumn("n_common", F.size(F.array_intersect("set_src", "set_dst")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("set_src") + F.size("set_dst") - F.col("n_common")),
        )
        .withColumn("verified", F.col("jaccard") >= cfg.jaccard_threshold)
        .select("src", "dst", "hamming", "jaccard", "verified")
    )


def apply_lcs_gate(edges: DataFrame, corpus: DataFrame, cfg: DedupConfig,
                   content_col: str = "content",
                   id_col: str = "file_id") -> DataFrame:
    """Optional byte-level confirmation (north_star's suffix-array LCS
    filter): demote verified edges whose longest common substring is
    shorter than ``cfg.min_lcs``. Only verified pairs pay the content
    join + O((|a|+|b|) log) suffix-array cost."""
    if cfg.min_lcs <= 0:
        return edges
    c = corpus.select(F.col(id_col).alias("fid"), F.col(content_col).alias("c"))
    cand = (
        edges.where("verified")
        .join(c.withColumnsRenamed({"fid": "src", "c": "content_src"}), "src")
        .join(c.withColumnsRenamed({"fid": "dst", "c": "content_dst"}), "dst")
        .select("src", "dst", "content_src", "content_dst")
    )
    passed = lcs_filter(cand, cfg.min_lcs).select("src", "dst").withColumn(
        "lcs_ok", F.lit(True)
    )
    return (
        edges.join(passed, ["src", "dst"], "left")
        .withColumn(
            "verified",
            F.col("verified") & F.coalesce("lcs_ok", F.lit(False)),
        )
        .drop("lcs_ok")
    )


def _suffix_array(s: np.ndarray) -> np.ndarray:
    """O(n log^2 n) prefix-doubling suffix array (numpy argsort based)."""
    n = s.size
    sa = np.argsort(s, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.cumsum(np.r_[0, np.diff(s[sa]) != 0])
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        new_rank = np.empty(n, dtype=np.int64)
        r_o = rank[order]
        k_o = key2[order]
        changed = np.r_[0, ((np.diff(r_o) != 0) | (np.diff(k_o) != 0)).astype(np.int64)]
        new_rank[order] = np.cumsum(changed)
        rank = new_rank
        if rank.max() == n - 1:
            break
        k <<= 1
    sa = np.argsort(rank, kind="stable")
    return sa


def longest_common_substring(a: bytes, b: bytes) -> int:
    """LCS length via suffix array + Kasai LCP over ``a#b`` (numpy)."""
    if not a or not b:
        return 0
    na = len(a)
    s = np.frombuffer(a, dtype=np.uint8).astype(np.int64)
    t = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    joined = np.r_[s, np.int64(-1), t]  # separator below byte range
    sa = _suffix_array(joined)
    n = joined.size
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    # Kasai LCP
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            while i + h < n and j + h < n and joined[i + h] == joined[j + h] \
                    and joined[i + h] != -1:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    best = 0
    side = sa < na  # True = suffix starts in a
    for r in range(1, n):
        if side[r] != side[r - 1]:
            if lcp[r] > best:
                best = int(lcp[r])
    return best


def lcs_filter(pairs_with_content: DataFrame, min_lcs: int) -> DataFrame:
    """applyInPandas LCS gate over (src, dst, content_src, content_dst)."""
    import pandas as pd

    def check(it):
        for pdf in it:
            lcs = [
                longest_common_substring((a or "").encode(), (b or "").encode())
                for a, b in zip(pdf["content_src"], pdf["content_dst"])
            ]
            out = pdf[["src", "dst"]].copy()
            out["lcs"] = pd.array(lcs, dtype="int64")
            yield out[out["lcs"] >= min_lcs]

    return pairs_with_content.mapInPandas(check, "src long, dst long, lcs long")
