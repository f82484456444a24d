"""Exact-sketch group contraction — exact dedup before near-dup.

Files whose (bottom-k distinct) shingle sketches are IDENTICAL are, by the
pipeline's own similarity definition, pairwise duplicates with Jaccard
exactly 1. Collapsing each such group to one representative before
LSH/verify is the file-granularity analog of the reference splitter's
once-new-always-old index probe (/root/reference/writer.go:595-601): the
first occurrence (min file_id) represents the group everywhere downstream.

Why this is THE 100 TB lever: corpora are exact-copy heavy, and a
power-law giant cluster of N exact copies otherwise costs O(N²) verify
pairs and O(N²) CC edges. With contraction the quadratic surface exists
only where the user explicitly asks for the materialized pair list
(``expand_group_edges``); candidate generation, verification, and
clustering all run on group representatives.

This module owns the whole group layer: the key (``group_keys``), the one
(g1, g2) window that assigns ``rep`` and ``group_size``
(``group_window``), and the one representative → member expansion
(``expand_member_pairs``) that the pipeline's ``edges`` surface, the
incremental state's ``expanded_edges`` and the band query all use, and
that expansion's pair count from group sizes (``expanded_edge_count``).

The expansion is BLOCKED: each group's members are collected into
``ceil(group_size / MEMBER_BLOCK)`` id arrays, a rep pair joins the
blocks of its src group, explodes, joins the blocks of its dst group and
explodes again. A row-level membership join emits every expanded pair
through a hash-relation probe iterator — microbenched 26 s against ~3 s
for the blocked form on the same ~666M pairs (sf1.0, 32 cores). The
blocks bound every array row, so no row grows with a mega-group. Two
chained explodes in one codegen stage copy-buffer their whole nested
product (JFR: 17 GB of row copies, >1,400 s of GC at sf1.0), so the two
Generates sit in separate stages behind ``(dst, src)`` / ``(dst, a)``
exchanges — unless the MEASURED member count proves the worst case
C(n, 2) is at most ``FUSED_MAX_PAIRS``, where fused codegen is
sub-second and the exchanges only add barrier wall. Every caller has that
count (the pipeline's cache count, the incremental members footers, the
band query's cache count), so the gate decides from measured sizes only.

Correctness: the group key covers the FULL signature row — shingle
sketch, MinHash vector, and SimHash. (Sketch equality alone does NOT
imply MinHash equality once a file has more than ``max_shingles``
distinct shingles, since MinHash is computed over the full shingle
stream.) With the full-signature key: identical MinHash ⇒ identical band
buckets, so representative-level candidate coverage equals member-level
coverage exactly; jaccard(a,b) = jaccard(rep_A, rep_B) exactly (the
verify metric is a function of the sketch alone); and within-group pairs
genuinely have hamming 0. Group keys are two independent 64-bit hashes
(128 bits total) so key collisions are negligible even at 10^12 files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .lsh import salted_pairs  # the ONE pair-gen ladder in the repo

# Members per id block of the expansion, and per salted block of the
# within-group pairs: no array row or block-pair task grows with a group.
MEMBER_BLOCK = 1024
# Worst-case expanded-pair count under which the expansion runs fully
# fused (no fusion-break / spread exchanges): ~50M narrow rows of
# copy-buffering, sub-second, while the exchanges cost ~0.8 s of barrier
# and shuffle wall (band query A/B at sf0.1: 4.0 -> 3.2 s warm).
FUSED_MAX_PAIRS = 50_000_000

_SIG = ("shingles", "minhash", "simhash")


def key_columns(cols: tuple[str, ...] = _SIG) -> tuple[Column, Column]:
    """The two independent 64-bit halves of the group key over ``cols``
    (the full signature by default; the band query keys its 16-value
    MinHash array)."""
    return F.xxhash64(*cols), F.xxhash64(F.lit(1), *cols)


def group_keys(signatures: DataFrame) -> DataFrame:
    """(file_id, g1, g2): the 128-bit full-signature group key, computed
    PER ROW with no shuffle — the rows of the incremental fold's
    ``members`` state (streaming.py), whose prior partitions answer
    born-group detection by key presence instead of re-windowing the
    cumulative signature table. Files with no shingles are excluded
    (they never participate in matching)."""
    g1, g2 = key_columns()
    return signatures.where(F.col("n_shingles") > 0).select(
        "file_id", g1.alias("g1"), g2.alias("g2")
    )


def group_window(keyed: DataFrame) -> DataFrame:
    """``keyed`` rows + (rep, group_size) over the (g1, g2) group key.

    A window, not groupBy + join-back: ONE scan of the keyed frame and
    ONE exchange on the 128-bit key."""
    w = Window.partitionBy("g1", "g2")
    return keyed.select(
        "*",
        F.min("file_id").over(w).alias("rep"),
        F.count("*").over(w).alias("group_size"),
    )


def with_groups(signatures: DataFrame) -> DataFrame:
    """Signature rows + (g1, g2, rep, group_size) in ONE wide exchange.

    The window runs over the full signature rows, so the representative
    FILTER (``file_id = rep``) needs no second exchange of the wide table:
    the pipeline stages this frame once and derives signatures, groups and
    rep_sigs as projections. Zero-shingle files get a unique per-file
    group key (they never participate in matching, and a shared
    empty-signature key would otherwise weld all empty files into one
    bogus group), so the frame keeps every input row.
    """
    empty = F.col("n_shingles") == 0
    g1, g2 = key_columns()
    keyed = signatures.withColumn(
        "g1", F.when(empty, F.xxhash64(F.lit(-1), "file_id")).otherwise(g1)
    ).withColumn(
        "g2", F.when(empty, F.xxhash64(F.lit(-2), "file_id")).otherwise(g2)
    )
    return group_window(keyed)


def group_star_pairs(groups: DataFrame) -> DataFrame:
    """Linear (rep, member) spanning edges — all a member-level cluster
    stage needs to connect each group internally. Callers: the serve path
    (``streaming.current_clusters``) and perfbench's traced layer; the
    batch pipeline clusters the rep graph and needs none."""
    return (
        groups.where(F.col("file_id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("file_id").alias("dst"))
    )


def within_group_pairs(groups: DataFrame) -> DataFrame:
    """ALL member pairs of every group (jaccard exactly 1) — the quadratic
    pair surface, materialized only for pair-level outputs/audits.

    Routed through the UNCAPPED salted-block ladder keyed on ``rep``
    (VERDICT r4 #1): the audit contract demands the complete pair set, so
    nothing is dropped, but a 10^5-member exact-dup boilerplate group is
    split into ceil(n/MEMBER_BLOCK)² block-pair tasks instead of one task
    flattening all C(n,2) pairs. No trailing distinct: reps partition the
    ids, so each pair reaches exactly one bucket and the block scheme
    emits it exactly once."""
    members = groups.where(F.col("group_size") > 1).select("rep", "file_id")
    return salted_pairs(
        members, MEMBER_BLOCK, None, key_cols=("rep",), dedupe=False,
    ).select(
        "src",
        "dst",
        F.lit(0).alias("hamming"),
        F.lit(1.0).alias("jaccard"),
        F.lit(True).alias("verified"),
    )


def expand_member_pairs(rep_pairs: DataFrame, groups: DataFrame,
                        n_members: int) -> DataFrame:
    """Representative pairs → member pairs: (src, dst, *extra) rows whose
    endpoints are group reps become one row per (member of src's group,
    member of dst's group), as (least, greatest, *extra). Every other
    column of ``rep_pairs`` is carried unchanged.

    ``groups`` holds (file_id, rep, group_size) per member. ``n_members``
    is a measured upper bound on the member count: it decides whether the
    two Generates may fuse (module docstring). Both plan shapes emit the
    same rows."""
    extra = [c for c in rep_pairs.columns if c not in ("src", "dst")]
    fused = n_members * (n_members - 1) // 2 <= FUSED_MAX_PAIRS
    p = rep_pairs.sparkSession.sparkContext.defaultParallelism * 2
    nb = F.ceil(F.col("group_size") / MEMBER_BLOCK).cast("int")
    blocks = (
        groups.select(
            "rep", "file_id",
            F.pmod(F.xxhash64("file_id"), nb).cast("int").alias("blk"),
        )
        .groupBy("rep", "blk")
        .agg(F.collect_list("file_id").alias("ids"))
        .drop("blk")
    )
    if not fused:
        # fusion break: an upstream aggregate (the pair ladder's dedupe)
        # fused into the expansion stage would copy-buffer every expanded
        # row. Keyed (dst, src), NOT the dedupe exchange's (src, dst),
        # which Catalyst would treat as already satisfied and elide
        rep_pairs = rep_pairs.repartition(p, "dst", "src")
    half = rep_pairs.join(
        blocks.withColumnsRenamed({"rep": "src", "ids": "a_ids"}), "src"
    ).select("dst", F.explode("a_ids").alias("a"), *extra)
    if not fused:
        # spread a mega-group destination's expansion across every task
        half = half.repartition(p, "dst", "a")
    return (
        half.join(
            blocks.withColumnsRenamed({"rep": "dst", "ids": "b_ids"}), "dst"
        )
        .select("a", F.explode("b_ids").alias("b"), *extra)
        .select(
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("dst"),
            *extra,
        )
    )


def expand_group_edges(edges_rep: DataFrame, groups: DataFrame,
                       n_members: int) -> DataFrame:
    """Representative-level edges → member-level pair list:

    * verified rep pairs fan out to every (member of src-group, member of
      dst-group) combination — same jaccard/hamming by sketch equality;
    * every within-group pair is emitted with jaccard 1;
    * unverified rep pairs pass through unexpanded (diagnostic surface).
    """
    cols = ["src", "dst", "hamming", "jaccard", "verified"]
    edges_rep = edges_rep.select(*cols)
    cross = expand_member_pairs(
        edges_rep.where("verified"), groups, n_members
    )
    rejected = edges_rep.where(~F.col("verified"))
    return cross.unionByName(within_group_pairs(groups)).unionByName(rejected)


def expanded_edge_count(edges_rep: DataFrame, groups: DataFrame) -> int:
    """The verified row count of ``expand_group_edges(edges_rep, groups,
    ...)`` in one aggregate, without expanding a pair: ΣC(s, 2) over the
    group sizes plus Σ s_src·s_dst over the verified rep edges."""
    size = groups.where(F.col("file_id") == F.col("rep")).select(
        "rep", F.col("group_size").alias("s"))
    within = size.select(F.expr("s * (s - 1) div 2").alias("n"))
    cross = (
        edges_rep.where("verified")
        .join(size.withColumnsRenamed({"rep": "src", "s": "a"}), "src")
        .join(size.withColumnsRenamed({"rep": "dst", "s": "b"}), "dst")
        .select((F.col("a") * F.col("b")).alias("n"))
    )
    return within.unionByName(cross).agg(F.sum("n")).first()[0] or 0
