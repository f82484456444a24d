"""Stage 4a: LSH banding — signatures → candidate pairs (SURVEY.md J7).

Plan shape (all relational):

  signatures
    → explode K minhash values into b bands of r rows        (JVM-side)
    → band_hash = xxhash64(band_id, r-slice)                 (JVM-side)
    → mega-bucket pre-filter: partial-agg count on the band key (shuffle
      volume = distinct keys) finds >max_bucket·salt keys; they are
      broadcast-anti-joined out so no window task ever buffers one
    → shuffle on (band_id, band_hash); bucket sizes via a window count
      over that partitioning (no join back)
    → skew ladder per bucket size s (north_rule: explicit skew handling,
      no silent truncation):
        s ≤ max_bucket          → one block: the pair join degenerates to
          a per-bucket self-join with zero replication
        s ≤ max_bucket·salt     → SALTED pair-gen: members split into
          ceil(s/max_bucket) blocks; every block pair (i ≤ j) becomes its
          own join key of a co-partitioned merge self-join, so no task
          ever buffers more than ~max_bucket members per side.
          Recall-neutral — every member pair lands in exactly one block
          pair.
        s > max_bucket·salt     → dropped and COUNTED (true boilerplate
          mega-buckets: quadratic pair-gen is never the right answer
          there at any parallelism)
    → distinct pairs

The drop is never silent: ``dropped_bucket_aggs`` is the one definition of
its counters, read as ``run_pipeline``'s ``candidate_metrics``
(``dropped_bucket_metrics``) and observed by the incremental fold on its
band universe (``metrics.jsonl``). The ladder itself emits pairs only.

The window count buffers each bucket group in-partition
(ExternalAppendOnlyUnsafeRowArray — spills, never OOMs); the merge join
buffers one ≤max_bucket block per key (same spillable array). At
100 TB the band shuffle is the dominant cost: payload is
(band_hash, file_id) only — 16 bytes a row — never content or signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DedupConfig


def band_buckets(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Explode signatures into (band_id, band_hash, file_id)."""
    r = cfg.rows_per_band
    # slice(minhash, band*r+1, r) per band; band ids 0..b-1
    bands = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
            lambda band: F.struct(
                band.alias("band_id"),
                F.xxhash64(
                    band, F.slice(F.col("minhash"), band * r + 1, r)
                ).alias("band_hash"),
            ),
        )
    )
    return (
        signatures.where(F.col("n_shingles") > 0)  # empty files never match
        .select("file_id", bands.alias("band"))
        .select("file_id", "band.band_id", "band.band_hash")
    )


def dropped_bucket_aggs(salt_cap: int) -> list[Column]:
    """The dropped-bucket counters as aggregates over rows that carry
    their bucket's ``bucket_size``: rows of buckets larger than
    ``salt_cap``, those buckets (each of s dropped rows adds 1/s, so no
    sort or distinct is needed) and the largest of them. All three read 0
    when nothing is dropped."""
    size = F.col("bucket_size")
    dropped = size > salt_cap
    return [
        F.round(F.coalesce(F.sum(F.when(dropped, 1.0 / size)), F.lit(0.0)))
        .cast("long").alias("dropped_buckets"),
        F.count(F.when(dropped, 1)).alias("dropped_rows"),
        F.coalesce(F.max(F.when(dropped, size)), F.lit(0)).alias(
            "max_bucket_size"),
    ]


def dropped_bucket_metrics(signatures: DataFrame,
                           cfg: DedupConfig) -> DataFrame:
    """The candidate ladder's dropped-bucket accounting as a LAZY one-row
    frame (``dropped_bucket_aggs`` over the band buckets, sized by a
    window count). ``run_pipeline`` returns it as ``candidate_metrics``,
    planned on first read; it costs a job only when collected."""
    w = Window.partitionBy("band_id", "band_hash")
    return band_buckets(signatures, cfg).select(
        F.count(F.lit(1)).over(w).alias("bucket_size")
    ).agg(*dropped_bucket_aggs(cfg.max_bucket * max(1, cfg.salt)))


# Below this many band rows the mega-bucket PRE-FILTER is cost-gated
# off: its dedicated aggregation job + broadcast future serialize ~1 s of
# driver latency per run, while the damage it prevents — one window task
# buffering a whole boilerplate bucket in a spillable array before the
# cap drops it — is bounded by TOTAL band rows, i.e. ≤ ~80 MB of 16-byte
# rows at this threshold (linear scan + spill, not a quadratic blow-up).
# Callers pass a measured row count (the pipeline's cache barrier count).
PREFILTER_MIN_BAND_ROWS = 5_000_000


def candidate_pairs(signatures: DataFrame, cfg: DedupConfig,
                    n_rows: int) -> DataFrame:
    """Distinct (src, dst) candidate pairs from banded MinHash.

    ``band_buckets`` explodes each signature into one (band_id,
    band_hash, file_id) row per band; ``salted_pairs`` runs the skew
    ladder over those buckets. Each bucket is counted by a window over an
    explicit fixed-width repartition on the bucket key and split into
    ``nb = ceil(size / max_bucket)`` blocks (``nb = 1``, the common case,
    is plain in-bucket pair generation with no replication). Every block
    pair (i ≤ j) is a key of a co-partitioned sort-merge SELF-JOIN on
    (bucket key, i, j), so no task holds more than ~2·max_bucket members
    and pairs stream out of the join with no per-task array. A
    repartition + dropDuplicates on (src, dst) then removes pairs that
    several bands found. Buckets beyond ``max_bucket * salt`` are
    excluded — by a mega-bucket pre-filter (a groupBy count and a
    broadcast anti-join ahead of the window) or, with it gated off, by a
    cap inside the window pass — and counted by ``dropped_bucket_metrics``
    over the same signatures: explicit skew handling instead of a silent
    quadratic blow-up.

    ``n_rows``: measured signature-row count (the pipeline's cache barrier
    returns it for free). Small measured inputs drop the mega-bucket
    pre-filter job — the cap still applies inside the window pass, so the
    pair OUTPUT is identical; only the plan shape changes.
    """
    prefilter = n_rows * cfg.bands > PREFILTER_MIN_BAND_ROWS
    return salted_pairs(
        band_buckets(signatures, cfg), cfg.max_bucket, cfg.salt,
        prefilter=prefilter,
    )


def salted_pairs(buckets: DataFrame, max_b: int, salt: int | None,
                 key_cols: tuple[str, ...] = ("band_id", "band_hash"),
                 dedupe: bool = True,
                 prefilter: bool = True) -> DataFrame:
    """The skew-laddered pair generator over arbitrary bucket frames.

    ``buckets`` holds one row per (bucket key, ``file_id``); the key
    columns are parametric so every bucketed pair-gen in the repo (MinHash
    band buckets, the within-exact-group audit expansions, salted block
    tests) shares ONE implementation of the ladder:
      size ≤ max_b        → direct in-partition pair-gen
      size ≤ max_b·salt   → salted blocks, ≤ ~2·max_b members per task
      size > max_b·salt   → dropped; the ladder returns pairs only, and
                            ``dropped_bucket_aggs`` counts the drop

    ``salt=None`` runs the ladder UNCAPPED: nothing is ever dropped, but
    every bucket still flows through the salted-block scheme, so no single
    task materializes more than ~2·max_b members' pairs — the contract the
    audit/parity surfaces need (they must emit the complete pair set, yet
    a 10^5-member exact-dup boilerplate group must not land C(n,2) pairs
    in one task). ``dedupe=False`` skips the trailing distinct exchange —
    correct whenever each member pair can reach at most one bucket (e.g.
    bucket key = the group key of a partition of the ids), where the block
    scheme already emits each pair exactly once.
    """
    keys = list(key_cols)
    cap = None
    cold = buckets
    if salt is not None:
        salt_cap = max_b * max(1, salt)
        if prefilter:
            # mega-bucket pre-filter (ADVICE r2): the window pass buffers
            # each bucket in ONE task's spillable array, so a power-law
            # boilerplate band would serialize a whole task on rows that
            # are dropped anyway. A groupBy count first (map-side partial
            # agg — shuffle volume is distinct keys, not rows) finds the
            # >salt_cap keys; they are broadcast-anti-joined out BEFORE
            # the window ever buffers them. Hot keys are bounded by
            # total_rows/salt_cap (each needs >salt_cap rows), so the
            # broadcast side stays tiny by construction.
            hot = (
                buckets.groupBy(*keys)
                .agg(F.count("*").alias("bucket_size"))
                .where(F.col("bucket_size") > salt_cap).select(*keys)
            )
            cold = buckets.join(F.broadcast(hot), keys, "left_anti")
        else:
            # cost-gated OFF for measured-small inputs (candidate_pairs):
            # the cap moves inside the window pass — same buckets dropped,
            # identical pair output — and the tail loses the pre-filter's
            # dedicated job + serialized broadcast future. Worst case a
            # task buffers every band row of the (small) input once,
            # linearly, before the cap filter drops the bucket.
            cap = salt_cap
    pairs = _block_pairs(cold, max_b, keys, cap=cap)
    if dedupe:
        # dropDuplicates over an explicitly-numbered repartition on the
        # pair key: one exchange (the aggregate reuses the partitioning),
        # and the explicit width keeps AQE from coalescing the deduped
        # pair set to a handful of tasks — consumers fan each pair out
        # quadratically (group expansion), so byte-based coalescing here
        # starves every downstream stage (guide §2.5).
        p = pairs.sparkSession.sparkContext.defaultParallelism * 2
        pairs = pairs.repartition(p, "src", "dst").dropDuplicates()
    return pairs


def _block_sides(cold: DataFrame, max_b: int, keys: list[str],
                 cap: int | None = None):
    """Bucket members → the two sides of the block-pair join (see
    ``_block_pairs``) and the width of its explicit exchanges. Split out
    so tests can assert the per-task member-count bound directly.
    ``cap``: drop buckets larger than this AFTER the window count (the
    no-pre-filter plan shape)."""
    n_partitions = cold.sparkSession.sparkContext.defaultParallelism * 2
    # bucket sizes via a window over an EXPLICIT fixed-width repartition:
    # with a plain shuffle AQE coalesces this exchange by its (tiny) input
    # bytes — measured: one task carrying the whole giant-bucket block
    # explode for 17 s at sf1.0 — and an explicitly-numbered repartition
    # is exempt from coalescing. Width = 2x parallelism, scale-adaptive.
    w = Window.partitionBy(*keys)
    size_ok = F.col("bucket_size") >= 2
    if cap is not None:
        size_ok = size_ok & (F.col("bucket_size") <= cap)
    counted = (
        cold.repartition(n_partitions, *[F.col(k) for k in keys])
        .withColumn("bucket_size", F.count("*").over(w))
        .where(size_ok)
    )
    nb = F.ceil(F.col("bucket_size") / max_b).cast("int")
    base = counted.select(
        *keys,
        "file_id",
        F.pmod(F.xxhash64("file_id"), nb).cast("int").alias("blk"),
        nb.alias("nb"),
    )
    # a member of block b sits on the LEFT of tasks (b, t) for t >= b and
    # on the RIGHT of tasks (t, b) for t <= b; the diagonal task (b, b)
    # sees it on both sides and keeps ordered pairs only.
    left = base.select(
        *keys,
        F.col("file_id").alias("_lid"),
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.col("nb") - 1)).alias("bj"),
    )
    right = base.select(
        *keys,
        F.col("file_id").alias("_rid"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
    )
    return left, right, n_partitions


def _block_pairs(cold: DataFrame, max_b: int, keys: list[str],
                 cap: int | None = None) -> DataFrame:
    """Salted-block pair generation as a CO-PARTITIONED SORT-MERGE
    SELF-JOIN on (bucket key, block i, block j).

    The previous shape — collect_list the two block member lists per task,
    then explode ``flatten(transform(...))`` struct arrays — materialized
    every task's C(~max_b²) pair array through interpreted higher-order
    functions before the Generate: event-log measured 909 s of GC in
    1003 s of task time on the giant-group expansion at sf1.0 (guide §7.1
    "high GC time = memory pressure"). The join form streams the same
    pair set out of whole-stage-codegen SortMergeJoin with no per-task
    array allocation at all; each join key still carries ≤ ~max_b members
    per side (the salted-block bound), so no task buffers more than one
    block — the same 100 TB contract, minus the allocation storm.

    Exactly-once: pair (x, y), blk(x)=a ≤ blk(b)=b, matches only on task
    key (a, b) — off-diagonal once with x on the left, y on the right;
    diagonal tasks keep ``_lid < _rid`` ordered pairs only.

    Both sides are explicitly repartitioned to the same fixed width on
    the full join key, so the merge join reuses those exchanges (no AQE
    re-coalescing, no planner-chosen broadcast: a MERGE hint pins the
    strategy — pair-gen output is quadratically larger than its input,
    so size-estimate-driven strategy/coalesce decisions are always wrong
    here).
    """
    left, right, n_partitions = _block_sides(cold, max_b, keys, cap)
    jk = [*keys, "bi", "bj"]
    part = [F.col(k) for k in jk]
    left = left.repartition(n_partitions, *part)
    right = right.repartition(n_partitions, *part)
    return (
        left.hint("merge")
        .join(right, jk)
        .where((F.col("bi") != F.col("bj")) | (F.col("_lid") < F.col("_rid")))
        .select(
            F.least("_lid", "_rid").alias("src"),
            F.greatest("_lid", "_rid").alias("dst"),
        )
    )
