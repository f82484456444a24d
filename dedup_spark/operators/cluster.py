"""Stage 5: connected components — verified edges → cluster ids.

Alternating large-star / small-star connected components (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14): each round every
vertex hooks its larger neighbors onto the minimum of its closed
neighborhood (large-star), then its smaller neighbors onto their minimum
(small-star). Both steps preserve components over the ORIGINAL vertex ids,
the edge set monotonically flattens into per-component stars centered at
the component minimum, and convergence is O(log² n) rounds worst-case —
including long paths, which a naive one-hop min-contraction only shortens
by one vertex per round (that latent linear-round bug is why this
implementation exists; a test drives the loop explicitly). All join+agg —
no driver-side graph state; each round localCheckpoints to cut lineage
(SURVEY.md §4.3).

Cluster id = smallest file_id in the component (deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge list as (u, v) with u < v, no self-loops."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) canon → canon: every neighbor larger than u hooks onto the
    minimum of u's closed neighborhood."""
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    m = F.least(F.col("u"), F.min("v").over(w))
    return (
        sym.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), "v")  # m <= u < v: already canon
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """(u,v) canon → canon: orient to the larger endpoint; it and all its
    smaller neighbors hook onto the smallest of them."""
    big = e.select(F.col("v").alias("u"), F.col("u").alias("v"))  # u > v
    w = Window.partitionBy("u")
    withm = big.withColumn("m", F.min("v").over(w))  # m = min neighbor < u
    hooked = withm.select(F.col("m").alias("u"), F.col("v"))  # (m, v), m <= v
    center = withm.select(F.col("m").alias("u"), F.col("u").alias("v"))
    return (
        hooked.unionAll(center)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


# Round cap of the distributed star rounds: a run that has not converged
# after this many rounds raises instead of returning partial labels.
MAX_CC_ROUNDS = 25


def connected_components(edges: DataFrame, edges_canonical: bool = False,
                         max_edges: int | None = None) -> DataFrame:
    """Return (file_id, cluster_id) for every vertex appearing in edges.

    The per-round shuffles are max(8, parallelism / 4) wide: the star
    rounds flatten the edge set drastically after round one, so a small
    fixed width avoids paying hundreds of near-empty tasks per round.

    ``edges_canonical``: caller guarantees (src < dst, no self-loops, no
    duplicates) — skips the canonicalization shuffle (one exchange + agg
    over the full edge set) on the distributed path. The pipeline's
    verified rep edges qualify: least/greatest-ordered distinct pairs.

    ``max_edges``: the caller's measured upper bound on the input's rows
    (a count of the persisted edges, parquet footer rows, a cache
    barrier's count); ``None`` costs one ``count()`` of the raw edges. At
    or under ``DRIVER_FINALIZE_EDGES`` the edges are collected once as
    they are: the driver labeling ignores duplicates, self-loops and
    orientation.
    """
    spark = edges.sparkSession
    raw = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    if max_edges is None:
        max_edges = raw.count()
    if max_edges <= DRIVER_FINALIZE_EDGES:
        return _driver_cc(spark, raw)

    n_partitions = max(8, spark.sparkContext.defaultParallelism // 4)
    # checkpoint BEFORE narrowing the shuffle width, so the canon lineage
    # (maybe a pair-gen pipeline) runs at full width: narrowed, it ran in
    # 8-task stages carrying ~50 s of 32-core work at sf1.0
    canon = raw if edges_canonical else _canon(edges)
    e = canon.repartition(n_partitions).localCheckpoint(eager=True)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
    try:
        return _cc_rounds(e)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


DRIVER_FINALIZE_EDGES = 500_000  # collect threshold: ~8 MB of (u,v) longs


def _assign_from_edges(pairs) -> dict:  # list of (u,v) or (n,2) array
    """Driver-side connected components over a bounded edge list →
    {vertex: component-min} for every vertex present.

    Vectorized min-label propagation with pointer jumping (numpy): each
    round relaxes every edge to the endpoint minimum, then chases label
    chains to their roots; distances halve per round, so convergence is
    O(log n) vectorized passes. Replaces the pure-Python union-find loop
    here (~0.6 s at 10^5 edges — a fixed driver cost the scaling tail paid
    at every parallelism level); the union-find stays in oracle.py as the
    independent reference implementation the tests compare against."""
    import numpy as np

    if len(pairs) == 0:
        return {}
    e = np.asarray(pairs, dtype=np.int64)
    ids = np.unique(e)
    iu = np.searchsorted(ids, e[:, 0])
    iv = np.searchsorted(ids, e[:, 1])
    # labels are indices into the SORTED id array, so the minimum index of
    # a component is also its minimum id
    label = np.arange(ids.size, dtype=np.int64)
    while True:
        before = label
        m = np.minimum(label[iu], label[iv])
        label = label.copy()
        np.minimum.at(label, iu, m)
        np.minimum.at(label, iv, m)
        while True:  # pointer jumping to the current roots
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
        if np.array_equal(label, before):
            break
    return dict(zip(ids.tolist(), ids[label].tolist()))


def _assign_df(spark, assign: dict) -> DataFrame:
    """assignment dict → DataFrame via pandas/Arrow (an order of magnitude
    faster than pickling row tuples through py4j at ~10^5 rows)."""
    import pandas as pd

    if not assign:
        return spark.createDataFrame([], "file_id long, cluster_id long")
    pdf = pd.DataFrame(
        {"file_id": list(assign.keys()), "cluster_id": list(assign.values())}
    )
    return spark.createDataFrame(pdf)


def _driver_cc(spark, uv: DataFrame) -> DataFrame:
    """Collect a driver-sized (u, v) edge frame and label it locally."""
    pdf = uv.select("u", "v").toPandas()
    return _assign_df(spark, _assign_from_edges(pdf[["u", "v"]].to_numpy()))


def _cc_rounds(e: DataFrame) -> DataFrame:
    spark = e.sparkSession
    # star rounds keep edges on ORIGINAL vertex ids (no supernode
    # contraction), so at any point the current edge set has exactly the
    # original components — both the driver finalize and the converged
    # labeling read assignments straight off it.
    prev_sig = None
    converged = False
    for _ in range(MAX_CC_ROUNDS):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # count + order-independent XOR of per-edge hashes: an unchanged
        # pair means an unchanged (distinct) edge set. bit_xor, not sum —
        # summing 64-bit hashes overflows under ANSI arithmetic.
        sig = e2.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            e = e2
            converged = True
            break
        prev_sig = sig
        e = e2
        if sig[0] <= DRIVER_FINALIZE_EDGES:
            # small remainder: finish on the driver (saves the last few
            # rounds of stage-barrier latency)
            return _driver_cc(spark, e)
    if not converged:
        # NEVER return silently-partial labels (the failure mode of the
        # round-2 one-hop contraction on long paths)
        raise RuntimeError(
            f"connected_components did not converge in {MAX_CC_ROUNDS} "
            "rounds"
        )
    # fixpoint: every component is a star (center=min). Validate before
    # trusting the labels — star-ness means no vertex is both a leaf and a
    # center (one tiny aggregation, guards against a non-star fixpoint of
    # the composed rounds ever slipping through the signature check).
    if e.select("u").intersect(e.select(F.col("v").alias("u"))).limit(1).count():
        raise RuntimeError("connected_components fixpoint is not a star set")
    # label leaves by their center, centers by themselves
    leaves = e.select(F.col("v").alias("file_id"), F.col("u").alias("cluster_id"))
    centers = e.select(F.col("u").alias("file_id"), F.col("u").alias("cluster_id"))
    return leaves.unionAll(centers).distinct()


def cluster_assignments(corpus_ids: DataFrame, edges: DataFrame,
                        edges_canonical: bool = False,
                        max_edges: int | None = None) -> DataFrame:
    """All files → cluster id: each file takes the component label of its
    ``rep`` (a file is its own rep without a ``rep`` column), and a rep on
    no edge labels itself. ``max_edges``: see ``connected_components``."""
    cc = connected_components(edges, edges_canonical=edges_canonical,
                              max_edges=max_edges)
    rep = F.col("rep") if "rep" in corpus_ids.columns else F.col("file_id")
    return (
        corpus_ids.select("file_id", rep.alias("rep"))
        .join(cc.withColumnRenamed("file_id", "rep"), "rep", "left")
        .select(
            "file_id",
            F.coalesce("cluster_id", F.col("rep")).alias("cluster_id"),
        )
    )


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    return (
        assignments.groupBy("cluster_id")
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), "cluster_id")
    )
