"""End-to-end near-dup pipeline with checkpoint/resume + per-stage metrics.

Stage DAG (north_star):
  corpus → signatures + groups → candidates (LSH over group reps) →
  edges_rep (verify) → clusters (CC over the verified rep edges; each
  member takes its rep's label)

Every stage can checkpoint to ``workdir/<stage>`` (parquet + _SUCCESS);
``resume=True`` skips any stage whose checkpoint exists — the reference's
error-latch/drain protocol (writer.go:380-388) becomes idempotent
stage-overwrite + skip-if-done (SURVEY.md §2.7). A ``metrics`` table
records per-stage, per-output-file lineage (rows, bytes, wall_ms).

Storage: plain parquet directories in the sandbox; the same API writes
Iceberg tables when an iceberg-spark-runtime jar + catalog are configured
(no Maven access here — SURVEY.md §7 environment facts).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Mapping

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig

# Bump whenever a checkpointed stage's SEMANTICS change (round 2: stages
# moved from member-level to representative-level frames). Folded into the
# checkpoint fingerprint so resume over an old workdir recomputes instead
# of silently loading stale-semantics data.
PIPELINE_SEMVER = 2


def config_fingerprint(cfg: DedupConfig) -> str:
    """Canonical JSON of every semantics-bearing knob + the pipeline
    schema version. A checkpoint written under a different fingerprint is
    never resumed: round-2's near-miss was ``resume=True`` over a workdir
    whose 'candidates' held member-level pairs under rep-level semantics —
    the silent-drop class this guard closes."""
    import dataclasses

    d = dataclasses.asdict(cfg)
    return json.dumps({"semver": PIPELINE_SEMVER, **d}, sort_keys=True)


class Checkpointer:
    def __init__(self, spark: SparkSession, workdir: str | None,
                 fingerprint: str):
        self.spark = spark
        self.workdir = workdir
        self.fingerprint = fingerprint
        if workdir:
            os.makedirs(workdir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def has(self, stage: str) -> bool:
        if not (self.workdir and os.path.exists(
                os.path.join(self._path(stage), "_SUCCESS"))):
            return False
        fp_file = os.path.join(self._path(stage), "_fingerprint.json")
        try:
            with open(fp_file) as f:
                return f.read() == self.fingerprint
        except OSError:
            return False  # fingerprint never landed: recompute

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._path(stage))

    def write(self, stage: str, df: DataFrame, t0: float) -> DataFrame:
        """Materialize df, record lineage metrics, return the re-read frame
        (so downstream plans start from the checkpoint, cutting lineage)."""
        path = self._path(stage)
        # observe() rides the write job itself — row count measured AT
        # write time, zero extra scan, cross-checked against the committed
        # parquet footers below (a mismatch would mean lost/duplicated
        # rows between the job and the commit).
        obs = Observation(f"ckpt_{stage}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(path)
        observed_rows = int(obs.get["rows"])
        wall_ms = int((time.time() - t0) * 1000)
        out = self.spark.read.parquet(path)
        # per-file lineage from the parquet FOOTERS (driver-side metadata
        # read) — one output file per write partition, so this is the
        # per-partition row/byte lineage and costs no second Spark scan
        import pyarrow.parquet as pq

        files = []
        for name in sorted(os.listdir(path)):
            if not name.endswith(".parquet"):
                continue
            fp = os.path.join(path, name)
            files.append(
                {
                    "file": name,
                    "rows": int(pq.ParquetFile(fp).metadata.num_rows),
                    "bytes": os.path.getsize(fp),
                }
            )
        meta = {
            "stage": stage,
            "wall_ms": wall_ms,
            "rows": int(sum(f["rows"] for f in files)),
            "observed_rows": observed_rows,
            "files": files,
        }
        with open(os.path.join(self.workdir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(meta) + "\n")
        # the cross-check the lineage exists for (ADVICE r3: it was only
        # recorded, never compared). Footers holding MORE rows than the
        # write job observed means rows appeared that no task counted —
        # genuine corruption, refuse the checkpoint (raised before the
        # fingerprint lands, so resume will recompute). Observed > footers
        # is only a warning: task retries / speculative attempts can
        # double-count the observe() accumulator while the committed
        # output stays correct (exactly-once is per committed file, not
        # per attempt).
        if meta["rows"] > observed_rows:
            # remove the _SUCCESS marker BEFORE raising: the dir is already
            # committed, and the marker must not outlive the check that
            # just declared it corrupt, whatever else guards resume
            # (ADVICE r4).
            try:
                os.remove(os.path.join(path, "_SUCCESS"))
            except OSError:
                pass
            raise RuntimeError(
                f"checkpoint '{stage}': committed footers hold "
                f"{meta['rows']} rows but the write job observed only "
                f"{observed_rows} — corrupt checkpoint, not resuming from it"
            )
        if meta["rows"] != observed_rows:
            import warnings

            warnings.warn(
                f"checkpoint '{stage}': observed {observed_rows} rows vs "
                f"{meta['rows']} committed (task retries can inflate the "
                "observation; recorded in metrics.jsonl)",
                stacklevel=2,
            )
        with open(os.path.join(path, "_fingerprint.json"), "w") as f:
            f.write(self.fingerprint)
        return out


class Frames(Mapping):
    """The frames ``run_pipeline`` and ``incremental_update`` return. A
    zero-argument function value is planned on first read and memoized
    (``in``/``len``/iteration build nothing); ``release()``, also run on
    leaving ``with``, unpersists the frames the producer registered — the
    owner of the buffers frees them, as on the reference's ``Close``."""

    def __init__(self, frames: dict[str, DataFrame | Callable[[], DataFrame]],
                 persisted=()):
        self._frames = dict(frames)
        self._persisted = list(persisted)

    def __getitem__(self, key: str) -> DataFrame:
        v = self._frames[key]
        if callable(v):
            v = self._frames[key] = v()
        return v

    def __contains__(self, key) -> bool:
        return key in self._frames

    def __iter__(self):
        return iter(self._frames)

    def __len__(self) -> int:
        return len(self._frames)

    def release(self) -> None:
        # newest first, so no dependent cache entry is re-planned
        while self._persisted:
            self._persisted.pop().unpersist()

    def __enter__(self) -> Frames:
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def run_pipeline(
    corpus: DataFrame,
    cfg: DedupConfig | None = None,
    workdir: str | None = None,
    resume: bool = True,
    content_col: str = "content",
    id_col: str = "file_id",
) -> Frames:
    """Run (or resume) the full near-dup pipeline.

    One contraction plan: the signature stage is a single ``mapInArrow``
    pass over ``corpus`` (``compute_signatures``), and the group window
    runs over its full rows (``groups.with_groups``) as ONE stage,
    ``sig_groups``. Its count is taken before any tail frame is built:
    without a ``workdir`` it populates the persisted frame, with one it
    reads the parquet checkpoint back. Either way every tail plan choice
    (the LSH pre-filter gate, the verify join strategy, the edge
    expansion's fusion gate) is made against that measured row count.
    Signatures, groups and representative signatures are projections of
    ``sig_groups``.

    Checkpoint stages under ``workdir`` (each resumable on its own):
    ``sig_groups``, ``candidates``, ``edges_rep``, ``edges_lcs`` (only
    with ``min_lcs > 0``) and ``clusters``.

    Returned ``Frames`` (``*`` = planned on first read, never if unread;
    without a ``workdir`` it owns the stage persists, which ``release()``
    or leaving ``with run_pipeline(...) as res:`` unpersists):
      signatures   per-file MinHash/SimHash/shingle-sketch rows
      groups       exact-sketch group membership (file_id → rep)
      candidates   representative-level LSH candidate pairs
      edges_rep    representative-level verified/rejected edges (COMPACT —
                   the artifact to persist at corpus scale)
      edges*       member-level pair surface: within-group pairs (jaccard
                   1) + verified rep pairs fanned out through membership —
                   quadratic in group sizes, for pair-level audits (the
                   recall gate); eager (the CC input) when ``min_lcs > 0``
      clusters     (file_id, cluster_id) for every corpus row
      candidate_metrics*  ``lsh.dropped_bucket_metrics``
    """
    from .operators.cluster import cluster_assignments
    from .operators.lsh import candidate_pairs, dropped_bucket_metrics
    from .operators.signatures import compute_signatures
    from .operators.verify import verify_pairs

    cfg = cfg or DedupConfig()
    spark = corpus.sparkSession
    ckpt = Checkpointer(spark, workdir, config_fingerprint(cfg))
    persisted: list[DataFrame] = []

    def stage(name: str, build, persist: bool = True):
        t0 = time.time()
        if resume and ckpt.has(name):
            return ckpt.read(name)
        df = build()
        if workdir:
            return ckpt.write(name, df, t0)
        if not persist:
            # single-consumer stage: serializing it buys no reuse — let
            # the consumer fuse it into one stage chain
            return df
        # no checkpoint dir: persist multi-consumer stages so the
        # chunk+signature scan runs once, not once per downstream action.
        # MEMORY_AND_DISK_DESER (A/B-measured vs DISK_ONLY, both core
        # counts): the persisted signature frame is bounded by the sketch
        # caps (~10 KB/row whatever the file sizes), so it always fits the
        # heap, and the serialized-batch disk round-trip per tail scan was
        # pure overhead.
        persisted.append(df.persist(StorageLevel.MEMORY_AND_DISK_DESER))
        return persisted[-1]

    from .operators.groups import expand_group_edges, with_groups

    _GROUP_COLS = ["g1", "g2", "rep", "group_size"]

    # signatures carry the distinct shingle sets too — ONE corpus scan
    # feeds both LSH banding and exact-Jaccard verification. Exact-sketch
    # group contraction (operators/groups.py — the 100 TB lever against
    # exact-copy-heavy corpora) makes LSH + verify run on one
    # representative per identical-signature group; candidate coverage and
    # pair jaccard are provably unchanged. ONE wide exchange (the group
    # window over the full signature rows) yields signatures, groups and
    # rep_sigs as projections of a single staged frame.
    sig_groups = stage(
        "sig_groups",
        lambda: with_groups(
            compute_signatures(corpus, cfg, content_col, id_col)
        ),
    )
    # Materialize the stage NOW, in one dedicated job: the first
    # downstream action otherwise races its non-AQE broadcast-subquery
    # futures (LSH over-cap key scan) against its own main job, and
    # two concurrent jobs pulling an unpopulated cache compute the
    # signature kernel twice while thrashing the executor cores
    # (event-log measured: two overlapping ~10 s jobs at local[8]).
    # count() scans every partition fully, unlike a limit probe, so
    # the cache is complete before any consumer plans against it.
    # (A separate narrow "core" cache without the shingle arrays was
    # measured too: the extra cache-build pass cost more than the
    # narrower tail scans saved.) On a checkpointed stage the count
    # reads the parquet checkpoint back.
    n_sigs = sig_groups.count()
    signatures = sig_groups.drop(*_GROUP_COLS)
    groups = sig_groups.select("file_id", *_GROUP_COLS)
    rep_sigs = sig_groups.where(
        F.col("file_id") == F.col("rep")
    ).drop(*_GROUP_COLS)
    # the cache-materialization count doubles as the measured row count
    # that cost-gates the mega-bucket pre-filter (small measured inputs
    # drop its dedicated job + broadcast future; output identical)
    pairs = stage(
        "candidates",
        lambda: candidate_pairs(rep_sigs, cfg, n_rows=n_sigs),
        persist=False,
    )
    # stage name is "edges_rep", NOT round-1's "edges": the frame holds
    # REPRESENTATIVE-level edges now, and reusing the old name would let
    # resume=True silently load a pre-contraction member-level checkpoint
    # whose non-representative endpoints vanish in the expansion join.
    edges_rep = stage(
        "edges_rep",
        lambda: verify_pairs(pairs, rep_sigs, None, cfg),
    )

    if cfg.min_lcs > 0:
        # the LCS gate is byte-level, so sketch-identical members cannot
        # inherit the representative's verdict: expand FIRST, gate every
        # member pair (opt-in quadratic cost), and cluster on the gated set.
        from .operators.verify import apply_lcs_gate

        edges_out = stage(
            "edges_lcs",
            lambda: apply_lcs_gate(
                expand_group_edges(edges_rep, groups, n_sigs),
                corpus, cfg, content_col, id_col,
            ),
        )
        cluster_edges = edges_out.where("verified")
        cluster_ids = groups.select("file_id")
    else:
        # quadratic pair surface for audits, planned on first read; CC
        # labels the reps over the verified rep edges and each member takes
        # its rep's label (rep = group minimum: same ids as member-level CC)
        def edges_out():
            return expand_group_edges(edges_rep, groups, n_sigs)
        cluster_edges = edges_rep.where("verified")
        cluster_ids = groups.select("file_id", "rep")
    cluster_edges = cluster_edges.select("src", "dst")

    # cluster over the ids of the staged groups frame (one row per corpus
    # row: with_groups keeps zero-shingle files under unique group keys)
    # — re-scanning the corpus parquet for one column costs a listing +
    # footer + scan pass per run. The CC bound is the edges' count, which
    # populates their persist (or reads the checkpoint) for the driver
    # collect. Verified rep edges are canonical, so CC may skip its
    # canonicalization; the LCS-gated member-level set keeps the default.
    clusters = stage(
        "clusters",
        lambda: cluster_assignments(
            cluster_ids, cluster_edges,
            edges_canonical=cfg.min_lcs <= 0,
            max_edges=cluster_edges.count(),
        ),
    )
    return Frames({
        "signatures": signatures,
        "groups": groups,
        "candidates": pairs,
        "edges_rep": edges_rep,
        "edges": edges_out,
        "clusters": clusters,
        # the batch-path twin of the incremental fold's metrics.jsonl skew
        # counters — no silent truncation on either path
        "candidate_metrics": lambda: dropped_bucket_metrics(rep_sigs, cfg),
    }, persisted)
