"""The benchmark's workloads. Each drives the engine only through its public
functions, times a closed loop with one caller, and checks every output it
times against the single-node oracle outside the timed region.

``batch_neardup``     the CLI ``run`` path: parquet corpus → ``run_pipeline``
                      → distinct ``cluster_id`` count, once per rep.
``incremental_ingest`` the CLI ``incremental`` path: small batches folded
                      one after another into a seeded base state with
                      ``incremental_update``, each served by
                      ``current_clusters`` and a distinct count.

With tracing on, the same loops run with an event log, a job group and a
span around each layer call (``Tracer``); ``batch_neardup`` then also runs
the pipeline's layers one at a time, each behind a materialization
barrier, to split the wall by layer.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import eventlog, inputs, procmem

# Sizes per (workload, size). "full" is what the benchmark measures;
# "tiny" is the smoke-test size. No warm-up: each run times one operation
# in a fresh JVM (see perfbench/README.md, "Run length and noise").
SIZES = {
    "batch_neardup": {
        "full": {"files": 4000},
        "tiny": {"files": 300},
    },
    "incremental_ingest": {
        "full": {"base": 1000, "batch": 100, "batches": 4},
        "tiny": {"base": 200, "batch": 40, "batches": 4},
    },
}

RECALL_GATE = 0.99
FOLD_PHASES = ("signatures_write", "members_write", "groups_write",
               "repsigs_write", "bands_write", "bucket_stats", "edges_write")
_GROUP_COLS = ["g1", "g2", "rep", "group_size"]


class Tracer:
    """Spans around layer calls; records nothing unless tracing is on."""

    def __init__(self, spark, on: bool):
        self.spark, self.on = spark, on
        self.spans: list[eventlog.Span] = []

    @contextmanager
    def span(self, name: str):
        if self.on:
            self.spark.sparkContext.setJobGroup(name, name)
        s = eventlog.Span(name, time.time() * 1000.0, 0.0)
        try:
            yield s
        finally:
            s.t1_ms = time.time() * 1000.0
            if self.on:
                self.spans.append(s)
                self.spark.sparkContext.setJobGroup("bench", "bench")


@dataclass
class Outcome:
    """What a workload hands back to the runner."""
    attempted: int = 0
    failed: int = 0
    recall: float = 0.0
    walls: list = field(default_factory=list)    # per timed op, seconds
    cpus: list = field(default_factory=list)     # per timed op, CPU seconds
    files: int = 0                               # files the timed ops did
    layers: dict = field(default_factory=dict)   # trace data for layers
    errors: list = field(default_factory=list)


def _read(spark, path: str):
    """The CLI's corpus reader: parquet plus the content digest column."""
    from pyspark.sql import functions as F

    return spark.read.parquet(path).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _timed_loop(seconds: float, step) -> None:
    """Call ``step()`` until ``seconds`` of wall have passed (at least once);
    ``step`` returns False when it has no more input."""
    t_end = time.perf_counter() + seconds
    while True:
        if step() is False or time.perf_counter() >= t_end:
            return


# ---------------------------------------------------------------- batch

class BatchNeardup:
    def __init__(self, work: str, seed: int, size: str):
        self.p = SIZES["batch_neardup"][size]
        self.path = inputs.batch_corpus(
            os.path.join(work, "inputs"), self.p["files"], seed)

    def oracle(self):
        return inputs.oracle([self.path], self.path + "-oracle.json")

    def _rep(self, spark, cfg):
        from dedup_spark.pipeline import run_pipeline

        spark.catalog.clearCache()
        c0, t0 = procmem.tree_cpu_s(), time.perf_counter()
        res = run_pipeline(_read(spark, self.path), cfg)
        n = res["clusters"].select("cluster_id").distinct().count()
        wall = time.perf_counter() - t0
        return res, n, wall, procmem.tree_cpu_s() - c0

    def setup(self, spark, trace: bool):
        from dedup_spark.config import DedupConfig

        self.cfg = DedupConfig()
        if trace:
            # the traced step compares a whole run with a layered one; warm
            # up once so that neither of them is the JVM's first
            self._rep(spark, self.cfg)

    def measure(self, spark, seconds: float, tracer: Tracer) -> Outcome:
        out = Outcome()
        counts, last = [], None
        layered = []

        def step():
            nonlocal last
            out.attempted += 1
            try:
                with tracer.span("pipeline"):
                    last, n, wall, cpu = self._rep(spark, self.cfg)
            except Exception as e:  # a failed op counts, the loop goes on
                out.failed += 1
                out.errors.append(repr(e))
                return True
            out.walls.append(wall)
            out.cpus.append(cpu)
            out.files += self.p["files"]
            counts.append(n)
            if tracer.on:
                layered.append(self._layered_rep(spark, tracer))

        _timed_loop(seconds, step)
        self._check(out, counts, last)
        if tracer.on:
            out.layers = {"layered": layered, "spans": tracer.spans}
        return out

    def _check(self, out: Outcome, counts: list, res) -> None:
        pairs, labels = self.oracle()
        n_oracle = len(set(labels.values()))
        bad = sum(1 for n in counts if n != n_oracle)
        if bad:
            out.errors.append(f"cluster count != oracle {n_oracle} "
                              f"in {bad} reps: {counts}")
        out.failed += bad
        if res is None:
            return
        got = inputs.canonical(
            (r["file_id"], r["cluster_id"])
            for r in res["clusters"].collect())
        edges = {(r["src"], r["dst"]) for r in
                 res["edges"].where("verified").select("src", "dst")
                 .collect()}
        out.recall = inputs.recall(pairs, edges)
        if got != labels:
            out.errors.append("final partition differs from the oracle")
        # the final rep carries the partition and recall checks; count it
        # once even when its cluster count was already wrong
        if (got != labels or out.recall < RECALL_GATE) \
                and counts[-1] == n_oracle:
            out.failed += 1

    def _layered_rep(self, spark, tracer: Tracer) -> dict:
        """The pipeline's no-workdir path, one layer call at a time, each
        behind a persist + aggregate barrier. Returns walls and counts."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from dedup_spark.operators.cluster import cluster_assignments
        from dedup_spark.operators.groups import group_star_pairs, with_groups
        from dedup_spark.operators.lsh import (
            candidate_pairs, dropped_bucket_metrics,
        )
        from dedup_spark.operators.signatures import compute_signatures
        from dedup_spark.operators.verify import verify_pairs

        def barrier(df, *aggs):
            df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
            row = df.agg(F.count(F.lit(1)), *aggs).collect()[0]
            return df, [0 if v is None else v for v in row]

        cfg = self.cfg
        spark.catalog.clearCache()
        r: dict = {}
        with tracer.span("traced") as outer:
            with tracer.span("signatures") as s:
                sigs, (r["files"],) = barrier(
                    compute_signatures(_read(spark, self.path), cfg))
            r["signatures"] = s
            with tracer.span("groups") as s:
                sg, (n_sg, r["reps"]) = barrier(
                    with_groups(sigs),
                    F.sum((F.col("file_id") == F.col("rep")).cast("long")))
                rep_sigs = sg.where(F.col("file_id") == F.col("rep")).drop(
                    *_GROUP_COLS)
                groups = sg.select("file_id", *_GROUP_COLS)
            r["groups"] = s
            with tracer.span("lsh") as s:
                pairs, (r["candidates"],) = barrier(
                    candidate_pairs(rep_sigs, cfg, n_rows=n_sg))
            r["lsh"] = s
            with tracer.span("verify") as s:
                edges_rep, (_, r["verified"]) = barrier(
                    verify_pairs(pairs, rep_sigs,
                                 rep_sigs.select("file_id", "shingles"), cfg),
                    F.sum(F.col("verified").cast("long")))
            r["verify"] = s
            with tracer.span("cluster") as s:
                cluster_input = group_star_pairs(groups).unionByName(
                    edges_rep.where("verified").select("src", "dst"))
                r["clusters"] = cluster_assignments(
                    groups.select("file_id"), cluster_input,
                    edges_canonical=True,
                ).select("cluster_id").distinct().count()
            r["cluster"] = s
        r["traced"] = outer
        with tracer.span("audit"):
            r["edges"] = cluster_input.count()
            r["dropped_rows"] = dropped_bucket_metrics(
                rep_sigs, cfg).collect()[0]["dropped_rows"]
        spark.catalog.clearCache()
        return r


# ----------------------------------------------------------- incremental

class IncrementalIngest:
    def __init__(self, work: str, seed: int, size: str):
        self.p = SIZES["incremental_ingest"][size]
        self.base, self.batches = inputs.ingest_batches(
            os.path.join(work, "inputs"), self.p["base"], self.p["batch"],
            self.p["batches"], seed)
        self.state = os.path.join(work, "run", "state")
        self.next = 0

    def _fold(self, spark, tracer: Tracer):
        from dedup_spark.streaming import current_clusters, incremental_update

        path = self.batches[self.next]
        self.next += 1
        c0, t0 = procmem.tree_cpu_s(), time.perf_counter()
        with tracer.span("fold") as fold:
            incremental_update(_read(spark, path), self.state, self.cfg)
        with tracer.span("serve") as serve:
            n = current_clusters(spark, self.state).select(
                "cluster_id").distinct().count()
        wall = time.perf_counter() - t0
        return n, wall, procmem.tree_cpu_s() - c0, fold, serve

    def setup(self, spark, trace: bool):
        from dedup_spark.config import DedupConfig
        from dedup_spark.streaming import incremental_update

        self.cfg = DedupConfig()
        shutil.rmtree(self.state, ignore_errors=True)
        incremental_update(_read(spark, self.base), self.state, self.cfg)

    def measure(self, spark, seconds: float, tracer: Tracer) -> Outcome:
        out = Outcome()
        done = []  # (batch index, cluster count)
        folds, serves, phases = [], [], []

        def step():
            if self.next >= len(self.batches):
                return False
            k = self.next
            out.attempted += 1
            try:
                n, wall, cpu, fold, serve = self._fold(spark, tracer)
            except Exception as e:  # a failed op counts, the loop goes on
                out.failed += 1
                out.errors.append(repr(e))
                return True
            out.walls.append(wall)
            out.cpus.append(cpu)
            out.files += self.p["batch"]
            done.append((k, n))
            if tracer.on:
                folds.append(fold)
                serves.append(serve)
                phases.append(_last_phase_ms(self.state))

        _timed_loop(seconds, step)
        self._check(spark, out, done)
        if tracer.on:
            out.layers = {"folds": folds, "serves": serves,
                          "phases": phases,
                          "state_mb": _dir_mb(self.state)}
        return out

    def _check(self, spark, out: Outcome, done: list) -> None:
        from dedup_spark.streaming import current_clusters, expanded_edges

        bad = False
        for k, n in done:
            n_oracle = len(set(self._oracle(k)[1].values()))
            bad = n != n_oracle
            if bad:
                out.failed += 1
                out.errors.append(f"batch {k}: {n} clusters, oracle "
                                  f"{n_oracle}")
        if not done or done[-1][0] != self.next - 1:
            return  # the last batch raised and is already counted
        # the final state carries the partition and recall checks; count
        # it once even when its cluster count was already wrong
        pairs, labels = self._oracle(self.next - 1)
        got = inputs.canonical(
            (r["file_id"], r["cluster_id"])
            for r in current_clusters(spark, self.state).collect())
        edges = {(r["src"], r["dst"]) for r in
                 expanded_edges(spark, self.state).where("verified")
                 .select("src", "dst").collect()}
        out.recall = inputs.recall(pairs, edges)
        if got != labels:
            out.errors.append("final partition differs from the oracle")
        if (got != labels or out.recall < RECALL_GATE) and not bad:
            out.failed += 1

    def _oracle(self, k: int):
        """Oracle over the base and batches 0..k."""
        return inputs.oracle(
            [self.base] + self.batches[:k + 1],
            os.path.join(os.path.dirname(self.base), f"oracle-upto{k}.json"))


def _last_phase_ms(state: str) -> dict:
    with open(os.path.join(state, "metrics.jsonl")) as f:
        last = f.readlines()[-1]
    return json.loads(last).get("phase_ms", {})


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total / (1024.0 * 1024.0)


WORKLOADS = {
    "batch_neardup": BatchNeardup,
    "incremental_ingest": IncrementalIngest,
}


# ------------------------------------------------------ per-layer metrics

def layer_metrics(name: str, out: Outcome, log_dir: str, cores: int,
                  peak_rss_mb: float) -> dict[str, float]:
    """Every per-layer metric; layers a workload does not reach read 0."""
    log = eventlog.read(log_dir)
    m = {k: 0.0 for k in PER_LAYER}
    m["memory.peak_rss_mb"] = peak_rss_mb
    if name == "batch_neardup":
        _batch_layers(m, out, log, cores)
    else:
        _ingest_layers(m, out, log)
    return m


def _batch_layers(m: dict, out: Outcome, log, cores: int) -> None:
    reps = out.layers["layered"]
    if not reps:
        return
    pipe = [eventlog.window(log, s) for s in out.layers["spans"]
            if s.name == "pipeline"]
    m["pipeline.wall_s"] = _median([w.wall_s for w in pipe])
    m["pipeline.jobs"] = _median([w.jobs for w in pipe])
    m["pipeline.driver_gap_s"] = _median([w.driver_gap_s for w in pipe])
    m["pipeline.shuffle_mb"] = _median([w.shuffle_write_mb for w in pipe])
    m["pipeline.spill_mb"] = _median([w.spill_mb for w in pipe])
    m["pipeline.gc_s"] = _median([w.gc_s for w in pipe])
    m["pipeline.core_util"] = _median(
        [w.task_run_s / (w.wall_s * cores) for w in pipe if w.wall_s > 0])
    win = {k: [eventlog.window(log, r[k]) for r in reps]
           for k in ("signatures", "groups", "lsh", "verify", "cluster",
                     "traced")}
    for k in ("signatures", "groups", "lsh", "verify", "cluster"):
        m[f"{k}.wall_s"] = _median([w.wall_s for w in win[k]])
    last = reps[-1]
    m["signatures.rows"] = float(last["files"])
    m["signatures.task_run_s"] = _median([w.task_run_s
                                      for w in win["signatures"]])
    m["groups.reps"] = float(last["reps"])
    m["groups.contraction"] = last["reps"] / max(1, last["files"])
    m["lsh.candidates"] = float(last["candidates"])
    m["lsh.dropped_rows"] = float(last["dropped_rows"])
    m["lsh.shuffle_mb"] = _median([w.shuffle_write_mb for w in win["lsh"]])
    m["verify.verified"] = float(last["verified"])
    m["verify.yield"] = last["verified"] / max(1, last["candidates"])
    m["cluster.edges"] = float(last["edges"])
    m["cluster.clusters"] = float(last["clusters"])
    traced = _median([w.wall_s for w in win["traced"]])
    m["trace.wall_s"] = traced
    m["trace.overhead_s"] = traced - m["pipeline.wall_s"]
    # layer job time plus layer driver gaps, against the traced wall
    acc = [sum(win[k][i].busy_s + win[k][i].driver_gap_s
               for k in ("signatures", "groups", "lsh", "verify", "cluster"))
           / win["traced"][i].wall_s for i in range(len(reps))]
    m["trace.accounted_share"] = _median(acc)


def _ingest_layers(m: dict, out: Outcome, log) -> None:
    folds = [eventlog.window(log, s) for s in out.layers["folds"]]
    serves = [eventlog.window(log, s) for s in out.layers["serves"]]
    if not folds:
        return
    m["streaming.fold_s"] = _median([w.wall_s for w in folds])
    m["streaming.serve_s"] = _median([w.wall_s for w in serves])
    m["streaming.jobs_per_fold"] = _median([w.jobs for w in folds])
    m["streaming.driver_gap_s"] = _median([w.driver_gap_s for w in folds])
    m["streaming.shuffle_mb"] = _median([w.shuffle_write_mb for w in folds])
    m["streaming.state_mb"] = out.layers["state_mb"]
    for ph in FOLD_PHASES:
        m[f"streaming.phase.{ph}_s"] = _median(
            [p.get(ph, 0) / 1000.0 for p in out.layers["phases"]])


# name -> (unit, better); the runner copies this into its result line
PER_LAYER = {
    "signatures.wall_s": ("s", "lower"),
    "signatures.rows": ("count", "higher"),
    "signatures.task_run_s": ("s", "lower"),
    "groups.wall_s": ("s", "lower"),
    "groups.reps": ("count", "lower"),
    "groups.contraction": ("ratio", "lower"),
    "lsh.wall_s": ("s", "lower"),
    "lsh.candidates": ("count", "lower"),
    "lsh.dropped_rows": ("count", "lower"),
    "lsh.shuffle_mb": ("MB", "lower"),
    "verify.wall_s": ("s", "lower"),
    "verify.verified": ("count", "higher"),
    "verify.yield": ("ratio", "higher"),
    "cluster.wall_s": ("s", "lower"),
    "cluster.edges": ("count", "lower"),
    "cluster.clusters": ("count", "lower"),
    "pipeline.wall_s": ("s", "lower"),
    "pipeline.jobs": ("count", "lower"),
    "pipeline.driver_gap_s": ("s", "lower"),
    "pipeline.shuffle_mb": ("MB", "lower"),
    "pipeline.spill_mb": ("MB", "lower"),
    "pipeline.gc_s": ("s", "lower"),
    "pipeline.core_util": ("ratio", "higher"),
    "trace.wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.accounted_share": ("ratio", "higher"),
    "streaming.fold_s": ("s", "lower"),
    "streaming.serve_s": ("s", "lower"),
    "streaming.jobs_per_fold": ("count", "lower"),
    "streaming.driver_gap_s": ("s", "lower"),
    "streaming.shuffle_mb": ("MB", "lower"),
    "streaming.state_mb": ("MB", "lower"),
    **{f"streaming.phase.{ph}_s": ("s", "lower") for ph in FOLD_PHASES},
    "memory.peak_rss_mb": ("MB", "lower"),
}
