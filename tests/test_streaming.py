"""Incremental + Structured Streaming dedup: two-batch fold equals the
one-shot batch result; state is append-only and replay-idempotent
(SURVEY.md §2.7 incremental mode)."""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.pipeline import Frames, run_pipeline
from dedup_spark.streaming import (
    compact_state, current_clusters, expanded_edges, incremental_update,
    stream_corpus,
)
from dedup_spark.synth import corpus_df

CFG = DedupConfig()


def _pairs(df):
    return {(r["src"], r["dst"]) for r in df.select("src", "dst").collect()}


def _file_digests(root):
    """sha256 of every data file under root, keyed by relative path."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.startswith("."):
                continue
            fp = os.path.join(dirpath, name)
            with open(fp, "rb") as f:
                out[os.path.relpath(fp, root)] = hashlib.sha256(
                    f.read()
                ).hexdigest()
    return out


def test_incremental_matches_batch(spark, tmp_path_factory):
    corpus = corpus_df(spark, 200, seed=11).cache()
    batch_edges = _pairs(run_pipeline(corpus, CFG)["edges"].where("verified"))

    state = str(tmp_path_factory.mktemp("state"))
    first = corpus.where("file_id < 120")
    second = corpus.where("file_id >= 120")
    incremental_update(first, state, CFG)
    out = incremental_update(second, state, CFG)
    inc_edges = _pairs(out["edges"].where("verified"))
    assert inc_edges == batch_edges

    # clusters over cumulative state match batch clusters as a partition
    batch_cl = {
        r["file_id"]: r["cluster_id"]
        for r in run_pipeline(corpus, CFG)["clusters"].collect()
    }
    inc_cl = {
        r["file_id"]: r["cluster_id"]
        for r in current_clusters(spark, state).collect()
    }
    assert inc_cl == batch_cl


def test_state_is_append_only(spark, tmp_path_factory):
    """VERDICT r2 #3: a second batch must not rewrite the first batch's
    state files — per-batch write volume scales with the batch, not the
    corpus. Every batch-0 file stays byte-identical."""
    corpus = corpus_df(spark, 120, seed=17).cache()
    state = str(tmp_path_factory.mktemp("state_ao"))
    incremental_update(corpus.where("file_id < 60"), state, CFG)

    before = _file_digests(os.path.join(state, "signatures"))
    assert before, "first batch wrote no signature files"
    assert all("batch_id=0" in p for p in before)

    incremental_update(corpus.where("file_id >= 60"), state, CFG)
    after = _file_digests(os.path.join(state, "signatures"))
    for path, digest in before.items():
        assert after.get(path) == digest, f"batch-0 file rewritten: {path}"
    assert any("batch_id=1" in p for p in after)

    # per-batch skew/lineage metrics recorded (ADVICE r2: the incremental
    # path surfaces dropped buckets like the batch path)
    lines = [
        json.loads(l)
        for l in open(os.path.join(state, "metrics.jsonl"))
    ]
    assert [m["batch_id"] for m in lines] == [0, 1]
    assert all("dropped_buckets" in m and "new_rows" in m for m in lines)


def test_replay_is_idempotent(spark, tmp_path_factory):
    """Re-folding an already-committed batch id is a no-op (Structured
    Streaming restart semantics)."""
    corpus = corpus_df(spark, 80, seed=19).cache()
    state = str(tmp_path_factory.mktemp("state_replay"))
    incremental_update(corpus.where("file_id < 40"), state, CFG, batch_id=0)
    incremental_update(corpus.where("file_id >= 40"), state, CFG, batch_id=1)
    edges_once = _pairs(expanded_edges(spark, state))
    sig_before = _file_digests(os.path.join(state, "signatures"))

    # replay batch 1 with the SAME id: state unchanged
    incremental_update(corpus.where("file_id >= 40"), state, CFG, batch_id=1)
    assert _pairs(expanded_edges(spark, state)) == edges_once
    assert _file_digests(os.path.join(state, "signatures")) == sig_before


def test_incremental_cost_proportional_to_batch(spark, tmp_path_factory):
    """VERDICT r3 #2: the per-batch fold must not re-shuffle the full
    cumulative signature table. The fold's own lineage counters (written
    per batch to metrics.jsonl) pin it: after a large bootstrap batch, a
    small batch's born/touched-bucket row counts scale with the SMALL
    batch, not with the state."""
    corpus = corpus_df(spark, 170, seed=23).cache()
    state = str(tmp_path_factory.mktemp("state_prop"))
    incremental_update(corpus.where("file_id < 150"), state, CFG)
    incremental_update(corpus.where("file_id >= 150 AND file_id < 160"),
                       state, CFG)
    incremental_update(corpus.where("file_id >= 160"), state, CFG)

    m = [json.loads(l) for l in open(os.path.join(state, "metrics.jsonl"))]
    assert [x["batch_id"] for x in m] == [0, 1, 2]
    # state written per batch ∝ batch
    for x in m[1:]:
        assert x["new_rows"] == 10
        assert x["born_groups"] <= 10
    # bootstrap wrote the big batch's groups once
    assert m[0]["born_groups"] > 100
    # touched band state ∝ batch: each new rep touches ≤ bands buckets,
    # and each touched bucket's OLD membership is what gets read — far
    # below the full band index of the 150-file bootstrap state
    total_band_state = m[0]["born_groups"] * CFG.bands
    for x in m[1:]:
        assert x["touched_old_band_rows"] <= 10 * CFG.bands * 4
        assert x["touched_old_band_rows"] < total_band_state / 3
    # and the result still equals the one-shot batch run
    batch_edges = _pairs(run_pipeline(corpus, CFG)["edges"].where("verified"))
    assert _pairs(expanded_edges(spark, state).where("verified")) == batch_edges


def test_stranded_batch_recovery(spark, tmp_path_factory):
    """ADVICE r3 (medium): in auto-id mode, a batch that committed its
    signatures but crashed before its edges partition must be re-folded
    before the next id is assigned — otherwise its rows silently age into
    the 'old' window and their near-dup edges are lost forever."""
    import shutil

    corpus = corpus_df(spark, 120, seed=29).cache()
    state = str(tmp_path_factory.mktemp("state_crash"))
    incremental_update(corpus.where("file_id < 60"), state, CFG)
    incremental_update(corpus.where("file_id >= 60 AND file_id < 90"),
                       state, CFG)
    # simulate the crash window: batch 1's signatures are committed but
    # its edges (the commit marker) never landed
    shutil.rmtree(os.path.join(state, "edges", "batch_id=1"))

    incremental_update(corpus.where("file_id >= 90"), state, CFG)
    # batch 1 was re-folded (edges partition restored), batch 2 appended
    assert os.path.exists(
        os.path.join(state, "edges", "batch_id=1", "_SUCCESS"))
    assert os.path.exists(
        os.path.join(state, "edges", "batch_id=2", "_SUCCESS"))
    batch_edges = _pairs(run_pipeline(corpus, CFG)["edges"].where("verified"))
    assert _pairs(expanded_edges(spark, state).where("verified")) == batch_edges
    # lineage (ADVICE r4): the re-fold appends a SECOND metrics line for
    # batch 1, flagged so consumers can tell it from the first fold
    with open(os.path.join(state, "metrics.jsonl")) as f:
        lines = [json.loads(ln) for ln in f]
    b1 = [m for m in lines if m["batch_id"] == 1]
    assert len(b1) == 2
    assert "refold" not in b1[0] and b1[1]["refold"] is True
    assert not any(m.get("refold") for m in lines if m["batch_id"] != 1)


def test_state_compaction(spark, tmp_path_factory):
    """Maintenance compaction merges the per-batch narrow delta dirs into
    one base partition without changing any derived result, later batches
    fold against the base, and pre-watermark replays stay no-ops."""
    corpus = corpus_df(spark, 160, seed=43).cache()
    state = str(tmp_path_factory.mktemp("state_compact"))
    for lo, hi in ((0, 60), (60, 100), (100, 130)):
        incremental_update(
            corpus.where(f"file_id >= {lo} AND file_id < {hi}"), state, CFG)
    edges_before = _pairs(expanded_edges(spark, state).where("verified"))

    out = compact_state(spark, state)
    assert out["through"] == 2 and out["merged_batches"] == 3
    for table in ("members", "repsigs", "bands", "edges"):
        dirs = os.listdir(os.path.join(state, table))
        assert dirs == ["batch_id=2"], (table, dirs)
    # signatures are replay inputs — never compacted
    assert sorted(os.listdir(os.path.join(state, "signatures"))) == [
        "batch_id=0", "batch_id=1", "batch_id=2",
    ]
    assert _pairs(expanded_edges(spark, state).where("verified")) == edges_before

    # a replay of a pre-watermark batch id is a committed no-op
    sig_digests = _file_digests(state)
    incremental_update(corpus.where("file_id < 60"), state, CFG, batch_id=1)
    assert _file_digests(state) == sig_digests

    # the next batch folds against the compacted base and the cumulative
    # result still equals the one-shot batch run
    incremental_update(corpus.where("file_id >= 130"), state, CFG)
    batch_edges = _pairs(run_pipeline(corpus, CFG)["edges"].where("verified"))
    assert _pairs(expanded_edges(spark, state).where("verified")) == batch_edges
    batch_cl = {
        r["file_id"]: r["cluster_id"]
        for r in run_pipeline(corpus, CFG)["clusters"].collect()
    }
    inc_cl = {
        r["file_id"]: r["cluster_id"]
        for r in current_clusters(spark, state).collect()
    }
    assert inc_cl == batch_cl


@pytest.mark.parametrize("removed", [
    ("edges",),
    ("edges", "members", "repsigs", "bands"),
], ids=["edges", "edges_and_index"])
def test_stranded_index_rebuilt(spark, tmp_path_factory, removed):
    """A crash after batch 1's signatures committed but before its edges
    marker may leave any of its index partitions missing too. The next
    auto-id fold re-folds batch 1 from its stored signatures, rebuilding
    every index table, and the later batch pairs against ALL prior
    state."""
    import shutil

    corpus = corpus_df(spark, 120, seed=47).cache()
    state = str(tmp_path_factory.mktemp("state_index"))
    incremental_update(corpus.where("file_id < 50"), state, CFG)
    incremental_update(corpus.where("file_id >= 50 AND file_id < 90"),
                       state, CFG)
    for table in removed:
        shutil.rmtree(os.path.join(state, table, "batch_id=1"))

    incremental_update(corpus.where("file_id >= 90"), state, CFG)
    for table in ("members", "repsigs", "bands", "edges"):
        assert sorted(os.listdir(os.path.join(state, table))) == [
            "batch_id=0", "batch_id=1", "batch_id=2",
        ], table
    batch_edges = _pairs(run_pipeline(corpus, CFG)["edges"].where("verified"))
    assert _pairs(expanded_edges(spark, state).where("verified")) == batch_edges


@pytest.mark.parametrize("producer", ["incremental_update", "run_pipeline"])
def test_state_frames_lazy_mapping(spark, tmp_path_factory, producer):
    """Both CLI paths return the one LAZY frame mapping, ``Frames`` (plan
    construction deferred to first access); every dict-style read path
    must go through the lazy builder — a plain dict .get/.items would
    silently return nothing."""
    corpus = corpus_df(spark, 60, seed=3).cache()
    if producer == "run_pipeline":
        out = run_pipeline(corpus, CFG)
        keys = {"signatures", "groups", "candidates",
                "edges_rep", "edges", "clusters", "candidate_metrics"}
    else:
        state = str(tmp_path_factory.mktemp("state_lazy"))
        out = incremental_update(corpus, state, CFG)
        keys = {"signatures", "edges_compact", "edges"}
    assert type(out) is Frames
    with out:
        assert set(out.keys()) == keys
        assert len(out) == len(keys) and "edges" in out
        assert "nope" not in out
        assert out.get("edges") is not None
        assert out.get("nope", 42) == 42
        assert {k for k, _ in out.items()} == keys
        assert all(v is not None for v in out.values())
        assert out["signatures"].count() == 60
        # memoized: second access returns the same DataFrame object
        assert out["edges"] is out["edges"]


def test_loose_bound_measures_universe(spark, tmp_path_factory, monkeypatch):
    """The endpoint broadcast gate reads a footer upper bound on the band
    universe (every prior band row plus the batch's). When that bound is
    too loose to decide the gate, one job counts the universe exactly, so
    the decision equals the exact-count one: here the bound is over the
    gate while the exact universe (the touched prior rows plus the
    batch's) is under it."""
    from dedup_spark import streaming as st

    corpus = corpus_df(spark, 90, seed=67).cache()
    state = str(tmp_path_factory.mktemp("state_bound"))
    incremental_update(corpus.where("file_id < 80"), state, CFG)
    prior_rows = st._footer_rows(os.path.join(state, "bands", "batch_id=0"))
    monkeypatch.setattr(st, "_BROADCAST_MAX_BYTES", 8 * prior_rows)
    incremental_update(corpus.where("file_id >= 80"), state, CFG)
    with open(os.path.join(state, "metrics.jsonl")) as f:
        m = [json.loads(ln) for ln in f][-1]
    assert "universe_count" in m["phase_ms"]
    new_band_rows = m["born_groups"] * CFG.bands
    assert new_band_rows > 0 and m["touched_old_band_rows"] > 0
    assert m["touched_old_band_rows"] + new_band_rows <= prior_rows
    batch_edges = _pairs(run_pipeline(corpus, CFG)["edges"].where("verified"))
    assert _pairs(expanded_edges(spark, state).where("verified")) == batch_edges


def test_bucketed_state_is_refused(spark, tmp_path_factory):
    """A bands or repsigs partition holding a hive subdirectory (the
    retired bucketed layout) is refused by the fold and by compaction
    before either runs a job or writes anything."""
    import shutil

    corpus = corpus_df(spark, 60, seed=71).cache()
    state = str(tmp_path_factory.mktemp("state_bucketed"))
    incremental_update(corpus.where("file_id < 30"), state, CFG)
    part = os.path.join(state, "bands", "batch_id=0")
    bucket = os.path.join(part, "bh64=0")
    os.makedirs(bucket)
    for name in os.listdir(part):
        if name.endswith(".parquet"):
            shutil.move(os.path.join(part, name), bucket)
    before = _file_digests(state)

    with pytest.raises(RuntimeError, match="bands/batch_id=0"):
        incremental_update(corpus.where("file_id >= 30"), state, CFG)
    assert not os.path.exists(os.path.join(state, "signatures", "batch_id=1"))
    with pytest.raises(RuntimeError, match="bands/batch_id=0"):
        compact_state(spark, state)
    assert _file_digests(state) == before


def test_fold_under_other_config_is_refused(spark, tmp_path_factory):
    """The first fold pins the state to its config: a later fold under
    another banding would join band hashes that can never match the
    stored ones, so it is refused before any job or write."""
    corpus = corpus_df(spark, 60, seed=73).cache()
    state = str(tmp_path_factory.mktemp("state_config"))
    incremental_update(corpus.where("file_id < 30"), state, CFG)
    with pytest.raises(RuntimeError, match="fresh state_dir"):
        incremental_update(corpus.where("file_id >= 30"), state,
                           DedupConfig(bands=16))
    assert not os.path.exists(os.path.join(state, "signatures", "batch_id=1"))


def test_concurrent_writer_failure_fails_fold(spark, tmp_path_factory,
                                              monkeypatch):
    """The members and bands partitions commit on concurrent threads;
    a failure there must fail the fold (no edges marker = batch not
    committed) and be recoverable by the stranded-batch re-fold — never
    be swallowed into a half-indexed committed batch."""
    from dedup_spark import streaming as st

    corpus = corpus_df(spark, 80, seed=31).cache()
    state = str(tmp_path_factory.mktemp("state_thfail"))
    incremental_update(corpus.where("file_id < 40"), state, CFG)

    real_timed = st._timed

    def boom(phases, key, fn):
        if key == "members_write":
            raise RuntimeError("injected members-commit failure")
        return real_timed(phases, key, fn)

    monkeypatch.setattr(st, "_timed", boom)
    with pytest.raises(RuntimeError, match="injected members-commit"):
        incremental_update(corpus.where("file_id >= 40"), state, CFG)
    # the batch is NOT committed: signatures landed, edges marker did not
    assert os.path.isdir(os.path.join(state, "signatures", "batch_id=1"))
    assert not os.path.exists(
        os.path.join(state, "edges", "batch_id=1", "_SUCCESS"))

    # next fold re-folds the stranded batch and the result equals batch
    monkeypatch.setattr(st, "_timed", real_timed)
    incremental_update(corpus.where("file_id >= 40"), state, CFG,
                       batch_id=1)
    batch_edges = _pairs(run_pipeline(corpus, CFG)["edges"].where("verified"))
    assert _pairs(expanded_edges(spark, state).where("verified")) == batch_edges


def test_structured_streaming_wrapper(spark, tmp_path_factory):
    corpus = corpus_df(spark, 120, seed=13).cache()
    in_dir = str(tmp_path_factory.mktemp("stream_in"))
    state = str(tmp_path_factory.mktemp("stream_state"))

    # two "arrivals" written as separate files
    corpus.where("file_id < 60").write.mode("append").parquet(in_dir)
    corpus.where("file_id >= 60").write.mode("append").parquet(in_dir)

    q = stream_corpus(spark, in_dir, state, CFG)
    q.awaitTermination(300)

    batch_edges = _pairs(run_pipeline(corpus, CFG)["edges"].where("verified"))
    # state stores COMPACT rep edges; the member-level surface is derived
    got = _pairs(expanded_edges(spark, state).where("verified"))
    # micro-batch boundaries may differ from the 60/60 split (file-based
    # triggers), but the cumulative edge set must equal the batch result
    assert got == batch_edges


def test_fold_of_exact_copies_commits(spark, tmp_path_factory):
    """A batch made only of exact copies of stored files births no group,
    so its pair and bucket plans run over empty relations (AQE prunes the
    observed operators). The fold must still commit, with zero counters,
    and leave the clusters equal to the batch run's."""
    corpus = corpus_df(spark, 60, seed=53).cache()
    state = str(tmp_path_factory.mktemp("state_copies"))
    incremental_update(corpus, state, CFG)
    copies = corpus.where("file_id < 15").withColumn(
        "file_id", F.col("file_id") + 1000)
    incremental_update(copies, state, CFG)
    with open(os.path.join(state, "metrics.jsonl")) as f:
        m = [json.loads(ln) for ln in f][-1]
    assert m["batch_id"] == 1 and m["born_groups"] == 0
    assert m["candidate_pairs"] == 0 and m["touched_old_band_rows"] == 0
    assert m["dropped_buckets"] == m["dropped_rows"] == 0
    assert os.path.exists(
        os.path.join(state, "edges", "batch_id=1", "_SUCCESS"))
    both = corpus.unionByName(copies)
    batch_cl = {r["file_id"]: r["cluster_id"]
                for r in run_pipeline(both, CFG)["clusters"].collect()}
    inc_cl = {r["file_id"]: r["cluster_id"]
              for r in current_clusters(spark, state).collect()}
    assert inc_cl == batch_cl


@pytest.mark.parametrize("compacted", [False, True],
                         ids=["flat", "compacted"])
def test_pinned_state_schemas_match_written(spark, tmp_path_factory,
                                            compacted):
    """Every state read passes a pinned schema instead of inferring one
    (no schema-inference job). Each pinned schema must equal what a fresh
    fold writes, and what compaction writes into its merged base, and
    every partition is flat (no hive subdirectory)."""
    from pyspark.sql.types import _parse_datatype_string

    from dedup_spark import streaming as st

    corpus = corpus_df(spark, 50, seed=59).cache()
    state = str(tmp_path_factory.mktemp("state_schema"))
    incremental_update(corpus.where("file_id < 30"), state, CFG)
    incremental_update(corpus.where("file_id >= 30"), state, CFG)
    if compacted:
        assert compact_state(spark, state)["merged_batches"] == 2
    assert set(st.STATE_SCHEMAS) == {
        "signatures", "repsigs", "members", "bands", "edges"}
    for table, ddl in st.STATE_SCHEMAS.items():
        parts = sorted(os.listdir(os.path.join(state, table)))
        assert parts == (["batch_id=1"] if compacted and table != "signatures"
                         else ["batch_id=0", "batch_id=1"]), (table, parts)
        for name in parts:
            part = os.path.join(state, table, name)
            assert not [n for n in os.listdir(part) if "=" in n], part
            inferred = spark.read.parquet(part).schema
            assert inferred == _parse_datatype_string(ddl), (table, name)
            # the pinned reader sees the same rows as the inferring one
            pinned = st._read_state(spark, table, part)
            assert pinned.count() == spark.read.parquet(part).count()


# Spark jobs of one small-batch fold + current_clusters on the fixed state
# below (8 cores, 8 shuffle partitions): 43 while every state read
# inferred its schema and the fold and CC ran their size probes, 23 while
# the fold also wrote a group-delta table, 21 (19 + 2) since.
FOLD_SERVE_JOB_FLOOR = 21


def test_fold_and_serve_job_floor(spark, tmp_path_factory, group_jobs):
    """Fixed cost of the incremental path, counted in Spark jobs: one
    fold of a small batch into a fixed state plus one current_clusters.
    No probe job (schema inference, bucket-stats barrier, CC size count)
    may come back silently."""
    corpus = corpus_df(spark, 80, seed=61).cache()
    corpus.count()  # the input cache is not part of the fold
    state = str(tmp_path_factory.mktemp("state_floor"))
    incremental_update(corpus.where("file_id < 60"), state, CFG)
    batch = corpus.where("file_id >= 60")

    def fold_and_serve():
        incremental_update(batch, state, CFG)
        current_clusters(spark, state)  # the driver CC collects here

    assert group_jobs("fold_serve_floor", fold_and_serve) \
        <= FOLD_SERVE_JOB_FLOOR
