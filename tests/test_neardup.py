"""Near-dup pipeline tests: recall vs single-node oracle (north_rule gate),
cluster agreement, skew guard, resume semantics."""

import os
import re

import pytest
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.oracle import run_oracle
from dedup_spark.pipeline import run_pipeline
from dedup_spark.synth import corpus_df

CFG = DedupConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_df(spark, 400, seed=7).cache()


@pytest.fixture(scope="module")
def result(spark, corpus):
    with run_pipeline(corpus, CFG) as res:
        yield res


@pytest.fixture(scope="module")
def oracle(corpus):
    rows = [(r["file_id"], r["content"]) for r in corpus.collect()]
    return run_oracle(rows, CFG)


def test_dup_pair_recall(result, oracle):
    """north_rule: dup-pair recall >= 0.99 vs reference-semantics oracle."""
    oracle_pairs, _ = oracle
    got = {
        (r["src"], r["dst"])
        for r in result["edges"].where("verified").collect()
    }
    missed = oracle_pairs - got
    recall = 1 - len(missed) / len(oracle_pairs) if oracle_pairs else 1.0
    assert len(oracle_pairs) > 50, "oracle found too few dup pairs to gate on"
    assert recall >= 0.99, f"recall {recall}: missed {sorted(missed)[:5]}"


def test_verified_pairs_precision(result, oracle):
    """Every verified edge must be a true >= threshold pair (the verify
    stage computes EXACT Jaccard, so precision is 1.0 by construction)."""
    oracle_pairs, _ = oracle
    got = {
        (r["src"], r["dst"])
        for r in result["edges"].where("verified").collect()
    }
    assert got <= oracle_pairs


def test_cluster_agreement(result, oracle):
    """Connected components over the same edges → same partition of files."""
    _, oracle_clusters = oracle
    got = {
        r["file_id"]: r["cluster_id"] for r in result["clusters"].collect()
    }
    assert set(got) == set(oracle_clusters)
    # same partition ⇔ identical min-member labels when recall/precision hold
    agree = sum(
        1 for fid in got if got[fid] == oracle_clusters[fid]
    )
    assert agree / len(got) >= 0.99


def test_ground_truth_sanity(corpus, result, oracle):
    """Injected exact copies must cluster together."""
    gt = {
        r["file_id"]: r["cluster_gt"]
        for r in corpus.select("file_id", "cluster_gt").collect()
    }
    sha = {
        r["file_id"]: r["content_sha256"]
        for r in corpus.select("file_id", "content_sha256").collect()
    }
    got = {r["file_id"]: r["cluster_id"] for r in result["clusters"].collect()}
    by_sha = {}
    for fid, h in sha.items():
        by_sha.setdefault(h, []).append(fid)
    for members in by_sha.values():
        if len(members) > 1:
            labels = {got[m] for m in members}
            assert len(labels) == 1, f"exact copies split: {members}"


def test_skew_guard_metrics(spark, corpus):
    """Hot band buckets above the salt ceiling are dropped WITH metrics, and
    the pipeline still returns (no silent failure on a pathological corpus)."""
    from dedup_spark.operators.lsh import (
        candidate_pairs, dropped_bucket_metrics,
    )
    from dedup_spark.operators.signatures import compute_signatures

    tiny = DedupConfig(max_bucket=4, salt=1)  # salt=1 → drop above max_bucket
    sigs = compute_signatures(corpus, tiny)
    m = dropped_bucket_metrics(sigs, tiny).collect()[0]
    assert m["dropped_buckets"] > 0  # the giant injected cluster trips the cap
    assert candidate_pairs(sigs, tiny, n_rows=sigs.count()).count() >= 0


def test_salted_pairs_recall_neutral(spark, corpus):
    """Salted block pair-gen over oversize buckets must produce EXACTLY the
    pairs a direct (uncapped) pair-gen would — salting redistributes the
    quadratic work, it never loses a pair (VERDICT round-1 item 5)."""
    from dedup_spark.operators.lsh import candidate_pairs
    from dedup_spark.operators.signatures import compute_signatures

    sigs = compute_signatures(corpus, CFG).cache()
    # max_bucket=4 forces nearly every real bucket through the salted path
    salted_cfg = DedupConfig(max_bucket=4, salt=1_000_000)
    uncapped = DedupConfig(max_bucket=1_000_000, salt=1)
    n = sigs.count()
    got = {(r["src"], r["dst"])
           for r in candidate_pairs(sigs, salted_cfg, n_rows=n).collect()}
    want = {(r["src"], r["dst"])
            for r in candidate_pairs(sigs, uncapped, n_rows=n).collect()}
    assert got == want
    assert len(want) > 100
    sigs.unpersist()


def test_salted_pairs_generic_keys(spark):
    """salted_pairs is the ONE pair-gen ladder for every bucketed surface
    (VERDICT r3 #4): with string bucket keys it must enumerate exactly
    the brute-force pair set, salting included."""
    from itertools import combinations

    from pyspark.sql import Window

    from dedup_spark.operators.lsh import dropped_bucket_aggs, salted_pairs

    rows = [("b0", i) for i in range(7)] + \
           [("b1", i) for i in range(5, 11)] + [("b2", 99)]
    buckets = spark.createDataFrame(rows, "bkt string, file_id long")
    want = set()
    for b in ("b0", "b1"):
        ids = sorted(d for k, d in rows if k == b)
        want |= {tuple(sorted(p)) for p in combinations(ids, 2)}
    # max_b=2 forces the salted path on both buckets (sizes 7 and 6)
    got = {(r["src"], r["dst"]) for r in salted_pairs(
        buckets, 2, 1000, key_cols=("bkt",)
    ).collect()}
    assert got == want
    # drop ladder: salt_cap=6 kills the 7-member bucket, keeps the 6
    pairs = salted_pairs(buckets, 3, 2, key_cols=("bkt",))
    ids1 = sorted(d for k, d in rows if k == "b1")
    assert {(r["src"], r["dst"]) for r in pairs.collect()} == {
        tuple(sorted(p)) for p in combinations(ids1, 2)
    }
    # the one counter definition over the same buckets, window-sized
    sized = buckets.select(
        F.count(F.lit(1)).over(Window.partitionBy("bkt")).alias("bucket_size"))
    d = sized.agg(*dropped_bucket_aggs(6)).collect()[0]
    assert d["dropped_buckets"] == 1 and d["dropped_rows"] == 7


def test_salted_pairs_prefilter_gate_equivalent(spark):
    """The mega-bucket pre-filter is a PLAN choice, not a semantics knob
    (round 5: cost-gated off for measured-small inputs to drop its
    dedicated job + broadcast future from the tail): with it on or off,
    the pair set must be identical — the cap just moves inside the window
    pass."""
    from dedup_spark.operators.lsh import salted_pairs

    rows = [("b0", i) for i in range(7)] + \
           [("b1", i) for i in range(5, 11)] + [("b2", 99)]
    buckets = spark.createDataFrame(rows, "bkt string, file_id long")
    # max_b=3, salt=2 → salt_cap=6: b0 (7 members) dropped, b1 salted
    on_pairs = salted_pairs(
        buckets, 3, 2, key_cols=("bkt",), prefilter=True,
    )
    off_pairs = salted_pairs(
        buckets, 3, 2, key_cols=("bkt",), prefilter=False,
    )
    assert {(r["src"], r["dst"]) for r in on_pairs.collect()} == \
           {(r["src"], r["dst"]) for r in off_pairs.collect()}
    # the no-pre-filter plan must not contain the broadcast anti-join
    assert "BroadcastExchange" not in off_pairs._jdf.queryExecution() \
        .executedPlan().toString()


def test_salted_pairs_uncapped_ladder(spark):
    """salt=None (VERDICT r4 #1): the UNCAPPED ladder must emit the
    COMPLETE pair set of any bucket — nothing dropped at any size — while
    still splitting the work into blocks so no task holds more than
    ~2·max_b members. dedupe=False must emit each pair exactly once when
    the bucket key partitions the ids."""
    from itertools import combinations

    from dedup_spark.operators.lsh import _block_sides, salted_pairs

    n = 100  # 25x the direct cap of max_b=4 — deep into the block regime
    buckets = spark.createDataFrame(
        [("g", i) for i in range(n)], "bkt string, file_id long"
    )
    rows = salted_pairs(
        buckets, 4, None, key_cols=("bkt",), dedupe=False
    ).collect()
    got = [(r["src"], r["dst"]) for r in rows]
    want = {tuple(sorted(p)) for p in combinations(range(n), 2)}
    assert set(got) == want
    assert len(got) == len(want)  # exactly-once: no distinct needed
    # per-task bound: no join key (bucket, bi, bj) sees more than a small
    # multiple of max_b members on either side of the block-pair join
    # (hash-multinomial block sizes concentrate at bucket_size/nb ≤ max_b;
    # deterministic via xxhash64) — the memory contract of the ladder
    left, right, _ = _block_sides(buckets, 4, ["bkt"])
    for side in (left, right):
        sizes = [
            r["m"]
            for r in side.groupBy("bkt", "bi", "bj")
            .agg(F.count("*").alias("m"))
            .collect()
        ]
        assert max(sizes) <= 4 * 4, max(sizes)


def test_within_group_pairs_bounded_tasks(spark, monkeypatch):
    """VERDICT r4 #1: a mega exact-dup group flows through the salted
    block ladder — complete within-group pair output (audit contract:
    nothing dropped), but no single task flattens C(n,2) of one group."""
    from itertools import combinations

    from dedup_spark.operators import groups as G

    n = 120
    groups = spark.createDataFrame(
        [(i, 7, 9, 0, n) for i in range(n)]
        + [(200, 1, 2, 200, 1)],  # singleton group: must emit nothing
        "file_id long, g1 long, g2 long, rep long, group_size long",
    )
    monkeypatch.setattr(G, "MEMBER_BLOCK", 10)
    out = G.within_group_pairs(groups).collect()
    got = [(r["src"], r["dst"]) for r in out]
    want = {tuple(sorted(p)) for p in combinations(range(n), 2)}
    assert set(got) == want
    assert len(got) == len(want)  # exactly once each, no singleton pairs
    assert all(
        r["jaccard"] == 1.0 and r["hamming"] == 0 and r["verified"]
        for r in out
    )


def test_capped_bucket_regime_e2e(spark, corpus, tmp_path_factory):
    """VERDICT r4 #6: drive buckets past max_bucket·salt through the FULL
    pipeline AND the incremental fold. The dropped-bucket counters must
    land on both metrics surfaces, verified edges from un-dropped buckets
    survive, and the incremental path is strictly more complete in the
    capped regime (a bucket keeps the edges it earned while small)."""
    import json

    tiny = DedupConfig(max_bucket=4, salt=1)
    res = run_pipeline(corpus, tiny)
    m = res["candidate_metrics"].collect()[0]
    assert m["dropped_buckets"] > 0
    assert m["max_bucket_size"] > tiny.max_bucket * tiny.salt
    capped = {
        (r["src"], r["dst"])
        for r in res["edges"].where("verified").collect()
    }
    uncapped = {
        (r["src"], r["dst"])
        for r in run_pipeline(corpus, DedupConfig(max_bucket=1_000_000))[
            "edges"
        ].where("verified").collect()
    }
    assert capped <= uncapped  # drops never invent pairs
    assert len(capped) > 0

    # incremental: fold two halves under the same tiny caps
    from dedup_spark.streaming import expanded_edges, incremental_update

    state = str(tmp_path_factory.mktemp("state_capped"))
    incremental_update(corpus.where("file_id < 200"), state, tiny)
    incremental_update(corpus.where("file_id >= 200"), state, tiny)
    with open(os.path.join(state, "metrics.jsonl")) as f:
        lines = [json.loads(ln) for ln in f]
    assert sum(ln["dropped_buckets"] for ln in lines) > 0
    inc = {
        (r["src"], r["dst"])
        for r in expanded_edges(spark, state).where("verified").collect()
    }
    # documented capped-regime semantics: incremental keeps edges earned
    # before a bucket crossed the cap — never fewer than the one-shot run
    assert inc >= capped
    assert inc <= uncapped


def test_dropped_counters_batch_equal_fold(spark, corpus, tmp_path_factory):
    """One counter definition (lsh.dropped_bucket_aggs): a one-batch fold
    of the whole corpus writes the dropped-bucket counters run_pipeline
    returns as candidate_metrics, and an input with no band rows (every
    file empty) reads zero on both paths."""
    import json

    from dedup_spark.streaming import incremental_update

    cfg = DedupConfig(max_bucket=2, salt=2)
    keys = ("dropped_buckets", "dropped_rows", "max_bucket_size")

    def both(df, name):
        with run_pipeline(df, cfg) as res:
            batch = res["candidate_metrics"].collect()[0].asDict()
        state = str(tmp_path_factory.mktemp(name))
        incremental_update(df, state, cfg)
        with open(os.path.join(state, "metrics.jsonl")) as f:
            fold = json.loads(f.readline())
        return batch, {k: fold[k] for k in keys}

    batch, fold = both(corpus, "state_counters")
    assert batch == fold == dict(zip(keys, (43, 259, 10)))
    empty = corpus.limit(20).withColumns({
        "content": F.lit(""), "content_sha256": F.sha2(F.lit(""), 256)})
    batch, fold = both(empty, "state_counters_empty")
    assert batch == fold == dict.fromkeys(keys, 0)


def test_result_plans_audits_lazily_and_releases(spark, corpus,
                                                 monkeypatch):
    """``run_pipeline`` plans the quadratic ``edges`` expansion only on
    its first read, and ``release()`` unpersists every stage persist the
    call took: three calls on distinct inputs leave the session's
    persisted-RDD count where it started (unreleased, it grew by three
    per input: sig_groups, edges_rep, clusters)."""
    from dedup_spark.operators import groups

    calls = []
    expand = groups.expand_group_edges

    def counting(*args):
        calls.append(1)
        return expand(*args)

    monkeypatch.setattr(groups, "expand_group_edges", counting)
    jsc = spark.sparkContext._jsc
    corpus.count()  # the fixture's own cache is not the result's
    before = jsc.getPersistentRDDs().size()
    for k in range(3):
        res = run_pipeline(corpus.where(f"file_id % 3 = {k}"), CFG)
        assert res["clusters"].count() > 0
        assert jsc.getPersistentRDDs().size() > before
        if k == 0:
            assert "edges" in res and calls == []  # `in` plans nothing
            edges = res["edges"]
            assert len(calls) == 1 and res["edges"] is edges
        res.release()
        assert jsc.getPersistentRDDs().size() == before


def test_verify_two_phase_equivalence(result):
    """Size-tiered verify (VERDICT r3 #6): with the hamming gate active,
    the two-phase plan (narrow simhash joins first, shingle sketches only
    for survivors) must emit exactly the single-phase plan's edge rows
    within the gate."""
    from dedup_spark.operators.verify import verify_pairs

    sigs = result["signatures"]
    pairs = result["candidates"]
    sh = sigs.select("file_id", "shingles")

    def rows(df):
        return {
            (r["src"], r["dst"], r["hamming"], round(r["jaccard"], 9),
             r["verified"])
            for r in df.collect()
        }

    # the gate picks the plan: < 64 runs two-phase, the default single
    two = rows(verify_pairs(pairs, sigs, sh,
                            DedupConfig(simhash_hamming_max=20)))
    allp = rows(verify_pairs(pairs, sigs, sh, CFG))
    assert two == {r for r in allp if r[2] <= 20}
    assert len(two) > 20  # the gate leaves a real comparison surface
    # and the gate actually gated something relative to hamming-off
    assert len(two) < len(allp)


@pytest.mark.parametrize("mode", ["entropy", "fixed"])
def test_pipeline_recall_all_chunk_modes(spark, mode):
    """VERDICT r3 #7: the recall/cluster gates previously ran only the
    default dynamic CDC; entropy and fixed modes go through the identical
    full-pipeline gate against the reference-semantics oracle."""
    cfg = DedupConfig(mode=mode)
    corpus_m = corpus_df(spark, 200, seed=31).cache()
    res = run_pipeline(corpus_m, cfg)
    got = {
        (r["src"], r["dst"])
        for r in res["edges"].where("verified").select("src", "dst").collect()
    }
    rows = [(r["file_id"], r["content"]) for r in corpus_m.collect()]
    oracle_pairs, oracle_clusters = run_oracle(rows, cfg)
    assert len(oracle_pairs) > 30, f"mode={mode}: oracle surface too small"
    missed = oracle_pairs - got
    recall = 1 - len(missed) / len(oracle_pairs)
    assert recall >= 0.99, f"mode={mode} recall {recall}"
    cl = {
        r["file_id"]: r["cluster_id"] for r in res["clusters"].collect()
    }
    assert set(cl) == set(oracle_clusters)
    corpus_m.unpersist()


def test_resume_skips_stages(spark, corpus, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("ckpt"))
    r1 = run_pipeline(corpus.limit(60), CFG, workdir=workdir)
    n1 = r1["clusters"].count()
    # wreck nothing; rerun must read checkpoints (same result, no recompute)
    r2 = run_pipeline(corpus.limit(60), CFG, workdir=workdir)
    assert r2["clusters"].count() == n1
    assert os.path.exists(os.path.join(workdir, "metrics.jsonl"))
    stages = {s for s in os.listdir(workdir) if not s.endswith(".jsonl")}
    assert {"sig_groups", "candidates", "edges_rep", "clusters"} <= stages


@pytest.mark.skipif(
    not os.environ.get("RUN_SLOW"),
    reason="FIXTURES.md 5k recall gate; run with RUN_SLOW=1 (evidence in "
           "BENCH/BASELINE.md §5: recall 1.0 on 11,229 oracle pairs)",
)
def test_recall_gate_5k(spark):
    cfg = DedupConfig()
    corpus = corpus_df(spark, 5000, seed=123).cache()
    res = run_pipeline(corpus, cfg)
    got = {(r["src"], r["dst"])
           for r in res["edges"].where("verified").collect()}
    rows = [(r["file_id"], r["content"]) for r in corpus.collect()]
    op, _ = run_oracle(rows, cfg)
    assert len(op) > 5000
    assert got <= op  # exact precision
    assert 1 - len(op - got) / len(op) >= 0.99


def test_lcs_gate_in_pipeline(spark, corpus):
    """min_lcs wires the suffix-array gate into the pipeline: a sane
    threshold keeps true near-dups, an impossible one demotes all."""
    # dup clusters are appended after base singletons in synth — take the
    # tail so the slice actually contains near-dups
    small = corpus.where("file_id >= 300").cache()
    plain = run_pipeline(small, CFG)["edges"].where("verified").count()
    sane = run_pipeline(small, DedupConfig(min_lcs=40))["edges"].where(
        "verified").count()
    none = run_pipeline(small, DedupConfig(min_lcs=10**6))["edges"].where(
        "verified").count()
    assert none == 0
    assert 0 < sane <= plain


def test_lcs_gate(spark):
    """Suffix-array LCS filter: shared block found, unrelated pair rejected."""
    from dedup_spark.operators.verify import lcs_filter, longest_common_substring

    a = "A" * 50 + "SHARED-BLOCK-OF-TEXT" * 5 + "B" * 50
    b = "C" * 70 + "SHARED-BLOCK-OF-TEXT" * 5 + "D" * 30
    assert longest_common_substring(a.encode(), b.encode()) == 100
    df = spark.createDataFrame(
        [(1, 2, a, b), (3, 4, "xyz", "qrs")],
        "src long, dst long, content_src string, content_dst string",
    )
    kept = lcs_filter(df, min_lcs=50).collect()
    assert [(r["src"], r["dst"]) for r in kept] == [(1, 2)]


def test_group_contraction_semantics(spark):
    """group_window(group_keys(...))/expand_group_edges: rep = min
    file_id per identical sketch; expansion emits every within-group pair
    (jaccard 1) and fans a verified rep pair out to all member
    combinations."""
    from dedup_spark.operators.groups import (
        expand_group_edges, group_keys, group_star_pairs, group_window,
    )

    rows = [
        (1, 2, [10, 20]), (5, 2, [10, 20]), (3, 2, [10, 20]),  # group A
        (2, 2, [30, 40]), (8, 2, [30, 40]),                    # group B
        (9, 1, [50]),                                          # singleton
        (7, 0, []),                                            # no shingles
    ]
    sigs = spark.createDataFrame(
        [(f, n, sh, sh, n) for f, n, sh in rows],
        "file_id long, n_shingles int, shingles array<long>, "
        "minhash array<long>, simhash long",
    )
    g = group_window(group_keys(sigs))
    reps = {r["file_id"]: r["rep"] for r in g.collect()}
    assert reps == {1: 1, 5: 1, 3: 1, 2: 2, 8: 2, 9: 9}
    stars = {(r["src"], r["dst"]) for r in group_star_pairs(g).collect()}
    assert stars == {(1, 5), (1, 3), (2, 8)}

    edges_rep = spark.createDataFrame(
        [(1, 2, 0, 0.9, True), (1, 9, 0, 0.1, False)],
        "src long, dst long, hamming int, jaccard double, verified boolean",
    )
    out = expand_group_edges(edges_rep, g, len(rows)).collect()
    verified = {(r["src"], r["dst"]) for r in out if r["verified"]}
    # cross: {1,3,5} x {2,8}; within: A pairs + B pair
    assert verified == {
        (1, 2), (1, 8), (2, 3), (3, 8), (2, 5), (5, 8),
        (1, 3), (1, 5), (3, 5), (2, 8),
    }
    rejected = [(r["src"], r["dst"]) for r in out if not r["verified"]]
    assert rejected == [(1, 9)]


@pytest.fixture(scope="module")
def copies_corpus(corpus):
    """The module corpus plus four exact copies (ids + 1000·k) of every
    fifth file from id 200 on, where the near-dup clusters live: groups
    of five members whose reps carry verified cross-group edges."""
    src = corpus.where("file_id >= 200 AND file_id % 5 = 0")
    out = corpus
    for k in (1, 2, 3, 4):
        out = out.unionByName(
            src.withColumn("file_id", F.col("file_id") + 1000 * k))
    return out.cache()


@pytest.fixture(scope="module")
def reversed_fold_state(copies_corpus, tmp_path_factory):
    """``copies_corpus`` folded in four batches, highest ids first: every
    later batch adds smaller ids to existing groups, so the stored edge
    endpoints (pinned at birth) are no longer group minima."""
    from dedup_spark.streaming import incremental_update

    state = str(tmp_path_factory.mktemp("state_reversed"))
    for lo, hi in ((3000, 10**9), (2000, 3000), (1000, 2000), (0, 1000)):
        incremental_update(
            copies_corpus.where(f"file_id >= {lo} AND file_id < {hi}"),
            state, CFG)
    return state


@pytest.mark.parametrize("fused", [True, False])
def test_multi_block_expansion_matches_brute_force(
        spark, monkeypatch, copies_corpus, reversed_fold_state, fused):
    """The blocked member expansion with 2-member id blocks (every group
    of the injected copies hashes into three blocks), fused and behind its
    exchanges: the pipeline's ``edges`` and ``expanded_edges`` after a
    reversed-order fold each emit exactly the brute-force member pair
    set — every within-group pair, and the member product of every
    verified rep edge — once per pair."""
    from itertools import combinations, product

    from dedup_spark.operators import groups as G
    from dedup_spark.streaming import expanded_edges

    monkeypatch.setattr(G, "MEMBER_BLOCK", 2)
    monkeypatch.setattr(G, "FUSED_MAX_PAIRS", 10**18 if fused else 0)
    with run_pipeline(copies_corpus, CFG) as res:
        members: dict[int, list[int]] = {}
        for r in res["groups"].collect():
            members.setdefault(r["rep"], []).append(r["file_id"])
        rep_edges = [(r["src"], r["dst"]) for r in
                     res["edges_rep"].where("verified").collect()]
        want = {tuple(sorted(p)) for m in members.values()
                for p in combinations(m, 2)}
        want |= {tuple(sorted(p)) for a, b in rep_edges
                 for p in product(members[a], members[b])}
        # non-vacuous: verified edges between multi-block groups exist
        assert any(len(members[a]) > 2 and len(members[b]) > 2
                   for a, b in rep_edges)

        def pairs(df):
            got = [(r["src"], r["dst"]) for r in
                   df.where("verified").select("src", "dst").collect()]
            assert len(got) == len(set(got))  # each pair exactly once
            return set(got)

        assert pairs(res["edges"]) == want
        assert G.expanded_edge_count(res["edges_rep"], res["groups"]) \
            == len(want)
        assert pairs(expanded_edges(spark, reversed_fold_state)) == want
        # the gate really flipped: only the unfused plan has the (dst, src)
        # fusion-break exchange
        plan = res["edges"]._jdf.queryExecution().executedPlan().toString()
        fusion_break = re.compile(r"hashpartitioning\(dst#\d+L?, src#")
        assert bool(fusion_break.search(plan)) is not fused


def test_rep_graph_labels_match_member_oracle(spark, copies_corpus,
                                              reversed_fold_state):
    """Clustering the representative graph labels every member exactly
    as a member-level union-find over the brute-force member pair set
    (every within-group pair, the member product of every verified rep
    edge) — in the pipeline, and in serve after a reversed-order fold,
    where stored edge endpoints are not group minima."""
    from itertools import combinations, product

    from dedup_spark.oracle import oracle_clusters
    from dedup_spark.streaming import current_clusters

    def labels(df):
        return {r["file_id"]: r["cluster_id"] for r in df.collect()}

    with run_pipeline(copies_corpus, CFG) as res:
        members: dict[int, list[int]] = {}
        for r in res["groups"].collect():
            members.setdefault(r["rep"], []).append(r["file_id"])
        rep_edges = [(r["src"], r["dst"]) for r in
                     res["edges_rep"].where("verified").collect()]
        got = labels(res["clusters"])
    pairs = [p for m in members.values() for p in combinations(m, 2)]
    pairs += [p for a, b in rep_edges
              for p in product(members[a], members[b])]
    # non-vacuous: a multi-member group's rep carries a verified edge
    assert any(len(members[v]) > 1 for e in rep_edges for v in e)
    want = oracle_clusters([f for m in members.values() for f in m], pairs)
    assert got == want
    assert labels(current_clusters(spark, reversed_fold_state)) == want


# Spark jobs of one run_pipeline plus a clusters distinct count on the
# corpus below (8 cores, 8 shuffle partitions): one more while the CC
# clustered star pairs + rep edges behind its persist + count probe.
PIPELINE_JOB_FLOOR = 20


def test_pipeline_job_floor(spark, group_jobs):
    """Fixed cost of the batch path, counted in Spark jobs: no probe job
    (a size count, a cache barrier) may come back silently. The corpus is
    its own (120 files, every fifth copied once), so no cached frame of
    another test can stand in for a stage."""
    base = corpus_df(spark, 100, seed=79)
    corpus = base.unionByName(base.where("file_id % 5 = 0").withColumn(
        "file_id", F.col("file_id") + 1000)).cache()
    corpus.count()  # the input cache is not part of the pipeline

    def run_and_count():
        with run_pipeline(corpus, CFG) as res:
            res["clusters"].select("cluster_id").distinct().count()

    assert group_jobs("pipeline_floor", run_and_count) <= PIPELINE_JOB_FLOOR


def test_resume_rejects_stale_fingerprint(spark, corpus, tmp_path_factory):
    """A checkpoint written under different config semantics must be
    recomputed, not resumed (ADVICE r2: config/semantics fingerprint).
    Here the jaccard threshold changes between runs; a naive resume would
    serve the old edge set."""
    workdir = str(tmp_path_factory.mktemp("ckpt_fp"))
    small = corpus.where("file_id >= 300")
    loose = run_pipeline(small, DedupConfig(jaccard_threshold=0.3),
                         workdir=workdir)["edges"].where("verified").count()
    strict = run_pipeline(small, DedupConfig(jaccard_threshold=0.95),
                          workdir=workdir)["edges"].where("verified").count()
    assert strict < loose  # stale resume would return the 0.3 edges
    # and resuming with the SAME config still loads the checkpoint
    again = run_pipeline(small, DedupConfig(jaccard_threshold=0.95),
                         workdir=workdir)["edges"].where("verified").count()
    assert again == strict


def test_cc_distributed_loop_matches_driver_path(spark, monkeypatch):
    """Force DRIVER_FINALIZE_EDGES tiny so the distributed alternating
    large-star/small-star loop actually runs before the bounded toPandas
    driver finalize (the suites otherwise always take the small-graph fast
    path), and assert identical clusters (VERDICT r2 #8)."""
    from dedup_spark.operators import cluster as cl

    # a 60-vertex chain (worst case for contraction rounds), two cliques,
    # and a couple of isolated-by-edges stars
    pairs = [(i, i + 1) for i in range(60)]
    pairs += [(100 + a, 100 + b) for a in range(8) for b in range(a + 1, 8)]
    pairs += [(200, 201), (200, 202), (300, 301)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    ids = spark.range(0, 310).select(F.col("id").alias("file_id"))

    want = {
        (r["file_id"], r["cluster_id"])
        for r in cl.cluster_assignments(ids, edges).collect()
    }
    monkeypatch.setattr(cl, "DRIVER_FINALIZE_EDGES", 4)
    got = {
        (r["file_id"], r["cluster_id"])
        for r in cl.cluster_assignments(ids, edges).collect()
    }
    assert got == want
    # sanity: the chain really is one component rooted at 0
    assert (59, 0) in got and (107, 100) in got


def test_cc_edges_canonical_flag_equivalence(spark, monkeypatch):
    """edges_canonical=True (pipeline fast path: skips the canonicalization
    exchange) must produce identical clusters to the default path when the
    input really is canonical — and a messy edge list (reversed,
    duplicated, self-loop) must give the same labels unbounded (counted),
    under an exact bound, and canonicalized through the distributed
    rounds. An id frame with a ``rep`` column labels members by their
    rep's component."""
    from dedup_spark.operators import cluster as cl

    canonical = [(0, 1), (1, 2), (5, 6), (8, 9)]
    messy = canonical + [(2, 1), (1, 0), (6, 5), (7, 7)]
    ids = spark.range(0, 10).select(F.col("id").alias("file_id"))

    def labels(edges, ids=ids, **kw):
        return {
            (r["file_id"], r["cluster_id"])
            for r in cl.cluster_assignments(
                ids, spark.createDataFrame(edges, "src long, dst long"), **kw
            ).collect()
        }

    fast = labels(canonical, edges_canonical=True)
    counted = labels(messy)
    bounded = labels(messy, max_edges=len(messy))
    # members 10-12 of the groups repped by 2 (on an edge), 7 (self-loop
    # only) and 3 (on no edge)
    with_reps = spark.createDataFrame(
        [(f, f) for f in range(10)] + [(10, 2), (11, 7), (12, 3)],
        "file_id long, rep long")
    by_rep = labels(messy, ids=with_reps, max_edges=len(messy))
    monkeypatch.setattr(cl, "DRIVER_FINALIZE_EDGES", 2)
    distributed = labels(messy)
    assert fast == counted == bounded == distributed
    assert (2, 0) in fast and (9, 8) in fast and (7, 7) in fast
    assert by_rep == fast | {(10, 0), (11, 7), (12, 3)}
