"""The SQL surface's chunk and near-dup queries against their DuckDB twins
at sf0.01: once at the default size gates and once with the n-gram volume
gate and the CC driver finalize forced to their other branch. The same
cold, declared-order runs pin the job budget of the two query chains.
Also the value check of ``zpaq_chunk_stats``, whose ZPAQ recurrence has
no DuckDB twin."""

import os

import pytest

SF = "/root/testdata/sf0.01"
CHUNK_QUERIES = ("chunk_manifest", "chunk_dedup_stats", "max_mem",
                 "mem_use", "block_sizes", "backref_stats")
NEARDUP_QUERIES = ("ngram_jaccard_pairs", "neardup_components",
                   "neardup_survivors", "dedup_reduction_stats")

# Spark jobs of each chain run cold (release_caches() first) in declared
# order, each query collected, at sf0.01 (8 cores, 8 shuffle partitions):
# chunk 11/2/6/2/2/2, near-dup 14/5/4/5, both with the entry's own
# manifest window and n-gram engine and on the library operators.
CHUNK_CHAIN_JOB_FLOOR = 25
NEARDUP_CHAIN_JOB_FLOOR = 28

pytestmark = pytest.mark.skipif(not os.path.exists(SF),
                                reason=f"{SF} not present")


@pytest.fixture(scope="module")
def duck_rows():
    """Normalized DuckDB answers of the ten queries, computed once."""
    duckdb = pytest.importorskip("duckdb")

    import __spark_entry__ as e
    from tools.check_oracle import norm_rows

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    sql = e.oracle_sql()
    out = {}
    for q in CHUNK_QUERIES + NEARDUP_QUERIES:
        res = con.execute(sql[q])
        out[q] = norm_rows([d[0] for d in res.description], res.fetchall())
    return out


def _run_pass(spark, group_jobs, tag, queries):
    """``queries`` from cold caches in declared order: ({query: normalized
    rows}, {query: jobs}, CC distributed runs)."""
    import __spark_entry__ as e
    from dedup_spark.operators import cluster
    from tools.check_oracle import norm_rows

    rounds = []
    cc_rounds = cluster._cc_rounds

    def spy(edges):
        rounds.append(1)
        return cc_rounds(edges)

    qs = e.queries()
    rows, jobs = {}, {}
    e.release_caches()
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cluster, "_cc_rounds", spy)
            for q in queries:
                def run(q=q):
                    df = qs[q](spark, SF)
                    rows[q] = norm_rows(df.columns,
                                        [tuple(r) for r in df.collect()])
                jobs[q] = group_jobs(f"oracle_{tag}_{q}", run)
    finally:
        e.release_caches()
    return rows, jobs, len(rounds)


@pytest.fixture(scope="module")
def default_pass(spark, group_jobs):
    return _run_pass(spark, group_jobs, "default",
                     CHUNK_QUERIES + NEARDUP_QUERIES)


@pytest.fixture(scope="module")
def forced_pass(spark, group_jobs):
    """The near-dup chain with both of its gates forced (neither gate
    reaches the chunk chain)."""
    from dedup_spark.operators import cluster, ngram

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ngram, "VOLUME_MIN_ROWS", 0)
        mp.setattr(cluster, "DRIVER_FINALIZE_EDGES", 0)
        return _run_pass(spark, group_jobs, "forced", NEARDUP_QUERIES)


@pytest.mark.parametrize("gates", ["default", "forced"])
def test_rewired_queries_match_duckdb(request, duck_rows, gates):
    rows, _, _ = request.getfixturevalue(f"{gates}_pass")
    bad = [q for q in rows if rows[q] != duck_rows[q]]
    assert not bad, bad
    # non-vacuous: sf0.01 has near-dup pairs and components
    assert rows["ngram_jaccard_pairs"][0] and rows["neardup_components"][0]


def test_forced_gates_took_other_branch(default_pass, forced_pass):
    _, jobs, cc_runs = default_pass
    _, forced_jobs, forced_cc_runs = forced_pass
    # the volume gate's pair-volume measurement runs extra jobs
    assert (forced_jobs["ngram_jaccard_pairs"]
            > jobs["ngram_jaccard_pairs"]), (jobs, forced_jobs)
    # the CC ran its distributed rounds only when forced
    assert cc_runs == 0 and forced_cc_runs == 1


def test_sql_chain_job_budget(default_pass):
    _, jobs, _ = default_pass
    chunk = sum(jobs[q] for q in CHUNK_QUERIES)
    neardup = sum(jobs[q] for q in NEARDUP_QUERIES)
    assert chunk <= CHUNK_CHAIN_JOB_FLOOR, jobs
    assert neardup <= NEARDUP_CHAIN_JOB_FLOOR, jobs


def test_zpaq_chunk_stats_values(spark):
    """``zpaq_chunk_stats`` equals the pure-Python ZPAQ chunker + SHA-1
    over the sf0.01 texts in doc_id order (the query runs the C kernel
    through the Arrow UDF; test_fast_path_matches_py ties the two)."""
    import hashlib

    import pyarrow.parquet as pq

    import __spark_entry__ as e
    from dedup_spark.chunkers import zpaq_chunks_py

    docs = pq.read_table(f"{SF}/documents.parquet",
                         columns=["doc_id", "text"]).to_pylist()
    n_chunks, seen, total = 0, set(), 0
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        data = (d["text"] or "").encode("utf-8")
        for off, length in zpaq_chunks_py(data, 1024):
            n_chunks += 1
            seen.add(hashlib.sha1(data[off:off + length]).digest())
            total += length
    got = e.q_zpaq_chunk_stats(spark, SF).collect()
    assert [tuple(r) for r in got] == [(n_chunks, len(seen), total)]
    assert len(seen) < n_chunks  # non-vacuous: some chunks repeat
