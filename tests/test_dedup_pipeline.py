"""End-to-end Spark dedup slice: chunk → manifest → unique → reconstruct.

Mirrors the reference round-trip tests (/root/reference/reader_test.go:15-73)
and the bounded dedup-effectiveness assertions (writer_test.go:54-66).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from dedup_spark import chunkers as ck
from dedup_spark.operators.chunk import chunk_and_hash, fixed_chunks_relational
from dedup_spark.operators.dedup import (
    build_manifest, dedup_stats, max_mem, unique_chunks,
)
from dedup_spark.operators.reconstruct import reconstruct, verify_roundtrip


@pytest.fixture(scope="module", params=["fixed", "dynamic", "entropy"])
def pipeline(request, spark, corpus200):
    mode = request.param
    chunks = chunk_and_hash(corpus200, mode=mode, max_size=1024)
    manifest = build_manifest(chunks).cache()
    unique = unique_chunks(manifest, corpus200)
    return mode, corpus200, chunks, manifest, unique


def test_roundtrip_sha256(spark, pipeline):
    _, corpus, _, manifest, unique = pipeline
    bad = verify_roundtrip(corpus, manifest, unique)
    assert bad.count() == 0


def test_chunks_match_local_kernel(spark, pipeline):
    """Spark stage reproduces the pure-Python kernel exactly (SURVEY §5.2)."""
    mode, corpus, chunks, _, _ = pipeline
    local = {r["file_id"]: r["content"] for r in corpus.collect()}
    got = {}
    for r in chunks.collect():
        got.setdefault(r["file_id"], []).append(
            (r["seq"], r["offset"], r["length"], bytes(r["hash"]))
        )
    for fid, content in local.items():
        data = content.encode("utf-8")
        expect = [
            (i, off, ln, hashlib.sha1(data[off:off + ln]).digest())
            for i, (off, ln) in enumerate(ck.chunk_fn(mode)(data, 1024))
        ]
        assert sorted(got.get(fid, [])) == expect, f"file {fid} mode {mode}"


def test_dedup_effectiveness(spark, pipeline):
    """Corpus has 40% injected dups: unique bytes must be well below total."""
    mode, _, _, manifest, _ = pipeline
    row = dedup_stats(manifest).collect()[0]
    assert row["n_unique"] <= row["n_chunks"]
    assert row["unique_bytes"] < row["total_bytes"]
    assert 0.0 < row["dedup_ratio"] < 1.0


def test_max_mem(spark, pipeline):
    _, _, _, manifest, _ = pipeline
    mm = max_mem(manifest).collect()[0]["max_mem"]
    stats = dedup_stats(manifest).collect()[0]
    assert 0 < mm <= stats["unique_bytes"]


def _max_mem_brute(rows, seq_bits=20):
    """Reference sweep (reader.go:324-349) in plain Python."""
    spans = {}
    for r in rows:
        g = r["file_id"] * (1 << seq_bits) + r["seq"]
        first, last, ln = spans.get(r["hash"], (g, g, r["length"]))
        spans[r["hash"]] = (min(first, g), max(last, g), ln)
    deltas = {}
    for first, last, ln in spans.values():
        deltas[first] = deltas.get(first, 0) + ln
        deltas[last + 1] = deltas.get(last + 1, 0) - ln
    live = peak = 0
    for pos in sorted(deltas):
        live += deltas[pos]
        peak = max(peak, live)
    return peak


def test_max_mem_exact_distributed(spark):
    """Two-phase prefix sum gives the exact sweep value on a multi-partition
    frame, including adjacent intervals whose -delta and +delta land on the
    SAME position (the tie case the old un-preaggregated window got wrong).
    """
    # hash A lives [0,2], B [3,5] (B.first == A.last+1 — tie position),
    # C [1,9], D at 7 only; lengths distinguish contributions
    rows = [
        ("A", 0, 0), ("C", 0, 1), ("A", 0, 2), ("B", 0, 3),
        ("B", 0, 5), ("D", 0, 7), ("C", 0, 9),
    ]
    data = [
        {"file_id": f, "seq": s, "hash": h.encode(), "length": 100 + i,
         "offset": 0, "is_new": True}
        for i, (h, f, s) in enumerate(rows)
    ]
    # make per-hash length consistent (first wins in the operator)
    by_hash = {}
    for d in data:
        d["length"] = by_hash.setdefault(d["hash"], 10 * (d["hash"][0]))
    mdf = spark.createDataFrame(data).repartition(8)
    got = max_mem(mdf, n_buckets=4).collect()[0]["max_mem"]
    assert got == _max_mem_brute(data)
    # the heavy running sum must be bucket-partitioned: no WindowExec without
    # a partition spec over the events frame except the tiny per-bucket
    # offsets pass (n_buckets rows)
    plan = max_mem(mdf, n_buckets=4)._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


def test_unique_chunks_distinct_under_max_backref(spark, corpus200):
    """A bounded-window manifest re-flags far re-occurrences as new (J3);
    unique_chunks must still emit one payload per hash so reconstruct's
    join cannot fan out."""
    chunks = chunk_and_hash(corpus200, mode="fixed", max_size=1024)
    manifest = build_manifest(chunks, max_backref=2)
    uniq = unique_chunks(manifest, corpus200)
    n, nd = uniq.agg(
        F.count("*").alias("n"), F.countDistinct("hash").alias("nd")
    ).collect()[0]
    assert n == nd
    assert verify_roundtrip(corpus200, manifest, uniq).count() == 0


def test_global_seq_overflow_raises(spark):
    from dedup_spark.operators.dedup import with_global_seq

    df = spark.createDataFrame(
        [{"file_id": 1, "seq": 40}], "file_id long, seq int"
    )
    with pytest.raises(Exception, match="seq_bits"):
        with_global_seq(df, seq_bits=5).collect()


def test_bounded_backref_window(spark, corpus200):
    """J3: with a tiny max_backref, fewer chunks count as dups
    (format-2 semantics, writer.go:541-543)."""
    chunks = chunk_and_hash(corpus200, mode="fixed", max_size=1024)
    unbounded = build_manifest(chunks)
    bounded = build_manifest(chunks, max_backref=1 << 20)  # ~1 file span
    n_dup_unbounded = unbounded.where(~F.col("is_new")).count()
    n_dup_bounded = bounded.where(~F.col("is_new")).count()
    assert n_dup_bounded <= n_dup_unbounded


def test_fixed_relational_matches_udf(spark, corpus200):
    """The pure-JVM fixed chunker agrees with the Arrow-UDF path on
    (file_id, seq, offset, length) — hashes differ only by algorithm."""
    rel = fixed_chunks_relational(corpus200, 1024).select(
        "file_id", "seq", "offset", "length"
    )
    udf = chunk_and_hash(corpus200, mode="fixed", max_size=1024).select(
        "file_id", "seq", "offset", "length"
    )
    assert rel.exceptAll(udf).count() == 0
    assert udf.exceptAll(rel).count() == 0


def test_unicode_roundtrip(spark):
    """Chunk offsets are byte offsets into UTF-8; payload slicing and
    reassembly must be byte-wise. Regression: char-based substring
    corrupted multibyte content (incl. chunk boundaries splitting a
    multibyte character mid-sequence)."""
    rows = [
        (0, "héllo wörld ünïcode " * 100),
        (1, "日本語のテキスト" * 200),
        (2, "plain ascii " * 100),
        (3, ""),
        (4, "🎉emoji🎊" * 300),
    ]
    df = spark.createDataFrame(rows, "file_id long, content string").withColumn(
        "content_sha256", F.sha2("content", 256)
    )
    for mode in ("fixed", "dynamic", "entropy"):
        chunks = chunk_and_hash(df, mode=mode, max_size=1024)
        man = build_manifest(chunks)
        uniq = unique_chunks(man, df)
        assert verify_roundtrip(df, man, uniq).count() == 0, mode


def test_fixed_relational_offsets_are_chars(spark):
    """Relational path slices characters; ASCII corpus keeps it equal to
    byte offsets. Guard: multibyte content must go through the UDF path."""
    df = spark.createDataFrame(
        [(0, "a" * 2048)], "file_id long, content string"
    )
    rows = fixed_chunks_relational(df, 1024).orderBy("seq").collect()
    assert [(r["seq"], r["length"]) for r in rows] == [(0, 1024), (1, 1024)]


def test_signature_scan_column_pruning(spark, tmp_path):
    """Column pruning must reach the parquet ReadSchema through the
    binary cast: the signature stage ships ONLY (file_id, content) to the
    UDF even when the corpus table carries many more columns."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.operators.signatures import compute_signatures

    spark.createDataFrame(
        [(1, "r", "p", "c", "en", "hello world", "sha")],
        "file_id long, repo string, path string, commit string, "
        "lang string, content string, content_sha256 string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/corpus")
    corpus = spark.read.parquet(f"{tmp_path}/corpus")
    plan = (
        compute_signatures(corpus, DedupConfig())
        ._jdf.queryExecution().executedPlan().toString()
    )
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    for l in scan_lines:
        schema = l.split("ReadSchema:")[1]
        assert "content" in schema and "file_id" in schema
        for col in ("repo", "path", "commit", "lang", "content_sha256"):
            assert col not in schema, f"unpruned column {col}: {schema}"


def test_zpaq_chunk_stats_pinned_triple(spark):
    """The one rows-only driver cell (no DuckDB oracle possible for the
    per-byte ZPAQ recurrence): pin the exact sf0.01 result so the query is
    regression-gated in pytest even though the driver check is rows-only
    (VERDICT r2 #7). Kernel correctness itself is golden-gated in
    tests/test_chunkers.py."""
    import os

    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(sf_dir):
        pytest.skip("driver testdata not present")
    row = e.q_zpaq_chunk_stats(spark, sf_dir).first()
    assert (row["n_chunks"], row["n_unique"], row["total_bytes"]) == (
        1052, 1030, 149174,
    )


def test_dup_injection_is_nonvacuous(spark):
    """VERDICT r3 #1: the dedup-family parity queries must run over a
    corpus that CAN falsify them. Pin that the injected-duplicate surface
    at sf0.01 is non-trivial: real dup groups, is_new=false rows, backrefs
    past the bounded window, and n_unique < n_chunks."""
    import os

    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(sf_dir):
        pytest.skip("driver testdata not present")
    assert e.q_exact_dup_groups(spark, sf_dir).count() == 72
    br = e.q_backref_stats(spark, sf_dir).first()
    assert br["n_dups"] == 72 and br["dropped_by_window8"] > 0
    cs = e.q_chunk_dedup_stats(spark, sf_dir).first()
    assert cs["n_unique"] < cs["n_chunks"]
    dm = e.q_doc_manifest(spark, sf_dir)
    assert dm.where("NOT is_new").count() == 72
    assert dm.where("backref IS NOT NULL").count() == 72
