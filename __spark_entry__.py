"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship dedup slice on sf0.001.
``queries()`` / ``oracle_sql()`` — operator surface checked against DuckDB
at sf0.01 (row-count + schema + order-insensitive value-hash).

Conventions for oracle parity:
- every computed column aliased identically on both sides;
- DuckDB SUM() casts to BIGINT (DuckDB sums to HUGEINT, Spark to long);
- doubles rounded to 6 dp on both sides;
- hashing uses sha256 hex (DuckDB has no sha1; our engine's hash is
  pluggable — SURVEY.md H2).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dedup_spark.config import (  # noqa: E402
    MERSENNE31, DedupConfig, minhash_coeffs,
)
from dedup_spark.operators import ngram  # noqa: E402

CHUNK = 1000  # fixed-mode chunk size for SQL-parity queries (chars)


def _par_read(spark: SparkSession, path: str, key: str) -> DataFrame:
    """Parquet read with a scan-parallelism floor (guide §6 / §2.5).

    The driver SF tables are written as ONE row group per file, so the
    scan gets one task no matter how small ``maxPartitionBytes`` is — and
    whole-stage fusion then runs every per-row expression downstream of
    the scan (text decode, regex splits, md5/sha hashing, array ops) on
    ONE core until the first exchange (measured: the entire doc_repetition
    query single-task at sf1.0). When the scan has fewer splits than the
    session's parallelism, re-spread rows right after the read with a
    deterministic hash repartition on the table key (hash, not
    round-robin: no sort-before-repartition pass, and row placement stays
    stable under task retry). Already-parallel scans pass through.
    """
    df = spark.read.parquet(path)
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        df = df.repartition(p, F.col(key))
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _par_read(spark, f"{sf_dir}/documents.parquet", "doc_id")


# Deterministic duplicate injection for the dedup-family parity queries
# (VERDICT r3 "What's wrong" #1): the raw sf0.01 corpus has ZERO duplicate
# docs/chunks, so first-occurrence / backref / eviction checks passed
# vacuously. Both engines apply the IDENTICAL union — every 7th doc
# reappears shifted by 100000 — so exact_dup_groups now has real groups,
# doc/chunk manifests exercise is_new=false + backrefs, and max_mem sees
# multi-position liveness intervals. Purely in-query; no external data.
_DUP_MOD = 7
_DUP_OFFSET = 100000


def _docs_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text", "lang", "source",
                                    "n_chars")
    # collision-proof injected ids at ANY scale factor: offset = the
    # larger of the fixed offset and max(doc_id)+1, computed identically
    # by the DuckDB twin (a fixed literal alone would collide with real
    # ids once the table holds >= _DUP_OFFSET docs)
    off = F.greatest(F.lit(_DUP_OFFSET), F.max("doc_id") + 1).alias("_off")
    inj = (
        d.crossJoin(F.broadcast(d.agg(off)))
        .where(F.col("doc_id") % _DUP_MOD == 0)
        .select(
            (F.col("doc_id") + F.col("_off")).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    return d.unionByName(inj)


def _dochash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text_hash, lang, n_chars) over the dup-injected table —
    the shared input of the four document-granularity dedup queries
    (exact_dup_groups, doc_dedup_stats, doc_manifest, dup_docs_by_lang).
    Narrow (no text) and session-cached, so the full-text scan + sha256
    runs once per session instead of four times."""
    def build():
        return _docs_dup(spark, sf_dir).select(
            "doc_id", F.sha2("text", 256).alias("text_hash"), "lang",
            "n_chars",
        )

    return _cached_frame(spark, sf_dir, "dochash", build)


_DOCS2_SQL = f"""docs2 AS (
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + (SELECT greatest({_DUP_OFFSET}, max(doc_id) + 1)
                     FROM documents) AS doc_id,
           text, lang, source, n_chars
    FROM documents WHERE doc_id % {_DUP_MOD} = 0
)"""


def _chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-mode chunk manifest over the dup-injected documents, pure JVM
    (no Python UDF): chunk → sha256 → ``build_manifest`` (SURVEY.md
    C1+J1+J2), whose ``global_seq`` order is (doc_id, seq) order. The
    injected duplicates make every downstream dedup metric (is_new=false,
    backrefs, eviction windows, MaxMem intervals) non-trivially
    falsifiable at the driver's sf0.01 gate.

    Session-cached (keyed persist, same pattern as the token-hash frame):
    SIX queries consume this manifest (chunk_manifest, chunk_dedup_stats,
    max_mem, mem_use, block_sizes, backref_stats) and each used to replan
    the whole chunk+sha256 scan; the manifest itself is narrow (one row
    per 1000-char chunk)."""
    from dedup_spark.operators.chunk import fixed_chunks_relational
    from dedup_spark.operators.dedup import build_manifest

    def build():
        chunks = fixed_chunks_relational(
            _docs_dup(spark, sf_dir), CHUNK, content_col="text",
            id_col="doc_id"
        )
        return build_manifest(chunks).withColumnRenamed("file_id", "doc_id")

    return _cached_frame(spark, sf_dir, "chunk_manifest", build)


_CHUNKS_CTE = f"""
WITH {_DOCS2_SQL},
chunks AS (
    SELECT d.doc_id,
           CAST(i.i AS INT) AS seq,
           CAST(i.i * {CHUNK} AS BIGINT) AS "offset",
           CAST(length(substring(d.text, CAST(i.i * {CHUNK} + 1 AS INT), {CHUNK})) AS INT) AS length,
           sha256(substring(d.text, CAST(i.i * {CHUNK} + 1 AS INT), {CHUNK})) AS hash
    FROM docs2 d,
         (SELECT unnest(generate_series(0, 9999)) AS i) i
    WHERE length(d.text) > 0
      AND i.i <= CAST(ceil(length(d.text) / {CHUNK}.0) AS INT) - 1
),
manifest AS (
    SELECT *,
           row_number() OVER (PARTITION BY hash ORDER BY doc_id, seq) = 1 AS is_new
    FROM chunks
)
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 at document granularity: groups of byte-identical docs (over the
    dup-injected table — non-empty, falsifiable result)."""
    return (
        _dochash_frame(spark, sf_dir)
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum("n_chars").alias("group_chars"),
        )
        .where(F.col("n_docs") > 1)
    )


def q_doc_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: corpus-level dedup ratio at document granularity (dup-injected
    table — dup_ratio > 0)."""
    d = _dochash_frame(spark, sf_dir)
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text_hash").alias("n_unique"),
        F.round(
            1.0 - F.countDistinct("text_hash") / F.count("*"), 6
        ).alias("dup_ratio"),
    )


def q_doc_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2 at document granularity: first-occurrence flag + backref to
    the latest previous identical doc (writer.go:499-508 semantics); the
    injected duplicates exercise the is_new=false + backref branches."""
    d = _dochash_frame(spark, sf_dir)
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return d.select(
        "doc_id",
        "text_hash",
        (F.row_number().over(w) == 1).alias("is_new"),
        (F.col("doc_id") - F.lag("doc_id").over(w)).alias("backref"),
    )


def q_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+J1: fixed-mode chunk manifest over documents (pure JVM path)."""
    return _chunk_manifest(spark, sf_dir).select(
        "doc_id", "seq", "offset", "length", "hash", "is_new"
    )


def q_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 over the chunk manifest: Blocks()/removed-bytes metrics."""
    m = _chunk_manifest(spark, sf_dir)
    return m.agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("long").alias("n_unique"),
        F.sum("length").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("is_new"), F.col("length")).otherwise(0))
        .cast("long").alias("unique_chars"),
    )


def q_max_mem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 MaxMem peak-liveness sweep (reader.go:324-349) over the chunk
    manifest. Delegates to the library operator: per-position delta
    pre-aggregation (tie-order independence) + a two-phase distributed
    prefix sum — no single-partition global Window."""
    from dedup_spark.operators.dedup import max_mem

    m = _chunk_manifest(spark, sf_dir).withColumnRenamed("doc_id", "file_id")
    return max_mem(m)


def q_dup_docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 grouped: duplicate-document counts per language (dup-injected
    table — n_dup_docs > 0)."""
    d = _dochash_frame(spark, sf_dir)
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        d.withColumn("is_new", F.row_number().over(w) == 1)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(~F.col("is_new"), 1).otherwise(0)).cast("long")
            .alias("n_dup_docs"),
        )
        .orderBy("lang")
    )


def q_zpaq_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 (ZPAQ CDC) over documents via the Arrow UDF — not SQL-expressible
    (data-dependent byte recurrence); driver records rows-only check.
    Golden parity is covered by tests/test_chunkers.py instead."""
    from dedup_spark.operators.chunk import chunk_and_hash
    from dedup_spark.operators.dedup import build_manifest

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("file_id"), F.col("text").alias("content")
    )
    m = build_manifest(chunk_and_hash(docs, mode="dynamic", max_size=1024))
    return m.agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("long").alias("n_unique"),
        F.sum("length").cast("long").alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# text-analysis queries (SURVEY.md driver extras; JVM-side expressions)
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedup_spark.operators.textstats import with_token_count

    return (
        with_token_count(_docs(spark, sf_dir))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedup_spark.operators.textstats import with_quality_score

    return with_quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "punct_ratio", "mean_token_len",
        "stopword_ratio", "quality_score",
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedup_spark.operators.textstats import with_lang_pred

    return (
        with_lang_pred(_docs(spark, sf_dir))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedup_spark.operators.textstats import doc_fingerprint

    fp = doc_fingerprint(_docs(spark, sf_dir), k=8)
    return fp.select(
        "doc_id",
        F.concat_ws(",", F.transform("fingerprint",
                                     lambda v: v.cast("string"))).alias("fp"),
    )


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence dedup at sub-document (20-token passage)
    granularity over the dup-injected table — J1 semantics
    (writer.go:595-601) one level below the document: injected duplicate
    docs score dup_frac = 1.0, and natural short-tail segment collisions
    exercise the partial-dup path. Skew-safe groupBy-min first-occurrence
    (no per-key ordered window; see passage_dedup_stats docstring)."""
    from dedup_spark.operators.textstats import passage_dedup_stats

    return passage_dedup_stats(_docs_dup(spark, sf_dir)).withColumn(
        "n_new_segs", F.col("n_new_segs").cast("long")
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality signals (duplicate
    token / duplicate word-trigram fractions, Rae et al. 2021 §A1.1) —
    the repetition leg of a training-data quality filter. Pure JVM array
    expressions, zero shuffle."""
    from dedup_spark.operators.textstats import with_repetition

    return with_repetition(_docs(spark, sf_dir)).select(
        "doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_token_frac", "dup_trigram_frac",
    )


# ---------------------------------------------------------------------------
# MinHash / SimHash / n-gram Jaccard with exact SQL twins
# ---------------------------------------------------------------------------

_K16 = 16


def _coeffs16():
    return minhash_coeffs(_K16, DedupConfig.seed)


# --- shared persisted frames -------------------------------------------
# The (doc_id, token-hash) frame is the common input of minhash_signatures,
# simhash_docs, and the band query: built once per (session, sf_dir) and
# persisted, it saves two full scan+split+md5 passes when the queries run
# in one session (driver gate, bench). EVERY persist this module takes is
# keyed here (ADVICE r4: the members/postings persists used to stack a new
# cached frame per query invocation until release_caches was called; now a
# repeat invocation reuses the cache, and entries of stopped applications
# are evicted as soon as a new application id is seen).
_FRAME_CACHE: dict = {}  # (applicationId, sf_dir, name) -> persisted frame


def _cached_frame(spark: SparkSession, sf_dir: str, name: str,
                  build) -> DataFrame:
    """Session-keyed persisted frame with an eager materialization barrier
    (consumers must never race an unpopulated cache — non-AQE broadcast
    futures would double-compute it; event-log measured, see pipeline.py).
    Keyed by applicationId, not id(spark): a stopped session's id() can be
    recycled by a later allocation, which would hand back a frame bound to
    a dead SparkContext."""
    from pyspark import StorageLevel

    # build/insert under a lock (ADVICE r5): two concurrent driver threads
    # on one key would both build+persist, and the loser's persist could
    # never be released by release_caches(). Coarse by design — concurrent
    # callers of DIFFERENT keys are rare (bench/driver run queries
    # serially) and a duplicate multi-second build is the real cost.
    with _FRAME_LOCK:
        app = spark.sparkContext.applicationId
        for k in [k for k in _FRAME_CACHE if k[0] != app]:
            del _FRAME_CACHE[k]  # dead application: its persists died with it
        key = (app, sf_dir, name)
        df = _FRAME_CACHE.get(key)
        if df is None:
            df = build().persist(StorageLevel.MEMORY_AND_DISK_DESER)
            _FRAME_ROWS[(sf_dir, name)] = df.count()
            _FRAME_CACHE[key] = df
        return df


# row counts of cached frames — the eager barrier's count() is not thrown
# away: consumers use it for size-derived plan gates (e.g. the band
# query's mega-bucket pre-filter). Keyed WITHOUT the application id: a
# count is a property of the data, not the session.
_FRAME_ROWS: dict = {}

import threading as _threading

# RLock, not Lock: cache builds NEST (ngram_pairs builds gram_rows,
# neardup_cc builds ngram_pairs) and the building thread re-enters.
_FRAME_LOCK = _threading.RLock()


def release_caches() -> None:
    """Unpersist every cached frame this module holds (bench/driver hook).
    The recorded row counts go too: they are only trustworthy while the
    session that measured them holds the data unchanged (a path
    re-written between sessions must be re-measured, or the size-derived
    plan gates would fire on stale counts)."""
    for df in _FRAME_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _FRAME_CACHE.clear()
    _FRAME_ROWS.clear()


def _tokh_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h): distinct-per-doc md5-based token hashes, persisted.

    The md5+conv hash is materialized ONCE per row here: embedding the
    hash expression in the 16 MinHash / 32 SimHash aggregates re-computes
    md5 per aggregate (no CSE across aggregate expressions — same Catalyst
    behavior as the ngram split fix; measured ~40% off the query)."""
    from dedup_spark.operators.textstats import token_hash_col

    def build():
        d = _docs(spark, sf_dir).where(F.length(F.trim("text")) > 0)
        # array_distinct already dedupes within each doc; no row-level
        # .distinct() — MIN/vote aggregates over a multiset equal those
        # over the set, so the full dedup shuffle the DuckDB twin's
        # DISTINCT implies is unnecessary here.
        toks = d.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.trim("text"), r"\s+"))
            ).alias("tok"),
        )
        h = token_hash_col()
        return toks.select("doc_id", h(F.col("tok")).alias("h"))

    return _cached_frame(spark, sf_dir, "tokh", build)


_TOKENS_CTE = """
WITH tokens AS (
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(t.tok), 1, 8))::BIGINT AS h
    FROM documents d,
         unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS t(tok)
    WHERE length(trim(d.text)) > 0
)
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 MinHash (K=16 SQL-parity slice of the K=128 engine path):
    identical (a*h+b) mod 2^31-1 arithmetic in Spark and DuckDB. Reads the
    shared persisted token-hash frame (built once per session+sf_dir —
    simhash_docs and the band query reuse it)."""
    a, b = _coeffs16()
    tokh = _tokh_frame(spark, sf_dir)
    aggs = [
        F.min((F.lit(a[i]) * F.col("h") + F.lit(b[i])) % MERSENNE31)
        .alias(f"mh{i}")
        for i in range(_K16)
    ]
    return tokh.groupBy("doc_id").agg(*aggs)


def _minhash_mins() -> str:  # the twins' 16 MinHash aggregates
    a, b = _coeffs16()
    return ",\n           ".join(
        f"min(({a[i]} * h + {b[i]}) % {MERSENNE31}) AS mh{i}"
        for i in range(_K16)
    )


def _minhash_sql() -> str:
    return _TOKENS_CTE + f"""
        SELECT doc_id,
           {_minhash_mins()}
        FROM tokens GROUP BY doc_id
    """


# the band query's LSH: 4 bands × r=4 over K=16; buckets pair directly up
# to 1,000 members and via salted blocks up to 10,000
_BAND_CFG = DedupConfig(num_perm=_K16, bands=4, band_rows=4,
                        max_bucket=1000, salt=10)


def q_minhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 LSH banding at document granularity (4 bands × r=4 over K=16):
    candidate pairs sharing any band value.

    The pipeline's operators, end to end: docs with an IDENTICAL 16-value
    signature share every band bucket, so ``groups.group_window`` over
    the full-signature key collapses them to one representative (min
    doc_id); ``lsh.candidate_pairs`` bands the reps through the salted
    skew ladder (buckets beyond 10,000 members are dropped; none exist at
    driver SFs); ``expand_member_pairs`` and ``within_group_pairs`` expand
    rep pairs back through the membership. Provably the pair set of the
    SQL twin's full self-join, but pair generation is not quadratic in
    exact-dup group sizes. No trailing orderBy — the driver's value hash
    is order-insensitive, and a global sort of the pair set is a wasted
    exchange at scale."""
    from dedup_spark.operators.groups import (
        expand_member_pairs, group_window, key_columns, within_group_pairs,
    )
    from dedup_spark.operators.lsh import candidate_pairs

    # four consumers (reps→bands, the expansion's groups twice, within)
    # would each replan the whole signature scan+window; the keyed persist
    # materializes it ONCE per session+sf_dir
    def build_members():
        sig = q_minhash_signatures(spark, sf_dir).select(
            F.col("doc_id").alias("file_id"),
            F.array(*[f"mh{i}" for i in range(_K16)]).alias("minhash"),
        )
        g1, g2 = key_columns(("minhash",))
        return group_window(sig.select("*", g1.alias("g1"), g2.alias("g2")))

    members = _cached_frame(spark, sf_dir, "band_members", build_members)
    # the cache barrier's count() sizes both plan gates: the ladder's
    # mega-bucket pre-filter and the expansion's fusion
    n_members = _FRAME_ROWS[(sf_dir, "band_members")]
    # _tokh_frame already drops blank docs: every signature has tokens
    reps = members.where(F.col("file_id") == F.col("rep")).withColumn(
        "n_shingles", F.lit(1)
    )
    rep_pairs = candidate_pairs(reps, _BAND_CFG, n_rows=n_members)
    groups = members.select("file_id", "rep", "group_size")
    cross = expand_member_pairs(rep_pairs, groups, n_members)
    within = within_group_pairs(groups).select("src", "dst")
    return cross.unionAll(within)


def _minhash_band_sql() -> str:
    band_rows = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {band} AS band_id, md5({expr}) AS band_val FROM sig".format(
            band=band,
            expr=" || '-' || ".join(
                f"CAST(mh{band * 4 + j} AS VARCHAR)" for j in range(4)
            ),
        )
        for band in range(4)
    )
    return _TOKENS_CTE + f"""
        , sig AS (
            SELECT doc_id,
           {_minhash_mins()}
            FROM tokens GROUP BY doc_id
        ), bands AS (
        {band_rows}
        )
        SELECT DISTINCT l.doc_id AS src, r.doc_id AS dst
        FROM bands l JOIN bands r
          ON l.band_id = r.band_id AND l.band_val = r.band_val
        WHERE l.doc_id < r.doc_id
        ORDER BY src, dst
    """


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 SimHash (32-bit SQL-parity variant): per-bit ±1 votes over
    distinct token hashes, bit set when votes > 0. Shares the persisted
    token-hash frame with minhash_signatures / the band query."""
    tokh = _tokh_frame(spark, sf_dir)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{j}")
        for j in range(32)
    ]
    voted = tokh.groupBy("doc_id").agg(*votes)
    sim = None
    for j in range(32):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim + bit
    return voted.select("doc_id", sim.alias("simhash"))


def _simhash_sql() -> str:
    votes = ",\n           ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(32)
    )
    bits = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    return _TOKENS_CTE + f"""
        , voted AS (
            SELECT doc_id,
           {votes}
            FROM tokens GROUP BY doc_id
        )
        SELECT doc_id, {bits} AS simhash FROM voted
    """


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram exact Jaccard near-dup pairs (threshold 0.3) from
    ``operators/ngram.py``. At the driver SFs no gram reaches its df cap,
    which the exact SQL twin applies too."""
    # three consumers (pair-gen self-join + the per-doc sizes) — without a
    # persist the gram build plans THREE times (measured: zero
    # ReusedExchange, 2.2x query wall). The keyed persist carries the
    # eager materialization barrier, so the size-join broadcast futures
    # can't race the unpopulated cache into double compute (same pattern,
    # and same event-log evidence, as dedup_spark/pipeline.py); its
    # count() is the measured row count the pair stage's volume gate reads.
    def build_pairs():
        rows = _cached_frame(spark, sf_dir, "ngram_gram_rows",
                             lambda: ngram.gram_rows(_docs(spark, sf_dir)))
        return ngram.jaccard_pairs(
            rows, _FRAME_ROWS[(sf_dir, "ngram_gram_rows")]
        )

    # the near-dup edge set is the shared input of neardup_components /
    # neardup_survivors / dedup_reduction_stats — without the keyed persist
    # each of those queries replans the WHOLE posting-list pair-gen
    # (measured ~20-30 s apiece at sf1.0; the edge set itself is a few
    # thousand narrow rows). Same session-keyed persist + eager barrier
    # pattern as the token-hash frame above.
    return _cached_frame(spark, sf_dir, "ngram_pairs", build_pairs)


# The three near-dup twins share one CTE chain (grams0 … inter); the CC
# twins open it with WITH RECURSIVE. The kept CTE's cap is ngram.MAX_GRAM_DF.
_NGRAM_CTES = f"""grams0 AS (
    SELECT DISTINCT doc_id, ng
    FROM (
        SELECT d.doc_id,
               array_to_string(toks[i.i:i.i+2], ' ') AS ng
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents WHERE length(trim(text)) > 0
        ) d,
        (SELECT unnest(generate_series(1, 9999)) AS i) i
        WHERE i.i <= greatest(len(d.toks) - 2, 0)
    )
    WHERE ng <> ''
), kept AS (
    -- same df cap as the Spark plan (_MAX_GRAM_DF); no-op at driver SFs
    SELECT ng FROM grams0 GROUP BY ng HAVING count(*) <= {ngram.MAX_GRAM_DF}
), grams AS (
    SELECT doc_id, ng FROM grams0 JOIN kept USING (ng)
), sizes AS (
    SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
), inter AS (
    SELECT x.doc_id AS src, y.doc_id AS dst, count(*) AS n_common
    FROM grams x JOIN grams y USING (ng)
    WHERE x.doc_id < y.doc_id
    GROUP BY 1, 2
)
"""

_NGRAM_SQL = "\nWITH " + _NGRAM_CTES + """SELECT src, dst, n_common,
       round(n_common / (sx.n + sy.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sx ON sx.doc_id = src
JOIN sizes sy ON sy.doc_id = dst
WHERE round(n_common / (sx.n + sy.n - n_common), 6) >= 0.3
"""


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected components (operators/cluster.py — the
    pipeline's clustering stage) over the exact n-gram-Jaccard near-dup
    edge set; label = min member doc_id. Oracle: DuckDB recursive-CTE
    transitive closure over the same edges."""
    from dedup_spark.operators.cluster import connected_components

    def build_cc():
        edges = q_ngram_jaccard_pairs(spark, sf_dir).select("src", "dst")
        # the pair cache's barrier count bounds the CC input: no probe
        n_edges = _FRAME_ROWS[(sf_dir, "ngram_pairs")]
        return connected_components(edges, max_edges=n_edges).select(
            F.col("file_id").alias("doc_id"), "cluster_id"
        )

    # label table cached for the survivors/reduction consumers (narrow:
    # one row per doc touching a near-dup edge) — the CC run itself reads
    # the cached edge frame, so repeat consumers pay neither pair-gen nor
    # the CC rounds again within a session.
    return _cached_frame(spark, sf_dir, "neardup_cc", build_cc)


# reach(v, r): every vertex r reachable from v over the symmetric edges
_REACH_SQL = "\nWITH RECURSIVE " + _NGRAM_CTES + """, e AS (
    SELECT src, dst FROM inter
    JOIN sizes sx ON sx.doc_id = src
    JOIN sizes sy ON sy.doc_id = dst
    WHERE round(n_common / (sx.n + sy.n - n_common), 6) >= 0.3
), verts AS (
    SELECT src AS v FROM e UNION SELECT dst FROM e
), sym AS (
    SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e
), reach AS (
    SELECT v, v AS r FROM verts
    UNION
    SELECT reach.v, sym.v AS r FROM reach JOIN sym ON sym.u = reach.r
)
"""

_CC_SQL = _REACH_SQL + """SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v ORDER BY doc_id
"""


def q_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated-corpus manifest — the artifact a training-data
    pipeline actually materializes from this engine: every document with
    its near-dup cluster label and a keep flag (the cluster minimum is the
    retained representative; all other members are the removed near-dups).
    Docs touching no near-dup edge are singleton clusters and are kept.

    Scale shape: the CC label table is one narrow (doc_id, cluster_id)
    row per doc IN an edge — tiny next to the corpus — left-joined onto
    the document ids; at 100 TB this is a standard narrow equi-join (the
    label side broadcasts while it fits, shuffles otherwise). Oracle:
    recursive-CTE closure, identical keep rule."""
    cc = q_neardup_components(spark, sf_dir)
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return d.join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        (F.coalesce("cluster_id", F.col("doc_id")) == F.col("doc_id")
         ).alias("keep"),
        "n_chars",
    )


def q_dedup_reduction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus-reduction headline: how many documents and
    characters near-dup dedup removes (the document-granularity analog of
    the reference's Blocks()/dedup-ratio accounting, over the survivors
    manifest)."""
    s = q_neardup_survivors(spark, sf_dir)
    kept_chars = F.sum(F.when(F.col("keep"), F.col("n_chars")))
    return s.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        (F.count("*") - F.sum(F.col("keep").cast("long"))).alias("n_removed"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        kept_chars.cast("long").alias("chars_kept"),
        F.round(1.0 - kept_chars / F.sum("n_chars"), 6).alias(
            "char_reduction"),
    )


_SURVIVORS_CORE = _REACH_SQL + """, cc AS (
    SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
)
SELECT d.doc_id,
       coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
       (coalesce(cc.cluster_id, d.doc_id) = d.doc_id) AS keep,
       d.n_chars
FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
"""

_REDUCTION_SQL = f"""
WITH s AS ({_SURVIVORS_CORE})
SELECT count(*) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN keep THEN n_chars END) AS BIGINT) AS chars_kept,
       round(1.0 - sum(CASE WHEN keep THEN n_chars END) / sum(n_chars), 6)
         AS char_reduction
FROM s
"""


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------

def q_embedding_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine neighbors (queries = vec_id < 10, cos >= 0.3);
    big side streams, query side broadcast."""
    from dedup_spark.operators.simsearch import cosine_pairs

    emb = _par_read(spark, f"{sf_dir}/embeddings.parquet", "vec_id")
    # query side: plain pushed-filter read (10 rows) — routing it through
    # the repartitioned frame would cost a full exchange to extract them
    q = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id < 10")
    return (
        cosine_pairs(emb, q, min_cos=-1.0)
        .withColumn("cosine", F.round("cosine", 4))
        .where(F.col("cosine") >= 0.3)
    )


_EMB_SQL = """
SELECT q.vec_id AS q_id,
       x.vec_id AS item_id,
       round(list_cosine_similarity(q.embedding::DOUBLE[],
                                    x.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings q, embeddings x
WHERE q.vec_id < 10 AND x.vec_id <> q.vec_id
  AND round(list_cosine_similarity(q.embedding::DOUBLE[],
                                   x.embedding::DOUBLE[]), 4) >= 0.3
ORDER BY q_id, item_id
"""


_ANN_BITS = 8
_ANN_PROBES = 9  # own bucket + all 8 Hamming-1 flips


def q_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (the scale path, operators/simsearch.lsh_topk)
    with multi-probe: approximate top-5 per query from bucketed candidates
    only. The DuckDB twin embeds the identical plane literals and probe
    masks, so the candidate sets — and therefore results — match exactly."""
    from dedup_spark.operators.simsearch import lsh_topk

    emb = _par_read(spark, f"{sf_dir}/embeddings.parquet", "vec_id")
    q = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id < 10")
    return lsh_topk(
        emb, q, k=5,
        n_bits=_ANN_BITS, dim=64, n_probes=_ANN_PROBES, n_tables=1,
    )


def _ann_sql() -> str:
    import random

    rng = random.Random(97)  # same stream as hyperplane_signature(seed=97)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(_ANN_BITS)]
    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in plane)}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    probes = ", ".join(
        f"xor(q.bucket, {m})" for m in [0] + [1 << i for i in range(_ANN_BITS)]
    )
    return f"""
WITH sig AS (
    SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
), cand AS (
    SELECT q.vec_id AS q_id, x.vec_id AS item_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[],
                                        x.embedding::DOUBLE[]), 6) AS cosine
    FROM sig q JOIN sig x
      ON x.bucket IN ({probes})
    WHERE q.vec_id < 10 AND x.vec_id <> q.vec_id
), ranked AS (
    SELECT q_id, item_id, cosine,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cosine DESC, item_id) AS rank
    FROM cand
)
SELECT q_id, item_id, cosine, rank FROM ranked
WHERE rank <= 5 ORDER BY q_id, rank
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline: exact top-5 per query. Rank ties broken
    deterministically (rounded cosine desc, item_id asc) on BOTH engines,
    so the value check is exact."""
    from dedup_spark.operators.simsearch import cosine_topk

    emb = _par_read(spark, f"{sf_dir}/embeddings.parquet", "vec_id")
    q = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id < 10")
    return cosine_topk(emb, q, k=5)


_EMB_TOPK_SQL = """
SELECT q_id, item_id, cosine, rank FROM (
    SELECT q.vec_id AS q_id,
           x.vec_id AS item_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[],
                                        x.embedding::DOUBLE[]), 6) AS cosine,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                     x.embedding::DOUBLE[]), 6)
                        DESC, x.vec_id) AS rank
    FROM embeddings q, embeddings x
    WHERE q.vec_id < 10 AND x.vec_id <> q.vec_id
)
WHERE rank <= 5
ORDER BY q_id, rank
"""


# ---------------------------------------------------------------------------
# relational analytics showcase (TPC-H-shaped; the general-engine surface)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2005-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .withColumn("sum_qty", F.round("sum_qty", 2))
        .withColumn("sum_base_price", F.round("sum_base_price", 2))
        .withColumn("sum_disc_price", F.round("sum_disc_price", 2))
        .orderBy("l_returnflag", "l_linestatus")
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
         AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2005-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + top-k: revenue per customer (broadcast dim join)."""
    o = _par_read(spark, f"{sf_dir}/orders.parquet", "o_custkey")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count("*").alias("n_orders"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )


_TOP_CUST_SQL = """
SELECT c_custkey, c_name,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
"""


def q_user_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window analytics over the events stream table: per-user running
    value + event rank (the A4-style running aggregate surface)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("event_rank"),
            F.round(
                F.sum("value").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
                6,
            ).alias("running_value"),
        )
        .where(F.col("event_rank") <= 3)
        .orderBy("user_id", "event_rank")
    )


_EVENT_WINDOW_SQL = """
SELECT user_id, event_id, event_rank, running_value FROM (
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS event_rank,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS running_value
    FROM events
)
WHERE event_rank <= 3
ORDER BY user_id, event_rank
"""


def q_mem_use(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 MemUse (writer.go:655-679): encoder index bytes = unique_blocks x
    (HashSize 20 + 8 + 24 map entry); decoder = blocks x max_size."""
    m = _chunk_manifest(spark, sf_dir)
    return m.agg(
        (F.sum(F.when(F.col("is_new"), 1).otherwise(0)) * (20 + 8 + 24))
        .cast("long").alias("encoder_bytes"),
        (F.count("*") * CHUNK).cast("long").alias("decoder_bytes"),
    )


def q_block_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 BlockSizes (reader.go:351-361): per-doc ordered chunk lengths."""
    m = _chunk_manifest(spark, sf_dir)
    return m.groupBy("doc_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "length"))),
                lambda s: s["length"].cast("string"),
            ),
        ).alias("sizes")
    )


def q_backref_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3: backref-distance distribution over the chunk manifest, and
    how many dups a format-2 bounded window (max_backref=8) would drop."""
    d = _chunk_manifest(spark, sf_dir).where(F.col("backref").isNotNull())
    return d.agg(
        F.count("*").alias("n_dups"),
        F.min("backref").alias("min_backref"),
        F.max("backref").alias("max_backref"),
        F.sum(F.when(F.col("backref") > 8, 1).otherwise(0)).cast("long")
        .alias("dropped_by_window8"),
    )


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (streaming analytics surface): 30-minute-gap sessions
    per user via lag + running count; top session stats per user."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.round(F.max("session_value"), 6).alias("max_session_value"),
        )
        .orderBy("user_id")
    )


def q_doc_stats_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface: doc counts + chars by cube(lang, source)."""
    d = _docs(spark, sf_dir)
    return (
        d.cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


_MEM_USE_SQL = _CHUNKS_CTE + f"""
    SELECT CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) * 52 AS BIGINT)
             AS encoder_bytes,
           CAST(count(*) * {CHUNK} AS BIGINT) AS decoder_bytes
    FROM manifest
"""

_BLOCK_SIZES_SQL = _CHUNKS_CTE + """
    SELECT doc_id,
           array_to_string(list(CAST(length AS VARCHAR) ORDER BY seq), ',')
             AS sizes
    FROM manifest GROUP BY doc_id
"""

_BACKREF_SQL = _CHUNKS_CTE + """
    , d AS (
        SELECT (doc_id * (1 << 20) + seq)
               - lag(doc_id * (1 << 20) + seq)
                 OVER (PARTITION BY hash ORDER BY doc_id * (1 << 20) + seq)
               AS backref
        FROM manifest
    )
    SELECT count(*) AS n_dups,
           min(backref) AS min_backref,
           max(backref) AS max_backref,
           CAST(sum(CASE WHEN backref > 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_by_window8
    FROM d WHERE backref IS NOT NULL
"""

_SESSIONS_SQL = """
WITH marked AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT user_id, value,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM marked
), per_sess AS (
    SELECT user_id, session_id, count(*) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 6) AS session_value
    FROM sess GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       max(n_events) AS max_session_events,
       round(max(session_value), 6) AS max_session_value
FROM per_sess GROUP BY user_id ORDER BY user_id
"""

_CUBE_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY CUBE (lang, source)
ORDER BY lang, source
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_groups": q_exact_dup_groups,
        "doc_dedup_stats": q_doc_dedup_stats,
        "doc_manifest": q_doc_manifest,
        "chunk_manifest": q_chunk_manifest,
        "chunk_dedup_stats": q_chunk_dedup_stats,
        "max_mem": q_max_mem,
        "dup_docs_by_lang": q_dup_docs_by_lang,
        "zpaq_chunk_stats": q_zpaq_chunk_stats,
        "token_stats": q_token_stats,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "doc_fingerprints": q_doc_fingerprints,
        "passage_dedup": q_passage_dedup,
        "doc_repetition": q_doc_repetition,
        "minhash_signatures": q_minhash_signatures,
        "minhash_band_candidates": q_minhash_band_candidates,
        "simhash_docs": q_simhash_docs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "neardup_components": q_neardup_components,
        "neardup_survivors": q_neardup_survivors,
        "dedup_reduction_stats": q_dedup_reduction_stats,
        "embedding_neighbors": q_embedding_neighbors,
        "embedding_topk": q_embedding_topk,
        "embedding_ann": q_embedding_ann,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "user_event_windows": q_user_event_windows,
        "mem_use": q_mem_use,
        "block_sizes": q_block_sizes,
        "backref_stats": q_backref_stats,
        "event_sessions": q_event_sessions,
        "doc_stats_cube": q_doc_stats_cube,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dup_groups": f"""
            WITH {_DOCS2_SQL}
            SELECT sha256(text) AS text_hash,
                   count(*) AS n_docs,
                   min(doc_id) AS first_doc,
                   CAST(sum(n_chars) AS BIGINT) AS group_chars
            FROM docs2
            GROUP BY 1
            HAVING count(*) > 1
        """,
        "doc_dedup_stats": f"""
            WITH {_DOCS2_SQL}
            SELECT count(*) AS n_docs,
                   count(DISTINCT sha256(text)) AS n_unique,
                   round(1.0 - count(DISTINCT sha256(text)) / count(*), 6)
                     AS dup_ratio
            FROM docs2
        """,
        "doc_manifest": f"""
            WITH {_DOCS2_SQL}
            SELECT doc_id,
                   sha256(text) AS text_hash,
                   row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1
                     AS is_new,
                   doc_id - lag(doc_id) OVER (PARTITION BY sha256(text) ORDER BY doc_id)
                     AS backref
            FROM docs2
        """,
        "chunk_manifest": _CHUNKS_CTE + """
            SELECT doc_id, seq, "offset", length, hash, is_new FROM manifest
        """,
        "chunk_dedup_stats": _CHUNKS_CTE + """
            SELECT count(*) AS n_chunks,
                   CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                   CAST(sum(length) AS BIGINT) AS total_chars,
                   CAST(sum(CASE WHEN is_new THEN length ELSE 0 END) AS BIGINT)
                     AS unique_chars
            FROM manifest
        """,
        "max_mem": _CHUNKS_CTE + """
            , spans AS (
                SELECT hash,
                       min(doc_id * (1 << 20) + seq) AS first_seq,
                       max(doc_id * (1 << 20) + seq) AS last_seq,
                       min(length) AS length
                FROM manifest GROUP BY hash
            ), events AS (
                SELECT pos, CAST(sum(delta) AS BIGINT) AS delta FROM (
                    SELECT first_seq AS pos, CAST(length AS BIGINT) AS delta FROM spans
                    UNION ALL
                    SELECT last_seq + 1 AS pos, CAST(-length AS BIGINT) AS delta FROM spans
                ) GROUP BY pos
            )
            -- windowed sum() re-promotes BIGINT -> HUGEINT in DuckDB; cast
            -- back so the value hash matches Spark's long
            SELECT CAST(max(live) AS BIGINT) AS max_mem FROM (
                SELECT sum(delta) OVER (ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
                FROM events
            )
        """,
        "dup_docs_by_lang": f"""
            WITH {_DOCS2_SQL}, m AS (
                SELECT lang,
                       row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1
                         AS is_new
                FROM docs2
            )
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup_docs
            FROM m GROUP BY lang ORDER BY lang
        """,
        # zpaq_chunk_stats: intentionally omitted — the ZPAQ CDC boundary
        # decision is a per-byte data-dependent recurrence over the raw
        # UTF-8 bytes with 256 bytes of carried state (o1 table); the
        # driver's oracle surface is a bare DuckDB SQL string (no UDF
        # registration hook), and a recursive-CTE byte walk over multibyte
        # text is neither robustly expressible nor tractable. Kernel
        # correctness is instead gated by reference golden vectors
        # (tests/test_chunkers.py) and the Spark-vs-local-kernel
        # equivalence test (tests/test_dedup_pipeline.py).
        "token_stats": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END) AS BIGINT) AS total_tokens,
                   round(avg(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END), 6) AS avg_tokens
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "quality_scores": """
            WITH feat AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END AS n_tokens,
                       length(text) AS n_chars,
                       length(text)
                         - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                         AS punct,
                       (len(regexp_split_to_array(' '||text||' ', ' the '))-1)
                       + (len(regexp_split_to_array(' '||text||' ', ' and '))-1)
                       + (len(regexp_split_to_array(' '||text||' ', ' of '))-1)
                         AS stop
                FROM documents
            ), ratios AS (
                SELECT doc_id, n_tokens,
                       round(punct / greatest(n_chars, 1), 6) AS punct_ratio,
                       round((n_chars - greatest(n_tokens - 1, 0))
                             / greatest(n_tokens, 1), 6) AS mean_token_len,
                       round(stop / greatest(n_tokens, 1), 6) AS stopword_ratio
                FROM feat
            )
            SELECT doc_id, n_tokens, punct_ratio, mean_token_len,
                   stopword_ratio,
                   round(least(stopword_ratio * 2, 1.0) * 0.4
                         + (1 - least(punct_ratio * 5, 1.0)) * 0.3
                         + least(n_tokens / 100.0, 1.0) * 0.3, 6)
                     AS quality_score
            FROM ratios
        """,
        "lang_id": """
            WITH votes AS (
                SELECT doc_id, lang,
                  (len(regexp_split_to_array(' '||text||' ', ' the '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' and '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' of '))-1) AS s_en,
                  (len(regexp_split_to_array(' '||text||' ', ' der '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' und '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' die '))-1) AS s_de,
                  (len(regexp_split_to_array(' '||text||' ', ' el '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' la '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' que '))-1) AS s_es,
                  (len(regexp_split_to_array(' '||text||' ', ' le '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' la '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' et '))-1) AS s_fr,
                  (len(regexp_split_to_array(' '||text||' ', ' 的 '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' 是 '))-1)
                  +(len(regexp_split_to_array(' '||text||' ', ' 了 '))-1) AS s_zh
                FROM documents
            ), pred AS (
                SELECT doc_id, lang,
                       greatest(s_en, s_de, s_es, s_fr, s_zh) AS best,
                       CASE
                         WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'unknown'
                         WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'de'
                         WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                         WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                         WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                         ELSE 'zh'
                       END AS lang_pred
                FROM votes
            )
            SELECT lang, lang_pred, count(*) AS n_docs
            FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
        """,
        "doc_fingerprints": """
            WITH toks AS (
                SELECT DISTINCT d.doc_id, t.tok
                FROM documents d,
                     unnest(regexp_split_to_array(trim(d.text), '\\s+')) t(tok)
                WHERE length(trim(d.text)) > 0
            ), h AS (
                SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
                FROM toks
            )
            SELECT doc_id,
                   array_to_string(list_sort(list(h))[1:8], ',') AS fp
            FROM h GROUP BY doc_id
        """,
        "passage_dedup": f"""
            WITH {_DOCS2_SQL},
            toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM docs2 WHERE length(trim(text)) > 0
            ), segs AS (
                SELECT doc_id, CAST(i AS INT) AS seg_id,
                       sha256(array_to_string(
                           list_slice(t, i * 20 + 1, i * 20 + 20), ' ')) AS h
                FROM toks,
                     UNNEST(range(CAST(ceil(len(t) / 20.0) AS BIGINT))) AS u(i)
            ), firsts AS (
                SELECT h, min(ROW(doc_id, seg_id)) AS first_key
                FROM segs GROUP BY h
            )
            SELECT s.doc_id,
                   count(*) AS n_segs,
                   CAST(sum(CASE WHEN ROW(s.doc_id, s.seg_id) = f.first_key
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_new_segs,
                   round(1.0 - sum(CASE WHEN ROW(s.doc_id, s.seg_id)
                                             = f.first_key
                                   THEN 1 ELSE 0 END) / count(*), 6)
                       AS dup_frac
            FROM segs s JOIN firsts f USING (h)
            GROUP BY s.doc_id
        """,
        "doc_repetition": """
            WITH toks AS (
                SELECT doc_id, lang,
                       regexp_split_to_array(trim(text), '\\s+') AS t
                FROM documents WHERE length(trim(text)) > 0
            ), feat AS (
                SELECT doc_id, lang,
                       len(t) AS n_tokens,
                       len(list_distinct(t)) AS n_distinct_tokens,
                       CASE WHEN len(t) >= 3 THEN
                           list_transform(range(1, len(t) - 1),
                               i -> array_to_string(
                                        list_slice(t, i, i + 2), ' '))
                       ELSE [] END AS tri
                FROM toks
            )
            SELECT doc_id, lang, n_tokens,
                   round(1.0 - n_distinct_tokens / n_tokens, 6)
                       AS dup_token_frac,
                   CASE WHEN len(tri) > 0
                        THEN round(1.0 - len(list_distinct(tri)) / len(tri), 6)
                        ELSE 0.0 END AS dup_trigram_frac
            FROM feat
        """,
        "minhash_signatures": _minhash_sql(),
        "minhash_band_candidates": _minhash_band_sql(),
        "simhash_docs": _simhash_sql(),
        "ngram_jaccard_pairs": _NGRAM_SQL,
        "neardup_components": _CC_SQL,
        "neardup_survivors": _SURVIVORS_CORE,
        "dedup_reduction_stats": _REDUCTION_SQL,
        "embedding_neighbors": _EMB_SQL,
        "embedding_topk": _EMB_TOPK_SQL,
        "embedding_ann": _ann_sql(),
        "pricing_summary": _PRICING_SQL,
        "top_customers": _TOP_CUST_SQL,
        "user_event_windows": _EVENT_WINDOW_SQL,
        "mem_use": _MEM_USE_SQL,
        "block_sizes": _BLOCK_SIZES_SQL,
        "backref_stats": _BACKREF_SQL,
        "event_sessions": _SESSIONS_SQL,
        "doc_stats_cube": _CUBE_SQL,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full near-dup pipeline (CDC chunk → MinHash/SimHash →
    LSH → exact-Jaccard verify → connected components) on the sf0.001
    documents table; returns per-language cluster stats."""
    from dedup_spark.pipeline import run_pipeline

    sf_dir = "/root/testdata/sf0.001"
    docs = _docs(spark, sf_dir)
    corpus = docs.select(
        F.col("doc_id").alias("file_id"), F.col("text").alias("content"), "lang"
    )
    res = run_pipeline(corpus, DedupConfig())
    return (
        res["clusters"]
        .join(corpus.select("file_id", "lang"), "file_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum(
                F.when(F.col("cluster_id") != F.col("file_id"), 1).otherwise(0)
            ).cast("long").alias("n_nonrep_members"),
        )
        .orderBy("lang")
    )
