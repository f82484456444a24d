"""Stage 3: per-file signatures — chunk shingles → MinHash + SimHash.

One ``mapInArrow`` pass over the corpus computes, per file:
  chunks (CDC kernel) → shingles (w-grams of chunk hashes) →
  K-permutation MinHash (batched numpy, Broder '97) + 64-bit SimHash
  (Charikar '02, unweighted bit votes).

Design notes for scale:
- Signatures are computed in the SAME pass that chunks the file — no
  groupBy(file_id) shuffle to reassemble chunk streams; the corpus scan is
  the only input.
- MinHash universal hash is ``(a_i * x + b_i) mod (2^31-1)`` with x a
  31-bit reduction of the shingle hash: all arithmetic fits int64, so the
  identical formula runs in numpy here, in pyspark.sql.functions for the
  relational variant, and in ANSI SQL for the DuckDB oracle.
- Empty files (no chunks) get an empty minhash/simhash=0 row so the
  signature table stays 1:1 with the corpus (content_sha256 invariant
  carried through).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..chunkers import chunk_fn
from ..config import MERSENNE31, DedupConfig, minhash_coeffs

SIG_SCHEMA = (
    "file_id long, n_chunks int, n_shingles int, "
    "minhash array<long>, simhash long, shingles array<long>"
)

_EMPTY_MINHASH_SENTINEL = MERSENNE31  # > any real hash value


_MIX_P1 = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant
_MIX_P2 = np.uint64(0xBF58476D1CE4E5B9)  # splitmix64 finalizer constants
_MIX_P3 = np.uint64(0x94D049BB133111EB)


def _mix_wgrams(d: np.ndarray, w: int) -> np.ndarray:
    """Vectorized w-gram hash over per-chunk digest words: multiply-xor
    chain across the window, then a splitmix64-style finalizer. Replaces a
    per-gram blake2b call (measured ~0.5 ms/file — a quarter of the
    signature kernel) with pure numpy; uint64 arithmetic wraps mod 2^64.
    """
    m = d.size - w + 1
    h = d[:m].copy()
    for j in range(1, w):
        h = h * _MIX_P1 ^ d[j:j + m]
    h ^= h >> np.uint64(30)
    h *= _MIX_P2
    h ^= h >> np.uint64(27)
    h *= _MIX_P3
    h ^= h >> np.uint64(31)
    return h


def shingle_hashes(data: bytes, cfg: DedupConfig) -> np.ndarray:
    """Chunk → w-gram shingles → uint64 hashes (one content scan).

    The shingle token stream is the file's CDC chunk-hash sequence — the
    reference's dedup unit (writer.go Fragment.Hash) lifted to w-grams so
    near-dup detection tolerates chunk-local edits. The w-gram combiner is
    ``_mix_wgrams`` over the first 8 bytes of each chunk digest.
    """
    fn = chunk_fn(cfg.mode)
    mv = memoryview(data)  # no per-chunk bytes copy on the hash input
    digests = [
        hashlib.new(cfg.hash_name, mv[off:off + ln]).digest()
        for off, ln in fn(data, cfg.max_size)
    ]
    n = len(digests)
    if n == 0:
        return np.empty(0, dtype=np.uint64), 0
    dsize = len(digests[0])
    arr = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(n, dsize)
    d = arr[:, :8].copy().view(">u8").ravel().astype(np.uint64)
    w = min(cfg.shingle_w, n)
    return _mix_wgrams(d, w), n


def minhash_simhash(x: np.ndarray, a: np.ndarray, b: np.ndarray):
    """Batched MinHash + SimHash from shingle hashes ``x`` (uint64)."""
    if x.size == 0:
        return np.full(a.shape[0], _EMPTY_MINHASH_SENTINEL, dtype=np.int64), 0
    x31 = (x % np.uint64(MERSENNE31)).astype(np.int64)  # reduce into field
    # (K, n) universal hashes; a,b int64, x31 < 2^31 → products < 2^62
    hv = (a[:, None] * x31[None, :] + b[:, None]) % MERSENNE31
    mh = hv.min(axis=1)
    # SimHash: unweighted ±1 votes per bit of the raw 64-bit shingle hash.
    # unpackbits over the little-endian byte view: column j IS bit j of the
    # word (identical values to a shift-and-mask matrix at 1/8 the memory
    # traffic — this runs on every shingle of the corpus)
    bits = np.unpackbits(
        x.view(np.uint8).reshape(x.size, 8), axis=1, bitorder="little"
    )
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - np.int64(x.size)
    sim = 0
    for j in range(64):
        if votes[j] > 0:
            sim |= 1 << j
    # store as signed 64-bit (Spark long)
    if sim >= 1 << 63:
        sim -= 1 << 64
    return mh, sim


def _sig_record_batch(ids, contents, a, b, cfg) -> pa.RecordBatch:
    """Kernel loop of ``compute_signatures``: (file_id, bytes) rows → one
    signature RecordBatch."""
    o_id, o_nc, o_ns, o_mh, o_sh, o_sg = [], [], [], [], [], []
    for fid, data in zip(ids, contents):
        data = data or b""
        x, n_chunks = shingle_hashes(data, cfg)
        mh, sim = minhash_simhash(x, a, b)
        o_id.append(fid)
        o_nc.append(n_chunks)
        o_ns.append(int(x.size))
        o_mh.append(mh.tolist())
        o_sh.append(sim)
        # bottom-k sketch of the distinct shingles (np.unique is
        # sorted, so the first k ARE the k smallest) — the exact-
        # Jaccard verify set; emitted here so the corpus is
        # scanned ONCE
        u = np.unique(x)[:cfg.max_shingles]
        o_sg.append(u.astype(np.int64).tolist())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(o_id, pa.int64()),
            pa.array(o_nc, pa.int32()),
            pa.array(o_ns, pa.int32()),
            pa.array(o_mh, pa.list_(pa.int64())),
            pa.array(o_sh, pa.int64()),
            pa.array(o_sg, pa.list_(pa.int64())),
        ],
        names=["file_id", "n_chunks", "n_shingles", "minhash",
               "simhash", "shingles"],
    )


def compute_signatures(corpus: DataFrame, cfg: DedupConfig,
                       content_col: str = "content",
                       id_col: str = "file_id") -> DataFrame:
    """Corpus → signatures DataFrame (SURVEY.md A7/A8)."""
    a_list, b_list = minhash_coeffs(cfg.num_perm, cfg.seed)

    def sig_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        a = np.asarray(a_list, dtype=np.int64)
        b = np.asarray(b_list, dtype=np.int64)
        for batch in batches:
            # content arrives as BINARY (cast JVM-side): to_pylist yields
            # bytes directly — no Arrow utf-8 decode + Python re-encode of
            # the whole corpus
            yield _sig_record_batch(
                batch.column(0).to_pylist(),
                batch.column(1).to_pylist(),
                a, b, cfg,
            )

    return corpus.select(
        F.col(id_col).alias("file_id"),
        # string→binary is a zero-copy reinterpretation of the UTF8String
        # bytes JVM-side; the kernel needs bytes, never str
        F.col(content_col).cast("binary").alias("content"),
    ).mapInArrow(sig_batches, SIG_SCHEMA)

