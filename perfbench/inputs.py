"""Seeded benchmark inputs, written to parquet once per (seed, size) and
reused, plus the single-node oracle answers they are checked against.

Everything lives under the benchmark's work directory inside the
checkout. A finished input directory carries a ``_DONE`` marker, so a run
that was cut while writing regenerates it instead of reading half of it.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# one parquet file per slice, as a Spark job would have written the corpus:
# enough files that the scan gives every core a split
PARTS = 8


def _rows(n_files: int, seed: int) -> list[dict]:
    from dedup_spark.synth import generate_corpus

    rows = generate_corpus(n_files, seed=seed)
    for i, r in enumerate(rows):
        r["file_id"] = i
    return rows


def _write(path: str, rows: list[dict], parts: int) -> None:
    os.makedirs(path)
    step = -(-len(rows) // parts)
    for k in range(0, len(rows), step):
        pq.write_table(pa.Table.from_pylist(rows[k:k + step]),
                       os.path.join(path, f"part-{k // step:05d}.parquet"))


def _cached(path: str, build) -> str:
    """Run ``build(tmp_dir)`` unless ``path`` is already complete."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, path)
    return path


def batch_corpus(root: str, n_files: int, seed: int) -> str:
    """Parquet corpus of ``n_files`` generated files (``generate_corpus``:
    40% near-dups in power-law clusters plus one giant cluster of 5% of
    the files)."""
    def build(tmp):
        _write(os.path.join(tmp, "corpus"), _rows(n_files, seed), PARTS)

    return os.path.join(_cached(
        os.path.join(root, f"batch-s{seed}-n{n_files}"), build), "corpus")


def ingest_batches(root: str, base: int, batch: int, n_batches: int,
                   seed: int) -> tuple[str, list[str]]:
    """A base corpus plus ``n_batches`` batches of ``batch`` files each. A
    seeded shuffle of one generated corpus picks the rows of each, so every
    batch carries near-dups of files already folded before it."""
    n = base + batch * n_batches
    name = f"ingest-s{seed}-b{base}-k{batch}x{n_batches}"

    def build(tmp):
        rows = _rows(n, seed)
        order = list(range(n))
        random.Random(seed).shuffle(order)
        _write(os.path.join(tmp, "base"), [rows[i] for i in order[:base]],
               PARTS)
        for k in range(n_batches):
            pick = order[base + k * batch: base + (k + 1) * batch]
            _write(os.path.join(tmp, f"batch-{k:04d}"),
                   [rows[i] for i in pick], 1)

    path = _cached(os.path.join(root, name), build)
    return (os.path.join(path, "base"),
            [os.path.join(path, f"batch-{k:04d}") for k in range(n_batches)])


def read_files(paths: list[str]) -> list[tuple[int, str]]:
    """(file_id, content) of every row under the given parquet dirs."""
    out = []
    for p in paths:
        t = pq.read_table(p, columns=["file_id", "content"])
        out.extend(zip(t.column("file_id").to_pylist(),
                       t.column("content").to_pylist()))
    return out


def oracle(paths: list[str], cache: str):
    """(pairs, canonical partition) from ``oracle.run_oracle`` over every
    row under ``paths``; computed once and kept in ``cache``."""
    if not os.path.exists(cache):
        from dedup_spark.config import DedupConfig
        from dedup_spark.oracle import run_oracle

        pairs, clusters = run_oracle(read_files(paths), DedupConfig())
        tmp = cache + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"pairs": sorted(pairs),
                       "labels": canonical(clusters.items())}, f)
        os.replace(tmp, cache)
    with open(cache) as f:
        d = json.load(f)
    return ({tuple(p) for p in d["pairs"]},
            {int(k): v for k, v in d["labels"].items()})


def canonical(assignments) -> dict[int, int]:
    """(file_id, cluster label) pairs → {file_id: smallest member id of its
    cluster}, so two partitions compare equal whatever labels they use."""
    assignments = list(assignments)
    low: dict = {}
    for fid, cid in assignments:
        low[cid] = min(low.get(cid, fid), fid)
    return {int(fid): int(low[cid]) for fid, cid in assignments}


def recall(oracle_pairs: set, got_pairs: set) -> float:
    if not oracle_pairs:
        return 1.0
    return 1.0 - len(oracle_pairs - got_pairs) / len(oracle_pairs)
