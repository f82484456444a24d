"""Scaling-efficiency measurement (north_rule protocol; sandbox adaptation
per driver instruction: same job at N and 4N cores on identical input).

Round-1/2 findings baked into the protocol (see BENCH/BASELINE.md §4):
- uniform file sizes (stragglers otherwise dominate the top config),
- fresh JVM per measurement, AQE off, identical shuffle partitioning,
- N=2 vs 4N=8 — this VM's single-JVM local mode thrashes beyond ~16
  concurrent heavy tasks (JVM Arrow-feed threads compete with Python
  workers for the same cores), which a real multi-executor cluster does
  not share; kernel-level scaling is measured separately.
- **CPU pinning (round 2)**: each measurement runs under
  ``taskset -c 0..N-1`` so the JVM, its Arrow feed threads, AND the
  Python UDF workers share exactly N cores — precisely what a cluster
  container cgroup with N executor cores enforces. Without pinning,
  local[N] silently borrows extra cores for Python workers (~2.5 cores
  observed at local[2]), understating the low-parallelism wall and
  corrupting the N→4N ratio.

Writes BENCH/scaling_runs.json; prints a JSON summary line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = os.environ.get("SCALE_CORPUS", "/tmp/dedup_scale_corpus")

GEN = r"""
import sys
sys.path.insert(0, "__REPO__")
from dedup_spark.session import get_spark
from dedup_spark.synth import generate_corpus
import pyspark.sql.functions as F
n_files = int(sys.argv[1]); target = int(sys.argv[2])
rows = generate_corpus(n_files, seed=42)
for i, r in enumerate(rows):
    r["file_id"] = i
spark = get_spark("scale_gen", cores=8)
spark.sparkContext.setLogLevel("ERROR")
df = (spark.createDataFrame(rows)
      .withColumn("content", F.expr(
          f"substring(repeat(content, int({target}/greatest(length(content),1))+1), 1, {target})"))
      .withColumn("content_sha256", F.sha2(F.col("content"), 256))
      .repartition(256))
df.write.mode("overwrite").parquet(sys.argv[3])
spark.stop()
"""

CHILD = r"""
import hashlib, json, sys, time
sys.path.insert(0, "__REPO__")
cores = int(sys.argv[1])

def calib():
    # host-performance canary, single thread, allocation-free: [cpu, mem]
    # = blake2b MB/s over a 1 MB buffer + bandwidth MB/s of an 8 MB
    # preallocated numpy add. This VM's host shows multi-minute
    # performance drift (identical work costs up to +35% process-CPU in
    # bad windows — measured via worker-side process_time, steal ~0); the
    # canary makes each measurement's host window visible in the record.
    import numpy as np
    buf = b"\xa5" * (1 << 20)
    t0 = time.process_time()
    reps = 0
    while time.process_time() - t0 < 0.3:
        hashlib.blake2b(buf, digest_size=8).digest()
        reps += 1
    cpu = reps / (time.process_time() - t0)
    a = np.ones(1 << 20, np.int64)
    b = np.ones(1 << 20, np.int64)
    out = np.empty(1 << 20, np.int64)
    t0 = time.process_time()
    reps = 0
    while time.process_time() - t0 < 0.3:
        np.add(a, b, out=out)
        reps += 1
    mem = reps * 8 / (time.process_time() - t0)
    return [round(cpu, 1), round(mem, 1)]
from pyspark.sql import SparkSession
from dedup_spark.session import _local_dir, package_zip
from dedup_spark.config import DedupConfig
from dedup_spark.pipeline import run_pipeline
spark = (SparkSession.builder.appName("scale").master(f"local[{cores}]")
     .config("spark.sql.shuffle.partitions", "32")
     # 48g + small fixed young gen: at 8 concurrent tasks a 16 MB compressed
     # split decompresses to ~240 MB of strings in flight per task; 16g heap
     # GC-thrashed at the 30 GB corpus (A/B: 210.8s @16g vs 145.9s @48g,
     # local[8]), while an auto-sized young gen over 48g stalled the 2-core
     # run (415s vs 355s). -Xmn2g gives both: big old gen, short minor
    # pauses. Identical config at both parallelism levels.
     .config("spark.driver.memory", "48g")
     .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC -Xmn2g")
     .config("spark.local.dir", _local_dir())
     .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2 << 20))
     .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
     .config("spark.sql.files.maxPartitionBytes", str(16 << 20))
     .config("spark.sql.adaptive.enabled", "false")
     .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile(package_zip())
corpus = spark.read.parquet(sys.argv[2])
n = corpus.count()
# untimed warmup pass (small slice): JIT + Python-worker startup is a
# once-per-JVM cost a production job amortizes (released, so its persists
# leave the executors before the timed run); without it the fixed ~5 s
# warmup loads the two parallelism levels asymmetrically.
with run_pipeline(corpus.limit(400), DedupConfig()) as r:
    r["clusters"].count()
c_before = calib()
t0 = time.time()
res = run_pipeline(corpus, DedupConfig())
nc = res["clusters"].select("cluster_id").distinct().count()
# deliverables are cluster assignments + the COMPACT verified edge set
# (representative-level); the quadratic expanded pair surface stays lazy
ne = res["edges_rep"].where("verified").count()
wall = time.time() - t0
print(json.dumps({"cores": cores, "wall": round(wall, 1),
                  "files_per_sec": round(n / wall, 1),
                  "calib": [c_before, calib()],
                  "n": n, "edges": ne, "clusters": nc}))
spark.stop()
"""


def main():
    n_files = int(os.environ.get("SCALE_N_FILES", "40000"))
    target = int(os.environ.get("SCALE_FILE_CHARS", "125000"))
    reps = int(os.environ.get("SCALE_REPS", "3"))
    lo, hi = (int(x) for x in os.environ.get("SCALE_CORES", "2,8").split(","))

    if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        subprocess.run(
            [sys.executable, "-c", GEN.replace("__REPO__", REPO),
             str(n_files), str(target), CORPUS],
            check=True, timeout=1200,
        )

    results = {lo: [], hi: []}
    for rep in range(reps):
        # alternate measurement order between reps: this VM shows slow
        # multi-minute host-load drift (±20-30% wall on identical runs),
        # and a fixed lo-then-hi order would alias that drift into the
        # ratio; alternation cancels it to first order
        for cores in (lo, hi) if rep % 2 == 0 else (hi, lo):
            out = subprocess.run(
                ["taskset", "-c", f"0-{cores - 1}",
                 sys.executable, "-c", CHILD.replace("__REPO__", REPO),
                 str(cores), CORPUS],
                capture_output=True, text=True, timeout=1200,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")]
            if not line:
                print(out.stderr[-500:], file=sys.stderr)
                sys.exit(1)
            r = json.loads(line[-1])
            results[cores].append(r)
            print(f"rep{rep} local[{cores}]: {r['wall']}s "
                  f"{r['files_per_sec']} files/s calib={r.get('calib')}",
                  file=sys.stderr)

    med_lo = statistics.median(r["files_per_sec"] for r in results[lo])
    med_hi = statistics.median(r["files_per_sec"] for r in results[hi])
    # clean-window medians: the host is bimodal (memory bandwidth canary
    # ~3500-8000 MB/s in its normal mode vs 10-25 MB/s degraded — see
    # BENCH/BASELINE.md §4); a run bracketed by a degraded canary measures
    # the host, not the code. Both medians are reported; the all-reps one
    # stays the official headline.
    def clean(rs):
        # a rep is "clean" only if BOTH canaries stayed in the host's
        # normal mode at both endpoints: bandwidth ≥1000 MB/s (normal
        # ~3500-8000, degraded 10-25) AND single-thread blake2b ≥550 MB/s
        # (normal ~640-710; round-5 sweep B caught a 92.8 s degraded rep
        # whose bandwidth stayed nominal while CPU fell to 452)
        out = [r for r in rs
               if min(c[1] for c in r.get("calib", [[0, 1e9]])) >= 1000
               and min(c[0] for c in r.get("calib", [[1e9, 0]])) >= 550]
        return out

    clean_lo, clean_hi = clean(results[lo]), clean(results[hi])
    clean_eff = None
    if clean_lo and clean_hi:
        clean_eff = round(
            (statistics.median(r["files_per_sec"] for r in clean_hi)
             / statistics.median(r["files_per_sec"] for r in clean_lo))
            / (hi / lo), 3)
    sanity = {(r["edges"], r["clusters"]) for rs in results.values() for r in rs}
    summary = {
        "n_files": n_files,
        "file_chars": target,
        "reps": reps,
        "cores": [lo, hi],
        f"files_per_sec_local{lo}": med_lo,
        f"files_per_sec_local{hi}": med_hi,
        "speedup": round(med_hi / med_lo, 3),
        "scaling_efficiency": round((med_hi / med_lo) / (hi / lo), 3),
        "clean_window_efficiency": clean_eff,
        "clean_reps": [len(clean_lo), len(clean_hi)],
        "deterministic_output": len(sanity) == 1,
        "feed": "jvm",  # protocol tag: JVM-scan Arrow feed (the CLI path)
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out_path = os.path.join(REPO, "BENCH", "scaling_runs.json")
    # APPEND sweep history (round-2 finding: overwriting let the headline
    # quote the best of several protocol-identical sweeps); the summary is
    # always the LATEST sweep, and the spread across kept sweeps is
    # reported alongside it.
    sweeps = []
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prev = json.load(f)
            sweeps = prev.get("sweeps") or (
                [{"summary": prev["summary"], "runs": prev["runs"]}]
                if "summary" in prev else []
            )
        except (json.JSONDecodeError, KeyError):
            sweeps = []
    sweeps.append({"summary": summary, "runs": results})
    # spread covers only protocol-identical sweeps (same cores axis, same
    # feed path, same corpus shape) — anything else is apples/oranges
    effs = sorted(
        s_["summary"]["scaling_efficiency"] for s_ in sweeps
        if s_["summary"].get("cores") == [lo, hi]
        and s_["summary"].get("feed") == "jvm"
        and s_["summary"].get("n_files") == n_files
        and s_["summary"].get("file_chars") == target
    )
    spread = {
        "n_sweeps": len(effs),
        "min": effs[0],
        "median": effs[len(effs) // 2] if len(effs) % 2 else round(
            (effs[len(effs) // 2 - 1] + effs[len(effs) // 2]) / 2, 3),
        "max": effs[-1],
    }
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "efficiency_spread": spread,
                   "sweeps": sweeps}, f, indent=2, default=str)
    print(json.dumps({**summary, "efficiency_spread": spread}))


if __name__ == "__main__":
    main()
