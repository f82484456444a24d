"""A/B the size-tiered verify (operators/verify.py two_phase) at bench
scale: same rep-signatures + candidate pairs, hamming gate active, one
fresh event-logged Spark session per arm; reports verify-job shuffle
write/read bytes + wall for both plans and the edge-set equality check.

Usage: python tools/verify_ab.py [n_files] [hamming_max]
Writes nothing outside /tmp; prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREP = r"""
import sys
sys.path.insert(0, "__REPO__")
from dedup_spark.session import get_spark
from dedup_spark.synth import corpus_df
from dedup_spark.config import DedupConfig
from dedup_spark.operators.signatures import compute_signatures
from dedup_spark.operators.groups import with_groups
from dedup_spark.operators.lsh import candidate_pairs

n_files = int(sys.argv[1])
file_chars = int(sys.argv[2])
spark = get_spark("verify_ab_prep", cores=32)
spark.sparkContext.setLogLevel("ERROR")
cfg = DedupConfig()
corpus = corpus_df(spark, n_files, seed=42, partitions=64)
if file_chars:
    # inflate files so the bottom-k shingle sketch hits the 1024 cap —
    # the regime the tiering targets (~8 KB sketch per endpoint)
    import pyspark.sql.functions as F
    corpus = corpus.withColumn("content", F.expr(
        f"substring(repeat(content, int({file_chars}/"
        f"greatest(length(content),1))+1), 1, {file_chars})"))
sigs = compute_signatures(corpus, cfg).cache()
rep_sigs = with_groups(sigs).where("file_id = rep").drop(
    "g1", "g2", "rep", "group_size")
rep_sigs.write.mode("overwrite").parquet("/tmp/verify_ab/rep_sigs")
candidate_pairs(rep_sigs, cfg).write.mode("overwrite").parquet(
    "/tmp/verify_ab/pairs")
spark.stop()
"""

ARM = r"""
import json, sys, time
sys.path.insert(0, "__REPO__")
from pyspark.sql import SparkSession
from dedup_spark.session import _local_dir, package_zip
from dedup_spark.config import DedupConfig
from dedup_spark.operators.verify import verify_pairs

two_phase = sys.argv[1] == "two"
hamming = int(sys.argv[2])
logdir = sys.argv[3]
spark = (SparkSession.builder.appName("verify_ab").master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.local.dir", _local_dir())
         .config("spark.sql.adaptive.enabled", "false")
         # kill broadcast: force shuffle joins so the payload difference
         # between the plans is visible in shuffle bytes (at real scale
         # neither side of the verify join is broadcastable anyway)
         .config("spark.sql.autoBroadcastJoinThreshold", "-1")
         .config("spark.eventLog.enabled", "true")
         .config("spark.eventLog.dir", logdir)
         .config("spark.eventLog.compress", "false")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile(package_zip())
cfg = DedupConfig(simhash_hamming_max=hamming)
sigs = spark.read.parquet("/tmp/verify_ab/rep_sigs")
pairs = spark.read.parquet("/tmp/verify_ab/pairs")
t0 = time.time()
edges = verify_pairs(pairs, sigs, sigs.select("file_id", "shingles"),
                     cfg, two_phase=two_phase)
n_ver = edges.where("verified").count()
wall = time.time() - t0
print(json.dumps({"arm": sys.argv[1], "wall": round(wall, 2),
                  "verified": n_ver, "rows": edges.count()}))
spark.stop()
"""


def shuffle_bytes(logdir: str) -> dict:
    w = r = 0
    files = []
    for dirpath, _, names in os.walk(logdir):
        files += [os.path.join(dirpath, n) for n in names
                  if n.startswith("events_") or n.startswith("local-")]
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                w += sw.get("Shuffle Bytes Written", 0)
                r += (sr.get("Remote Bytes Read", 0)
                      + sr.get("Local Bytes Read", 0))
    return {"write_mb": round(w / 1e6, 1), "read_mb": round(r / 1e6, 1)}


def main():
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 10000
    hamming = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    file_chars = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    # cache key includes the dataset parameters — a bare _SUCCESS probe
    # silently reused a differently-shaped dataset under new labels
    os.makedirs("/tmp/verify_ab", exist_ok=True)
    shape = os.path.join("/tmp/verify_ab", "shape.json")
    want = {"n_files": n_files, "file_chars": file_chars}
    have = None
    try:
        with open(shape) as f:
            have = json.load(f)
    except (OSError, ValueError):
        pass
    if have != want or not os.path.exists("/tmp/verify_ab/pairs/_SUCCESS"):
        subprocess.run(
            [sys.executable, "-c", PREP.replace("__REPO__", REPO),
             str(n_files), str(file_chars)], check=True, timeout=900)
        with open(shape, "w") as f:
            json.dump(want, f)

    out = {"n_files": n_files, "hamming_max": hamming,
           "file_chars": file_chars}
    for arm in ("one", "two"):
        logdir = f"/tmp/verify_ab/events_{arm}"
        import shutil

        shutil.rmtree(logdir, ignore_errors=True)
        os.makedirs(logdir, exist_ok=True)
        r = subprocess.run(
            [sys.executable, "-c", ARM.replace("__REPO__", REPO),
             arm, str(hamming), logdir],
            capture_output=True, text=True, timeout=900, check=True)
        line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
        out[arm] = {**json.loads(line), **shuffle_bytes(logdir)}
    assert out["one"]["verified"] == out["two"]["verified"]
    assert out["one"]["rows"] == out["two"]["rows"]
    out["shuffle_write_ratio"] = round(
        out["two"]["write_mb"] / max(out["one"]["write_mb"], 0.1), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
