"""Command-line entrypoint — the ``spark-submit`` surface (north_rule).

Cluster usage:
  spark-submit --py-files dedup_spark.zip -m ...  # or:
  spark-submit --py-files $(python -c 'from dedup_spark.session import \
      package_zip; print(package_zip())') cli.py run --input ... --workdir ...

Local usage:
  python -m dedup_spark.cli run --input /path/corpus.parquet \
      --workdir /ckpt/run1 [--resume] [--mode dynamic] [--max-size 1024]
  python -m dedup_spark.cli incremental --input new_batch.parquet --state /state
  python -m dedup_spark.cli report --workdir /ckpt/run1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# the dropped-bucket counters each command's JSON line carries
_DROPPED = ("dropped_buckets", "dropped_rows", "max_bucket_size")


def _corpus(spark, path: str, content_col: str, id_col: str):
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if id_col not in df.columns:
        df = df.withColumn(id_col, F.monotonically_increasing_id())
    if "content_sha256" not in df.columns:
        df = df.withColumn("content_sha256", F.sha2(F.col(content_col), 256))
    return df


def _files_and_clusters(clusters) -> tuple[int, int]:
    """(files, clusters) in one job: ``clusters`` has one row per file."""
    from pyspark.sql import functions as F

    return tuple(clusters.agg(F.count(F.lit(1)),
                              F.countDistinct("cluster_id")).first())


def main(argv=None):
    p = argparse.ArgumentParser(prog="dedup_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="full near-dup pipeline")
    run.add_argument("--input", required=True)
    run.add_argument("--workdir", default=None)
    run.add_argument("--resume", action="store_true")
    run.add_argument("--mode", default="dynamic",
                     choices=["fixed", "dynamic", "entropy"])
    run.add_argument("--max-size", type=int, default=1024)
    run.add_argument("--jaccard", type=float, default=0.5)
    run.add_argument("--content-col", default="content")
    run.add_argument("--id-col", default="file_id")

    inc = sub.add_parser("incremental", help="fold new files into state")
    inc.add_argument("--input", required=True)
    inc.add_argument("--state", required=True)
    inc.add_argument("--content-col", default="content")
    inc.add_argument("--id-col", default="file_id")

    rep = sub.add_parser("report", help="cluster stats from a finished run")
    rep.add_argument("--workdir", required=True)
    rep.add_argument("--top", type=int, default=20)

    args = p.parse_args(argv)

    from .config import DedupConfig
    from .session import get_spark

    spark = get_spark("dedup_spark_cli", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "run":
        from .operators.groups import expanded_edge_count
        from .pipeline import run_pipeline

        cfg = DedupConfig(mode=args.mode, max_size=args.max_size,
                          jaccard_threshold=args.jaccard)
        corpus = _corpus(spark, args.input, args.content_col, args.id_col)
        res = run_pipeline(corpus, cfg, workdir=args.workdir,
                           resume=args.resume, content_col=args.content_col,
                           id_col=args.id_col)
        # min_lcs stays 0 here, so the verified member pairs are counted
        # from group sizes, never expanded
        n_edges = expanded_edge_count(res["edges_rep"], res["groups"])
        n_files, n_clusters = _files_and_clusters(res["clusters"])
        dropped = res["candidate_metrics"].first()
        print(json.dumps({"files": n_files, "verified_edges": n_edges,
                          "clusters": n_clusters, "workdir": args.workdir,
                          **{k: dropped[k] for k in _DROPPED}}))
    elif args.cmd == "incremental":
        from .streaming import current_clusters, incremental_update

        new = _corpus(spark, args.input, args.content_col, args.id_col)
        incremental_update(new, args.state, DedupConfig(),
                           content_col=args.content_col, id_col=args.id_col)
        cl = current_clusters(spark, args.state)
        # the fold's own record of this batch: no job
        with open(os.path.join(args.state, "metrics.jsonl")) as f:
            last = json.loads(f.readlines()[-1])
        n_files, n_clusters = _files_and_clusters(cl)
        print(json.dumps({
            "files_in_state": n_files,
            "clusters": n_clusters,
            **{k: last[k] for k in _DROPPED},
        }))
    elif args.cmd == "report":
        from .operators.cluster import cluster_sizes

        clusters = spark.read.parquet(f"{args.workdir}/clusters")
        for row in cluster_sizes(clusters).take(args.top):
            print(json.dumps({"cluster_id": row["cluster_id"],
                              "size": row["size"]}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
