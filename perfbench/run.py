"""Run one benchmark workload on the dedup_spark engine and print one JSON
result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload batch_neardup --seed 7 \
        --seconds 1 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with an event log and layer spans and prints the per-layer metrics.
All files the run writes (inputs, Spark scratch, state, event log) live
under ``.perfbench/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()  # before the heavy imports: setup_s starts here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

WORKLOAD_NAMES = ("batch_neardup", "incremental_ingest")

# name -> unit; each workload prints all of them
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "pair_recall": "ratio",
}


def _env(run_dir: str, trace: bool) -> None:
    """Point every scratch path of Spark, the JVM and the engine into the
    work directory, and turn the event log on for traced runs."""
    tmp = os.path.join(WORK, "tmp")  # kept: compiled CDC kernel, package zip
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ["SPARK_GC_FLAGS"] = " ".join([
        os.environ.get("SPARK_GC_FLAGS", "-XX:+UseParallelGC"), jvm])
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _start_spark(cores: int):
    import tempfile

    from dedup_spark import session

    tempfile.tempdir = None  # re-read TMPDIR
    local = os.environ["SPARK_LOCAL_DIRS"]
    # the session otherwise creates its shuffle directory under /dev/shm;
    # keep it in the work directory (Spark itself honours SPARK_LOCAL_DIRS)
    session._local_dir = lambda: local
    spark = session.get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM, then wait for every child process."""
    from pyspark import SparkContext

    from perfbench import procmem

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    procmem.reap_children()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test input size")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dedup_spark", "pipeline.py")):
        print(f"perfbench: no dedup_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procmem, workloads

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _env(run_dir, bool(args.trace))
    os.chdir(run_dir)  # spark-warehouse / derby files land here

    t = time.time()
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed, args.size)
    input_s = time.time() - t  # input generation is not set-up

    cores = len(os.sched_getaffinity(0))
    with procmem.PeakRss() as rss:
        spark = _start_spark(cores)
        try:
            wl.setup(spark, bool(args.trace))
            setup_s = time.time() - T_START - input_s
            out = wl.measure(spark, args.seconds,
                             workloads.Tracer(spark, bool(args.trace)))
        finally:
            _stop_spark(spark)

    for err in out.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    if args.trace:
        metrics = workloads.layer_metrics(
            args.workload, out, os.path.join(run_dir, "eventlog"), cores,
            rss.peak_mb)
        units = {k: u for k, (u, _) in workloads.PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": setup_s,
            "cpu_s": statistics.median(out.cpus) if out.cpus else 0.0,
            "pair_recall": out.recall,
        }
        units = END_TO_END
    fail_ratio = out.failed / max(1, out.attempted)
    print(f"perfbench: {args.workload} seed={args.seed} ops={out.attempted} "
          f"fail_ratio={fail_ratio} walls={[round(w, 3) for w in out.walls]} "
          f"files={out.files}",
          file=sys.stderr)
    shutil.rmtree(os.path.join(run_dir, "state"), ignore_errors=True)
    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0
        and out.recall >= workloads.RECALL_GATE,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
