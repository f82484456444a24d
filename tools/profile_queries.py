"""Run declared SQL-surface queries with an uncompressed Spark event log on
and print one JSON row per query run: its wall time plus the event-log
totals of its window (jobs, stages, task run and CPU time, GC, shuffle,
spill, driver-only gap), read with perfbench's event-log reader.

Usage: python tools/profile_queries.py --sf DIR [--explain TAG] [--count]
                                      [query ...]

With no query names every declared query runs, in declaration order.
``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``; ``SPARK_GRAFT_CPUS`` sets the
core count (default: all) and ``PROFILE_REPS`` repeats the query list,
releasing the query caches between repetitions. ``--explain TAG`` writes
each query's formatted physical plan to ``plans/TAG/<query>.txt`` and
``--count`` adds a ``rows`` count to each query's first row; both run
after the query's timed window closes. The event log lives in a fresh
temporary directory, removed on exit.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _event_log_conf(log_dir: str) -> None:
    """Turn the event log on for the session started next, uncompressed
    (no zstd reader is installed), as perfbench's traced run does."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--explain", metavar="TAG",
                    help="dump plans to plans/TAG/<query>.txt")
    ap.add_argument("--count", action="store_true",
                    help="also count each query's rows")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf (or SPARK_GRAFT_SF_DIR) is required")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    log_dir = tempfile.mkdtemp(prefix="profile_queries_")
    try:
        _event_log_conf(log_dir)
        spans, rows = _run(args.queries, args.sf, cpus, args.explain,
                           args.count)
        from perfbench import eventlog

        log = eventlog.read(log_dir)
        for span in spans:
            w = eventlog.window(log, span)
            row = {"query": span.name, **dataclasses.asdict(w),
                   "driver_gap_s": w.driver_gap_s}
            if span.name in rows:
                row["rows"] = rows[span.name]
            print(json.dumps({k: round(v, 3) if isinstance(v, float) else v
                              for k, v in row.items()}))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def _run(names: list[str], sf_dir: str, cpus: int, explain: str | None,
         count: bool) -> tuple[list, dict]:
    """Run each query once per repetition into a no-op sink; returns one
    ``eventlog.Span`` per run, named ``query#rep``, and the row count of
    each first run by span name (empty unless ``count``). Stopping the
    session closes the event log."""
    from dedup_spark.session import get_spark
    from perfbench.eventlog import Span

    spark = get_spark("profile", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    spans, rows = [], {}
    for rep in range(int(os.environ.get("PROFILE_REPS", "1"))):
        if rep:
            entry_mod.release_caches()
        for name in names or qs:
            spark.sparkContext.setJobDescription(name)
            t0 = time.time() * 1000.0
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            spans.append(Span(f"{name}#{rep}", t0, time.time() * 1000.0))
            if rep:
                continue
            if explain:
                out = os.path.join(ROOT, "plans", explain)
                os.makedirs(out, exist_ok=True)
                with open(os.path.join(out, f"{name}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            if count:
                rows[spans[-1].name] = df.count()
    entry_mod.release_caches()
    spark.stop()
    return spans, rows


if __name__ == "__main__":
    main()
