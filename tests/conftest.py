import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from dedup_spark.session import get_spark

    s = get_spark("dedup_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus200(spark):
    from dedup_spark.synth import corpus_df

    return corpus_df(spark, 200, seed=42).cache()


@pytest.fixture(scope="session")
def synth_sample():
    """Deterministic in-repo chunker input (~51 KB): 16 generated source
    files (near-dup clusters included) followed by their zlib stream, so
    both repetitive text and high-entropy bytes are covered."""
    import zlib

    from dedup_spark.synth import generate_corpus

    text = "".join(r["content"] for r in generate_corpus(16, seed=7)).encode()
    return text + zlib.compress(text, 9)


@pytest.fixture(scope="session")
def group_jobs(spark):
    """``group_jobs(name, run)``: the Spark jobs ``run()`` starts, counted
    in job group ``name`` once the listener bus has caught up."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def count(group: str, run) -> int:
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        seen, stable_since = -1, time.time()
        while time.time() - stable_since < 0.5:
            n = len(tracker.getJobIdsForGroup(group))
            if n != seen:
                seen, stable_since = n, time.time()
            time.sleep(0.05)
        return seen

    return count
