"""CLI surface test (VERDICT r3 #8): ``cli.main`` is the spark-submit
entrypoint the north rule names — run / report / incremental each get one
end-to-end invocation against a tiny parquet corpus (no subprocess; the
shared test session is injected so the suite keeps its one JVM)."""

import json
import os

import pytest

from dedup_spark import cli
from dedup_spark.synth import corpus_df


@pytest.fixture()
def keep_session(spark, monkeypatch):
    """cli.main builds its own session and stops it on exit; hand it the
    suite's session and neuter stop() so later tests keep their JVM."""
    from dedup_spark import session as sess

    monkeypatch.setattr(sess, "get_spark",
                        lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    return spark


def _assert_dropped_counters(out: dict) -> None:
    for k in ("dropped_buckets", "dropped_rows", "max_bucket_size"):
        assert isinstance(out[k], int) and out[k] >= 0, (k, out)


def test_cli_run_and_report(keep_session, tmp_path, capsys):
    spark = keep_session
    corpus = corpus_df(spark, 60, seed=37)
    in_path = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(in_path)
    workdir = str(tmp_path / "work")

    rc = cli.main(["run", "--input", in_path, "--workdir", workdir])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files"] == 60
    assert out["clusters"] <= 60 and out["clusters"] > 0
    assert out["verified_edges"] >= 0
    _assert_dropped_counters(out)
    assert os.path.exists(os.path.join(workdir, "clusters", "_SUCCESS"))

    rc = cli.main(["report", "--workdir", workdir, "--top", "5"])
    assert rc == 0
    lines = [json.loads(l)
             for l in capsys.readouterr().out.strip().splitlines()]
    assert lines and all("cluster_id" in l and "size" in l for l in lines)
    # report is top-N by size, descending
    sizes = [l["size"] for l in lines]
    assert sizes == sorted(sizes, reverse=True)


def test_cli_incremental(keep_session, tmp_path, capsys):
    spark = keep_session
    corpus = corpus_df(spark, 40, seed=41)
    state = str(tmp_path / "state")
    for lo, hi in ((0, 25), (25, 40)):
        p = str(tmp_path / f"batch_{lo}.parquet")
        corpus.where(f"file_id >= {lo} AND file_id < {hi}").write.parquet(p)
        rc = cli.main(["incremental", "--input", p, "--state", state])
        assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_in_state"] == 40
    assert 0 < out["clusters"] <= 40
    _assert_dropped_counters(out)
    metrics = [json.loads(l)
               for l in open(os.path.join(state, "metrics.jsonl"))]
    assert [m["batch_id"] for m in metrics] == [0, 1]
