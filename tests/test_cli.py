"""S3 CLI entry smoke (CommandLineParser.scala:8-27 analogue): the
spark-submit-shaped script runs end-to-end and a second invocation
resumes from the checkpoint."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.slow  # two subprocess SparkSessions (~1 min)


def _run_cli(tmp_path, corpus):
    cmd = [
        sys.executable,
        os.path.join(REPO, "tools", "run_pipeline.py"),
        "--transcripts", os.path.join(corpus, "transcripts.parquet"),
        "--alias-dict", os.path.join(corpus, "alias_dict.parquet"),
        "--out", str(tmp_path / "graph"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--fingerprint", "smoke1",
        "--cpus", "4",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )


def test_cli_end_to_end_and_resume(tmp_path):
    from gfftoneo4j_spark.corpus import CorpusConfig, write_corpus

    corpus = str(tmp_path / "corpus")
    write_corpus(corpus, CorpusConfig(n_conversations=30, seed=11))

    s1 = _run_cli(tmp_path, corpus)
    assert s1["n_nodes"] > 0 and s1["n_edges"] > 0
    assert s1["stages_computed"] == ["mentions", "canon", "linked", "edges"]

    s2 = _run_cli(tmp_path, corpus)
    assert s2["stages_reused"] == ["mentions", "canon", "linked", "edges"]
    assert (s2["n_nodes"], s2["n_edges"]) == (s1["n_nodes"], s1["n_edges"])


def test_cli_incremental_mode(tmp_path):
    """Two incremental invocations commit snapshots v1 and v2; edge
    count grows monotonically and the pointer follows."""
    from gfftoneo4j_spark.corpus import CorpusConfig, write_corpus

    c1 = str(tmp_path / "c1")
    c2 = str(tmp_path / "c2")
    write_corpus(c1, CorpusConfig(n_conversations=10, seed=21))
    write_corpus(c2, CorpusConfig(n_conversations=10, seed=22))
    out = str(tmp_path / "graph")

    def run(corpus):
        cmd = [
            sys.executable,
            os.path.join(REPO, "tools", "run_pipeline.py"),
            "--transcripts", os.path.join(corpus, "transcripts.parquet"),
            "--alias-dict", os.path.join(corpus, "alias_dict.parquet"),
            "--out", out, "--mode", "incremental", "--cpus", "4",
        ]
        res = subprocess.run(cmd, capture_output=True, text=True, check=True)
        return json.loads(
            [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
        )

    s1 = run(c1)
    s2 = run(c2)
    assert (s1["version"], s2["version"]) == (1, 2)
    assert s2["n_edges"] > s1["n_edges"]
    assert s1["mode"] == s2["mode"] == "incremental"


def test_run_query_cli_list_run_and_oracle_check(tmp_path):
    """tools/run_query.py: --list names every registered query; running
    one prints rows; --oracle-check exits 0 on a gate-green query and
    writes --out parquet."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(repo, "tools", "run_query.py")
    r = subprocess.run(
        [sys.executable, script, "--list"],
        capture_output=True, text=True, timeout=120,
    )
    names = r.stdout.split()
    assert r.returncode == 0 and "kg_triples" in names and len(names) > 150

    out = str(tmp_path / "res")
    r2 = subprocess.run(
        [
            sys.executable, script, "column_profile",
            "/root/testdata/sf0.001", "--limit", "2",
            "--oracle-check", "--out", out, "--cpus", "4",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "oracle check: PASS" in r2.stderr
    assert "col\tn_total" in r2.stdout
    assert os.path.isdir(out)

    r3 = subprocess.run(
        [sys.executable, script, "no_such_query", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=120,
    )
    assert r3.returncode == 2


def _query_profile(*args):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "query_profile.py"), *args],
        capture_output=True, text=True, timeout=900,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.splitlines()[-1])["queries"]


def test_query_profile_records_each_repetition(sf_dir):
    rec = _query_profile("--reps", "2", sf_dir, "graph_pagerank")["graph_pagerank"]
    assert [type(r["wall_s"]) for r in rec["runs"]] == [float, float]
    jobs = [r["jobs"] for r in rec["runs"]]
    assert jobs[0] == jobs[1] > 0
    # the second repetition finds the first one's classes in the cache
    compiles = [r["codegen_compiles"] for r in rec["runs"]]
    assert compiles[0] > compiles[1] >= 0
    assert rec["package"].startswith(REPO + os.sep)


def test_query_profile_base_runs_an_archive_of_the_commit(sf_dir):
    rec = _query_profile(
        "--base", "HEAD", "--reps", "2", sf_dir, "column_profile"
    )["column_profile"]
    assert not rec["base"]["package"].startswith(REPO + os.sep)
    assert rec["head"]["package"].startswith(REPO + os.sep)
    jobs = {side: [r["jobs"] for r in rec[side]["runs"]] for side in rec}
    assert jobs["base"] == jobs["head"] and len(jobs["head"]) == 2
    assert jobs["head"][0] > 0
