"""CLI entrypoint (python -m crba_etl_spark), quality-report checks,
snapshot expiry, and hot-key skew."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from conftest import REPO, make_events
from crba_etl_spark.checks import run_checks
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("s"))
    generate_stream(d, StreamSpec(seed=21, n_events=4000, n_epochs=3, evolve_epoch=2))
    return d


def test_cli_replay_compact_check_metrics(stream, tmpdir_):
    """Drive the spark-submit entrypoint end to end in a subprocess."""
    table = os.path.join(tmpdir_, "t")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "crba_etl_spark", *args],
            capture_output=True, text=True, cwd=REPO, env=env, timeout=420,
        )

    r = cli("replay", "--events", stream, "--table", table, "--n-buckets", "4")
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert out["epochs_applied"] == [0, 1, 2]

    r = cli("resume", "--events", stream, "--table", table, "--n-buckets", "4")
    out = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    # resume pre-filters committed epochs: nothing to apply, nothing skipped
    assert out["epochs_applied"] == [] and out["events_applied"] == 0

    r = cli("compact", "--table", table, "--n-buckets", "4")
    assert r.returncode == 0, r.stderr[-2000:]

    r = cli("check", "--table", table, "--n-buckets", "4",
            "--report", os.path.join(tmpdir_, "rep"))
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert rep["all_passed"] and rep["rows"] > 0
    assert os.listdir(os.path.join(tmpdir_, "rep"))


def test_cli_lsh_index_and_rebuild(stream, tmpdir_):
    """`replay --lsh-index --dedup-labels` maintains both aux artifacts;
    `compact --rebuild-indexes` rebuilds them even WITHOUT the flags (a
    maintenance run must act on what the table records, not on how this
    engine instance was constructed)."""
    table = os.path.join(tmpdir_, "t")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "crba_etl_spark", *args],
            capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
        )

    r = cli(
        "replay", "--events", stream, "--table", table, "--n-buckets", "4",
        "--lsh-index", "--dedup-labels",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    snap = json.load(
        open(
            os.path.join(
                table, "snapshots",
                sorted(os.listdir(os.path.join(table, "snapshots")))[-1],
            )
        )
    )
    files0 = {k: set(v["files"]) for k, v in snap["aux"].items()}
    assert files0.get("lsh_bands") and files0.get("dedup_labels")

    r = cli("compact", "--table", table, "--n-buckets", "4", "--rebuild-indexes")
    assert r.returncode == 0, r.stderr[-2000:]
    snap2 = json.load(
        open(
            os.path.join(
                table, "snapshots",
                sorted(os.listdir(os.path.join(table, "snapshots")))[-1],
            )
        )
    )
    files1 = {k: set(v["files"]) for k, v in snap2["aux"].items()}
    # rebuilt: both artifacts replaced with fresh (non-empty) file sets
    assert files1["lsh_bands"] and files1["lsh_bands"] != files0["lsh_bands"]
    assert files1["dedup_labels"] and files1["dedup_labels"] != files0["dedup_labels"]


def test_checks_fail_on_corrupt_table(spark, tmpdir_):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4)
    eng.apply_epoch(make_events(spark, [
        (1, 0, "I", "c1", 0, "marsian", "bad role", None, 0, 0),
    ]), 0)
    rep = run_checks(spark, eng.table)
    by = {r["check"]: r for r in rep["checks"]}
    assert not by["role_in_domain"]["passed"]
    assert by["key_uniqueness"]["passed"]
    assert not rep["all_passed"]


def test_expire_snapshots(spark, stream, tmpdir_):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4)
    eng.replay(stream)
    exp = oracle_final(stream).reset_index(drop=True)
    snaps_before = len(os.listdir(os.path.join(eng.table.root, "snapshots")))
    assert snaps_before >= 4  # v0 + 3 epochs
    eng.table.compact(spark)
    res = eng.table.expire_snapshots(keep_last=1)
    assert res["expired_snapshots"]
    # live view intact after expiry
    import pandas as pd

    got = eng.read_final().orderBy("conv_id", "turn_idx", "ts").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # expired versions' data dirs are gone, referenced ones remain
    assert res["removed_data_dirs"]


def test_expire_snapshots_keep_last_zero_keeps_only_current(tmpdir_):
    """keep_last=0 keeps only the live snapshot (a ``names[-0:]`` slice
    would keep every one), and a negative keep_last is rejected before
    anything is deleted."""
    from crba_etl_spark.icelite import IceliteTable
    from crba_etl_spark.schema import TRANSCRIPT

    t = IceliteTable.create(os.path.join(tmpdir_, "t"), TRANSCRIPT, n_buckets=2)
    for k in range(3):
        t.mark_epoch_committed(k)
    assert len(t.io.list_manifests()) == 4
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=-1)
    assert len(t.io.list_manifests()) == 4
    res = t.expire_snapshots(keep_last=0)
    assert t.io.list_manifests() == [t.io.read_current()]
    assert len(res["expired_snapshots"]) == 3
    assert t.committed_epochs() == {0, 1, 2}


def test_hot_key_skew_correctness(spark, tmpdir_):
    """A single conversation carrying 60% of an epoch (Zipf worst case)
    still reduces and applies exactly (partial agg collapses it map-side)."""
    rows = []
    lsn = 1
    for turn in range(50):
        for rev in range(60):  # 3000 events on ONE conv
            rows.append((lsn, 0, "I" if rev == 0 else "U", "HOT", turn,
                         "user", f"hot {turn} rev {lsn}", None, turn * 60, lsn))
            lsn += 1
    for i in range(2000):  # long tail
        rows.append((lsn, 0, "I", f"c{i:05d}", 0, "user", f"cold {i}", None, 0, lsn))
        lsn += 1
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4)
    st = eng.apply_epoch(make_events(spark, rows), 0)
    assert st["keys_in_batch"] == 50 + 2000
    final = eng.read_final()
    hot = {r.turn_idx: r.text for r in final.filter(F.col("conv_id") == "HOT").collect()}
    assert len(hot) == 50
    # each hot turn holds its max-lsn revision
    for turn in range(50):
        expect_lsn = (turn + 1) * 60
        assert hot[turn] == f"hot {turn} rev {expect_lsn}"


def test_check_html_report_renders(spark, stream, tmpdir_):
    """`check --html out.html` (VERDICT r2 #9): the data-docs surface —
    every check renders as a row with a pass/fail badge; the summary
    carries table/version/row count; a failing suite renders FAIL."""
    from crba_etl_spark.checks import (
        CheckSpec, default_suite, render_report_html, run_checks,
    )

    table = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, table, n_buckets=4, mode="mor")
    eng.replay(stream)

    # CLI path: subprocess renders the file
    out_html = os.path.join(tmpdir_, "report.html")
    r = subprocess.run(
        [sys.executable, "-m", "crba_etl_spark", "check", "--table", table,
         "--n-buckets", "4", "--html", out_html],
        capture_output=True, text=True, cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"}, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    html = open(out_html).read()
    for spec in default_suite():
        assert f"<td>{spec.name}</td>" in html  # one row per check
    assert "PASSED" in html and "FAIL</span>" not in html

    # failing suite renders the failure loudly (in-process)
    rep = run_checks(
        spark, eng.table,
        suite=[CheckSpec(name="impossible_rows", kind="row_count", max_rows=0)],
    )
    bad = render_report_html(rep)
    assert "FAILED" in bad and "impossible_rows" in bad and "FAIL</span>" in bad
