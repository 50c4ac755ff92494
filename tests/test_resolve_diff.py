"""Snapshot-diff operators (round-2 additions):

- table_diff / snapshot_diff: per-key adds/drops/changes between two
  icelite snapshot versions (time travel), incl. schema evolution;
- the `python -m crba_etl_spark diff` CLI summary.
"""

import json
import os

from conftest import make_events
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.operators.diff import diff_summary, snapshot_diff, table_diff


def test_table_diff_statuses(spark):
    old = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")], "k string, v int, w string"
    )
    new = spark.createDataFrame(
        [("a", 1, "x"), ("b", 9, "y"), ("d", 4, "q")], "k string, v int, w string"
    )
    d = table_diff(old, new, ["k"])
    got = {r["k"]: (r["status"], sorted(r["changed_cols"])) for r in d.collect()}
    assert got == {
        "b": ("changed", ["v"]),
        "c": ("dropped", []),
        "d": ("added", []),
    }


def _two_version_table(spark, tmpdir_):
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=4, mode="mor")
    eng.apply_epoch(make_events(spark, [
        (10, 0, "I", "c1", 0, "user", "v1", None, 0, 0),
        (11, 0, "I", "c2", 0, "user", "keep", None, 0, 1),
        (12, 0, "I", "c3", 0, "user", "bye", None, 0, 2),
    ]), 0)
    v1 = eng.table.snapshot()["version"]
    eng.apply_epoch(make_events(spark, [
        (20, 1, "U", "c1", 0, "user", "v2", None, 0, 3),   # changed
        (21, 1, "D", "c3", 0, None, None, None, 0, 4),     # dropped
        (22, 1, "I", "c4", 0, "user", "new", None, 0, 5),  # added
    ]), 1)
    v2 = eng.table.snapshot()["version"]
    return eng, v1, v2


def test_snapshot_diff_time_travel(spark, tmpdir_):
    eng, v1, v2 = _two_version_table(spark, tmpdir_)
    d = snapshot_diff(spark, eng.table, v1, v2)
    got = {
        (r["conv_id"], r["turn_idx"]): r["status"] for r in d.collect()
    }
    assert got == {("c1", 0): "changed", ("c3", 0): "dropped", ("c4", 0): "added"}
    assert diff_summary(d) == {"added": 1, "dropped": 1, "changed": 1}
    # diff against the live head (v_new=None) is the same here
    assert diff_summary(snapshot_diff(spark, eng.table, v1)) == {
        "added": 1, "dropped": 1, "changed": 1,
    }


def test_snapshot_diff_across_schema_evolution(spark, tmpdir_):
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=4, mode="mor")
    # epoch 0 WITHOUT the tool column (pre-evolution envelope)
    eng.apply_epoch(
        make_events(spark, [
            (10, 0, "I", "c1", 0, "user", "hello", None, 0, 0),
        ], with_tool=False),
        0,
    )
    v1 = eng.table.snapshot()["version"]
    eng.apply_epoch(make_events(spark, [
        (20, 1, "U", "c1", 0, "user", "hello", "browser", 0, 1),
    ]), 1)
    d = snapshot_diff(spark, eng.table, v1)
    rows = d.collect()
    assert len(rows) == 1 and rows[0]["status"] == "changed"
    assert "tool" in rows[0]["changed_cols"]  # old side reads NULL tool


def test_cli_diff_summary(spark, tmpdir_, capsys):
    eng, v1, v2 = _two_version_table(spark, tmpdir_)
    from crba_etl_spark.__main__ import main

    rc = main([
        "diff", "--table", eng.table.root, "--from", str(v1), "--to", str(v2),
        "--master", "local[4]",
    ])
    assert rc == 0
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert (out["added"], out["dropped"], out["changed"]) == (1, 1, 1)
