"""Lazy quarantine: stale/low-LSN events are extracted at compaction from
the stored __epoch/__lsn columns — same audited set as the eager per-epoch
path, at zero per-epoch cost (the scale rationale is measured in
BENCH/BASELINE.md)."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import make_events
from crba_etl_spark.engine import CDCEngine


def _apply_stale_scenario(spark, eng):
    eng.apply_epoch(make_events(spark, [
        (10, 0, "I", "c1", 0, "user", "v10", None, 0, 0),
        (20, 0, "I", "c2", 0, "user", "w20", None, 0, 1),
    ]), 0)
    # epoch 1: one stale (lsn 5 < applied 10 for c1/0), one fresh
    eng.apply_epoch(make_events(spark, [
        (5, 1, "U", "c1", 0, "user", "stale5", None, 0, 2),
        (30, 1, "U", "c2", 0, "user", "w30", None, 0, 3),
    ]), 1)
    # epoch 2: another stale for the same key, lower than both
    eng.apply_epoch(make_events(spark, [
        (3, 2, "U", "c1", 0, "user", "stale3", None, 0, 4),
    ]), 2)


def test_lazy_quarantine_extracted_at_compaction(spark, tmpdir_):
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=4, mode="mor", quarantine="lazy")
    _apply_stale_scenario(spark, eng)
    # nothing audited yet (lazy) ...
    qdir = os.path.join(root, "quarantine")
    assert not os.path.exists(qdir) or not os.listdir(qdir)
    eng.compact()
    q = spark.read.parquet(qdir + "/*")
    got = {(r.lsn, r.conv_id, r.turn_idx, r.quarantine_epoch) for r in q.collect()}
    assert got == {(5, "c1", 0, 1), (3, "c1", 0, 2)}
    # final state unaffected
    final = {(r.conv_id, r.turn_idx): r.text for r in eng.read_final().collect()}
    assert final == {("c1", 0): "v10", ("c2", 0): "w30"}


def test_lazy_matches_eager_set(spark, tmpdir_):
    r1 = os.path.join(tmpdir_, "lazy")
    r2 = os.path.join(tmpdir_, "eager")
    lazy = CDCEngine(spark, r1, n_buckets=4, mode="mor", quarantine="lazy")
    eager = CDCEngine(spark, r2, n_buckets=4, mode="mor", quarantine="eager")
    _apply_stale_scenario(spark, lazy)
    _apply_stale_scenario(spark, eager)
    lazy.compact()
    ql = spark.read.parquet(os.path.join(r1, "quarantine") + "/*")
    qe = spark.read.parquet(os.path.join(r2, "quarantine") + "/*")
    sl = {(r.lsn, r.conv_id, r.turn_idx) for r in ql.collect()}
    se = {(r.lsn, r.conv_id, r.turn_idx) for r in qe.collect()}
    assert sl == se
    # and both engines converge to the same final state
    fl = lazy.read_final().orderBy("conv_id", "turn_idx").collect()
    fe = eager.read_final().orderBy("conv_id", "turn_idx").collect()
    assert fl == fe


def _audited(spark, root):
    q = spark.read.parquet(os.path.join(root, "quarantine") + "/*")
    return {(r.lsn, r.conv_id, r.turn_idx) for r in q.collect()}


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_later_slice_keeps_earlier_slice_audit(spark, tmpdir_, mode):
    """Each applied unit audits into its own directory: a later slice of
    an epoch, and the epoch's closing whole-epoch apply, must not erase
    an earlier slice's stale rows."""
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=4, mode=mode, quarantine="eager")
    eng.apply_epoch(make_events(spark, [
        (10, 0, "I", "c1", 0, "user", "v10", None, 0, 0),
    ]), 0)
    for marker, lsn in (("e1:s0", 5), ("e1:s1", 7)):
        eng.apply_epoch(make_events(spark, [
            (lsn, 1, "U", "c1", 0, "user", f"stale{lsn}", None, 0, lsn),
        ]), 1, slice_marker=marker, mark_epoch=False)
    assert _audited(spark, root) == {(5, "c1", 0), (7, "c1", 0)}
    eng.apply_epoch(make_events(spark, [
        (3, 1, "U", "c1", 0, "user", "stale3", None, 0, 9),
    ]), 1)
    assert _audited(spark, root) == {(5, "c1", 0), (7, "c1", 0), (3, "c1", 0)}
    assert {(r.conv_id, r.turn_idx): r.text for r in eng.read_final().collect()} == {
        ("c1", 0): "v10"
    }


def test_cow_fold_matches_mor_on_stale_and_equal_lsn_redelivery(spark, tmpdir_):
    """COW folds the batch into the stored rows with the resolution MOR
    reads use; both reach the same state and audit the same events. On
    an LSN tie the stored row wins, so an equal-LSN redelivery keeps the
    epoch that first applied it."""
    epochs = [
        [
            (10, 0, "I", "c1", 0, "user", "v10", None, 0, 0),
            (20, 0, "I", "c2", 0, "user", "w20", None, 0, 1),
            (4, 0, "I", "c3", 0, "user", "x4", None, 0, 2),
        ],
        [
            (5, 1, "U", "c1", 0, "user", "stale5", None, 0, 3),
            (20, 1, "I", "c2", 0, "user", "w20", None, 0, 4),
            (30, 1, "U", "c3", 0, "user", "x30", None, 0, 5),
            (8, 1, "I", "c4", 0, "user", "y8", None, 0, 6),
        ],
        [
            (10, 2, "I", "c1", 0, "user", "v10", None, 0, 7),
            (3, 2, "U", "c3", 0, "user", "stale3", None, 0, 8),
            (9, 2, "D", "c4", 0, None, None, None, None, 9),
        ],
    ]
    engines = {}
    for name, mode, quarantine in (
        ("mor", "mor", "eager"), ("cow", "cow", "eager"), ("lazy", "mor", "lazy"),
    ):
        eng = CDCEngine(
            spark, os.path.join(tmpdir_, name), n_buckets=4, mode=mode,
            quarantine=quarantine,
        )
        for k, rows in enumerate(epochs):
            eng.apply_epoch(make_events(spark, rows), k)
        engines[name] = eng
    mor, cow, lazy = engines["mor"], engines["cow"], engines["lazy"]
    final = {(r.conv_id, r.turn_idx): r.text for r in cow.read_final().collect()}
    assert final == {("c1", 0): "v10", ("c2", 0): "w20", ("c3", 0): "x30"}
    assert cow.read_final().orderBy("conv_id", "turn_idx").collect() == (
        mor.read_final().orderBy("conv_id", "turn_idx").collect()
    )
    audit = {(5, "c1", 0), (20, "c2", 0), (10, "c1", 0), (3, "c3", 0)}
    assert _audited(spark, mor.table.root) == audit
    assert _audited(spark, cow.table.root) == audit
    # lazy MOR resolves the equal-LSN tie to the earlier epoch too, so its
    # compaction audits the same set
    lazy.compact()
    assert _audited(spark, lazy.table.root) == audit
    first = {
        r.conv_id: r["__epoch"]
        for r in cow.table.read_stored(spark).filter(F.col("turn_idx") == 0).collect()
    }
    assert first == {"c1": 0, "c2": 0, "c3": 1, "c4": 2}


def test_lazy_audits_equal_lsn_redelivery_from_later_epoch(spark, tmpdir_):
    """An equal-LSN redelivery in a later epoch loses the resolve to the
    epoch that first applied it, so lazy compaction audits every one."""
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=4, mode="mor", quarantine="lazy")
    for k in (0, 1):
        eng.apply_epoch(make_events(spark, [
            (20, k, "I", f"c{i}", 0, "user", f"v{i}", None, 0, k)
            for i in range(8)
        ]), k)
    eng.compact()
    q = spark.read.parquet(os.path.join(root, "quarantine") + "/*").collect()
    assert {(r.lsn, r.conv_id, r.turn_idx, r.quarantine_epoch) for r in q} == {
        (20, f"c{i}", 0, 1) for i in range(8)
    }
    first = {r.conv_id: r["__epoch"] for r in eng.table.read_stored(spark).collect()}
    assert first == {f"c{i}": 0 for i in range(8)}
