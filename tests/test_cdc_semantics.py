"""Unit semantics: upsert, delete tombstones, LSN dedup, stale quarantine.

Reference analog: the expectation-suite classes the reference runs on its
final file (key uniqueness, non-null, value-in-set —
/root/reference/validation/great_expectations/expectations/crba_final_file_suite.json:3).
"""

import os

import pytest

from conftest import make_events
from crba_etl_spark.engine import CDCEngine

MODES = ["mor", "cow"]


def rows_of(df):
    return {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.tool) for r in df.collect()
    }


@pytest.mark.parametrize("mode", MODES)
def test_insert_then_update(spark, tmpdir_, mode):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode=mode)
    e0 = make_events(spark, [
        (1, 0, "I", "c1", 0, "user", "hello", None, 0, 0),
        (2, 0, "I", "c1", 1, "assistant", "hi", None, 60, 1),
    ])
    eng.apply_epoch(e0, 0)
    e1 = make_events(spark, [
        (3, 1, "U", "c1", 1, "assistant", "hi (edited)", None, 60, 2),
    ])
    eng.apply_epoch(e1, 1)
    got = rows_of(eng.read_final())
    assert got == {
        ("c1", 0): ("user", "hello", None),
        ("c1", 1): ("assistant", "hi (edited)", None),
    }


@pytest.mark.parametrize("mode", MODES)
def test_upsert_creates_and_updates(spark, tmpdir_, mode):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode=mode)
    eng.apply_epoch(make_events(spark, [
        (1, 0, "UPSERT", "c1", 0, "user", "v1", None, 0, 0),
    ]), 0)
    eng.apply_epoch(make_events(spark, [
        (2, 1, "UPSERT", "c1", 0, "user", "v2", None, 0, 1),
        (3, 1, "UPSERT", "c2", 0, "user", "new", None, 0, 2),
    ]), 1)
    got = rows_of(eng.read_final())
    assert got == {("c1", 0): ("user", "v2", None), ("c2", 0): ("user", "new", None)}


@pytest.mark.parametrize("mode", MODES)
def test_delete_tombstone_blocks_resurrection(spark, tmpdir_, mode):
    """A late, lower-LSN update must NOT resurrect a deleted key."""
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode=mode, quarantine="eager"
    )
    eng.apply_epoch(make_events(spark, [
        (1, 0, "I", "c1", 0, "user", "hello", None, 0, 0),
        (5, 0, "D", "c1", 0, None, None, None, None, 1),
    ]), 0)
    assert rows_of(eng.read_final()) == {}
    # lsn 3 < applied 5: stale — quarantined, key stays deleted
    eng.apply_epoch(make_events(spark, [
        (3, 1, "U", "c1", 0, "user", "zombie", None, 0, 2),
    ]), 1)
    assert rows_of(eng.read_final()) == {}
    q = spark.read.parquet(os.path.join(tmpdir_, "t", "quarantine", "epoch=1"))
    assert [(r.lsn, r.conv_id, r.turn_idx) for r in q.collect()] == [(3, "c1", 0)]
    # but a *newer* op may re-create the key
    eng.apply_epoch(make_events(spark, [
        (9, 2, "UPSERT", "c1", 0, "user", "reborn", None, 0, 3),
    ]), 2)
    assert rows_of(eng.read_final()) == {("c1", 0): ("user", "reborn", None)}


@pytest.mark.parametrize("mode", MODES)
def test_delete_for_absent_key_inserts_tombstone(spark, tmpdir_, mode):
    """D for a key never seen: the tombstone must still guard against a
    straggling lower-LSN insert arriving later."""
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode=mode)
    eng.apply_epoch(make_events(spark, [
        (7, 0, "D", "cx", 3, None, None, None, None, 0),
    ]), 0)
    assert rows_of(eng.read_final()) == {}
    eng.apply_epoch(make_events(spark, [
        (2, 1, "I", "cx", 3, "user", "too late", None, 0, 1),
    ]), 1)
    assert rows_of(eng.read_final()) == {}


@pytest.mark.parametrize("mode", MODES)
def test_duplicate_lsn_dedup(spark, tmpdir_, mode):
    """~2% duplicate-LSN redeliveries: same logical change twice in one
    batch and again across epochs — applied exactly once."""
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode=mode)
    st = eng.apply_epoch(make_events(spark, [
        (1, 0, "I", "c1", 0, "user", "once", None, 0, 0),
        (1, 0, "I", "c1", 0, "user", "once", None, 0, 1),  # dup in batch
    ]), 0)
    assert st["keys_in_batch"] == 1
    # redelivered across epoch boundary: stale vs applied lsn -> quarantine
    eng.apply_epoch(make_events(spark, [
        (1, 1, "I", "c1", 0, "user", "once", None, 0, 2),
    ]), 1)
    assert rows_of(eng.read_final()) == {("c1", 0): ("user", "once", None)}


@pytest.mark.parametrize("mode", MODES)
def test_out_of_order_within_batch(spark, tmpdir_, mode):
    """Within one epoch, LSN order decides the winner regardless of arrival."""
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode=mode)
    eng.apply_epoch(make_events(spark, [
        (5, 0, "U", "c1", 0, "user", "newest", None, 0, 0),  # arrives first
        (1, 0, "I", "c1", 0, "user", "oldest", None, 0, 1),
        (3, 0, "U", "c1", 0, "user", "middle", None, 0, 2),
    ]), 0)
    assert rows_of(eng.read_final()) == {("c1", 0): ("user", "newest", None)}


@pytest.mark.parametrize("mode", MODES)
def test_exactly_once_epoch_redelivery(spark, tmpdir_, mode):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode=mode)
    ev = make_events(spark, [(1, 0, "I", "c1", 0, "user", "x", None, 0, 0)])
    s1 = eng.apply_epoch(ev, 0)
    s2 = eng.apply_epoch(ev, 0)
    assert not s1.get("skipped") and s2.get("skipped")
    assert eng.read_final().count() == 1


def test_read_resolves_only_buckets_holding_two_files(spark, tmpdir_, spark_relation_reads):
    """On the Spark path, a MOR table whose buckets each hold one delta
    file reads without the resolving aggregate (every file is one row per
    key); once a second delta lands in a bucket, the read resolves it to
    the latest row per key."""
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode="mor")
    eng.apply_epoch(make_events(spark, [
        (1, 0, "I", "c1", 0, "user", "hello", None, 0, 0),
        (2, 0, "I", "c2", 0, "user", "other", None, 0, 1),
    ]), 0)

    def plan():
        return eng.read_final()._jdf.queryExecution().executedPlan().toString()

    assert "Exchange" not in plan()
    eng.apply_epoch(make_events(spark, [
        (3, 1, "U", "c1", 0, "user", "hello again", None, 0, 2),
    ]), 1)
    assert "Exchange" in plan()
    assert rows_of(eng.read_final()) == {
        ("c1", 0): ("user", "hello again", None),
        ("c2", 0): ("user", "other", None),
    }
