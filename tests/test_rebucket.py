"""Bucket-count evolution (icelite.rebucket): rewrite the table under a
new bucket count without losing resolution state — the operational move
when a table outgrows its bucket count (bucket count caps apply
parallelism; the apply path's single-exchange alignment requires ONE
bucket function table-wide)."""

import os

import pandas as pd

from conftest import make_events
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark.icelite import bucket_expr

from pyspark.sql import functions as F


def test_rebucket_preserves_state_and_serves_new_applies(spark, tmpdir_):
    stream = os.path.join(tmpdir_, "s")
    generate_stream(
        stream, StreamSpec(seed=13, n_events=4000, n_epochs=4, evolve_epoch=2)
    )
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode="mor")
    eng.replay(stream, epochs=[0, 1])
    assert eng.table.deltas()  # MOR deltas exist pre-rebucket

    snap = eng.table.rebucket(spark, 16)
    assert snap["n_buckets"] == 16
    assert not any(snap["deltas"].values())  # rebucket folds deltas
    assert set(snap["committed_epochs"]) == {0, 1}  # markers carry over

    # layout really is the new bucket function: every stored row sits in
    # the file set of its computed 16-bucket id
    stored = eng.table.read_stored(spark)
    mism = stored.withColumn("_b", bucket_expr(16)).select("conv_id", "_b").distinct()
    for b in [r._b for r in mism.select("_b").distinct().collect()]:
        in_bucket = {
            r.conv_id
            for r in eng.table.read_stored(spark, buckets={int(b)})
            .select("conv_id").distinct().collect()
        }
        expect = {r.conv_id for r in mism.filter(F.col("_b") == b).collect()}
        assert expect <= in_bucket

    # epochs 2-3 (schema evolution included) apply against the new count
    eng2 = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=16, mode="mor")
    eng2.replay(stream)
    got = (
        eng2.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_rebucket_kill_and_resume(spark, tmpdir_):
    """Round-3 VERDICT #6: a chunked rebucket that dies mid-way must
    resume from its per-group progress markers — redoing ONLY the groups
    whose recorded base still matches nothing — instead of restarting
    the O(table) rewrite. The live table stays on the OLD bucketing (and
    stays readable/correct) until the single final swap commit; an
    expire_snapshots during the in-progress window must not collect the
    chunk dirs the progress record references."""
    stream = os.path.join(tmpdir_, "s")
    generate_stream(
        stream, StreamSpec(seed=17, n_events=4000, n_epochs=4, evolve_epoch=None)
    )
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor")
    eng.replay(stream, epochs=[0, 1, 2])
    t = eng.table
    before = (
        t.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )

    # crash on the 3rd commit: groups 1+2 of four (chunk=2 over 8 old
    # buckets) land their progress commits, group 3's does not
    calls = {"n": 0}
    orig = t.io.commit_atomic

    def dying(name, snap, expected_current):
        calls["n"] += 1
        if calls["n"] >= 3:
            raise RuntimeError("injected crash mid-rebucket")
        return orig(name, snap, expected_current)

    t.io.commit_atomic = dying
    try:
        import pytest

        with pytest.raises(RuntimeError, match="injected"):
            t.rebucket(spark, 32, chunk_old_buckets=2)
    finally:
        t.io.commit_atomic = orig

    snap = t.snapshot()
    assert snap["n_buckets"] == 8  # live table untouched by the crash
    prog = snap["rebucket_progress"]
    assert prog["to"] == 32 and len(prog["groups"]) == 2
    mid = (
        t.read(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(mid, before, check_dtype=False)

    # snapshot expiry during the in-progress window keeps the chunk dirs
    t.expire_snapshots(keep_last=1)
    for rec in prog["groups"].values():
        for fl in rec["new_files"].values():
            for f in fl:
                assert os.path.exists(os.path.join(t.root, f)), f

    # resume: only the two remaining groups are rewritten
    writes = {"n": 0}
    orig_wm = t.write_merged

    def counting(*a, **kw):
        writes["n"] += 1
        return orig_wm(*a, **kw)

    t.write_merged = counting
    try:
        snap2 = t.rebucket(spark, 32, chunk_old_buckets=2)
    finally:
        del t.write_merged
    assert writes["n"] == 2  # groups 3+4 only — the resume did not restart
    assert snap2["n_buckets"] == 32
    assert "rebucket_progress" not in snap2
    assert not any(snap2["deltas"].values())
    assert set(snap2["committed_epochs"]) == {0, 1, 2}

    # epoch 3 applies against the new count; final state == oracle
    eng2 = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=32, mode="mor")
    eng2.replay(stream)
    got = (
        eng2.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_rebucket_resume_redoes_groups_invalidated_by_writes(spark, tmpdir_):
    """Writes that land between a crashed rebucket and its resume change
    some old buckets' base (files+deltas); the resume must detect the
    mismatch via the recorded base and REDO those groups, so the swapped
    table contains the interleaved epoch's rows."""
    stream = os.path.join(tmpdir_, "s")
    generate_stream(
        stream, StreamSpec(seed=19, n_events=3000, n_epochs=3, evolve_epoch=None)
    )
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor")
    eng.replay(stream, epochs=[0, 1])
    t = eng.table

    calls = {"n": 0}
    orig = t.io.commit_atomic

    def dying(name, snap, expected_current):
        calls["n"] += 1
        if calls["n"] >= 2:  # let group 1 of 2 commit, die at the swap
            raise RuntimeError("injected crash")
        return orig(name, snap, expected_current)

    t.io.commit_atomic = dying
    try:
        import pytest

        with pytest.raises(RuntimeError, match="injected"):
            t.rebucket(spark, 16, chunk_old_buckets=4)
    finally:
        t.io.commit_atomic = orig
    assert len(t.snapshot()["rebucket_progress"]["groups"]) == 1

    # an epoch lands mid-rebucket; its delta commit must CARRY the
    # progress record through (not drop it)
    eng.replay(stream, epochs=[2])
    assert "rebucket_progress" in t.snapshot()

    snap2 = t.rebucket(spark, 16, chunk_old_buckets=4)
    assert snap2["n_buckets"] == 16
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_rebucket_concurrent_commit_not_lost(spark, tmpdir_):
    """Round-4 ADVICE (high): a commit landing between a group's base
    read and the final swap must NOT be silently overwritten. The old
    code re-snapshotted before the swap and CAS'd against that fresh
    version without revalidating any group's base — the swap then
    replaced the concurrent commit's files with rewrite output that
    never read them and dropped its deltas. The fix revalidates every
    group against the exact snapshot the swap CASes on, so the
    concurrent epoch's rows survive the rebucket."""
    stream = os.path.join(tmpdir_, "s")
    generate_stream(
        stream, StreamSpec(seed=23, n_events=3000, n_epochs=3, evolve_epoch=None)
    )
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode="mor")
    eng.replay(stream, epochs=[0, 1])
    t = eng.table

    # inject a concurrent writer: epoch 2 lands via a SECOND handle the
    # moment the (single) rebucket group finishes its rewrite — i.e.
    # after the group read its base, before any rebucket commit
    injected = {"done": False}
    orig_wm = t.write_merged

    def racing(df, epoch, version):
        files = orig_wm(df, epoch, version)
        if epoch == -2 and not injected["done"]:
            injected["done"] = True
            other = CDCEngine(
                spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode="mor"
            )
            st = other.replay(stream, epochs=[2])
            assert st["epochs_applied"] == [2]
        return files

    t.write_merged = racing
    try:
        snap = t.rebucket(spark, 8)
    finally:
        del t.write_merged

    assert injected["done"]
    assert snap["n_buckets"] == 8
    assert 2 in set(snap["committed_epochs"])  # marker carried through
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_rebucket_keeps_tombstones_blocking_resurrection(spark, tmpdir_):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=2, mode="mor")
    eng.apply_epoch(make_events(spark, [
        (5, 0, "I", "c1", 0, "user", "hello", None, 0, 0),
        (6, 0, "D", "c1", 0, None, None, None, 0, 1),
    ]), 0)
    eng.table.rebucket(spark, 8)
    # a straggling lower-LSN insert must still lose to the tombstone
    eng.apply_epoch(make_events(spark, [
        (3, 1, "I", "c1", 0, "user", "zombie", None, 0, 2),
    ]), 1)
    assert eng.read_final().count() == 0
