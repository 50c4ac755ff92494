"""Round-2 hardening regressions:

1. streaming exactly-once when one epoch's files span micro-batches
   (maxFilesPerTrigger) — previously the first partial slice committed
   the epoch marker and later slices were silently dropped;
2. COW merge honors a table's custom key_cols (was hardwired to
   conv_id/turn_idx);
3. compaction quarantine write is crash-retry idempotent (overwrite into
   the version-named dir, not append).
"""

import os

import pandas as pd
from pyspark.sql import types as T

from conftest import make_events
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark.icelite import CURRENT, IceliteTable
from crba_etl_spark.operators.merge import merge_epoch
from crba_etl_spark.streaming.tail import stream_apply


def test_stream_partial_epochs_across_microbatches(spark, tmpdir_):
    d = os.path.join(tmpdir_, "stream")
    # small rows_per_file => every epoch spans several files; with
    # maxFilesPerTrigger=1 each micro-batch carries a FRACTION of an epoch
    generate_stream(
        d,
        StreamSpec(seed=7, n_events=3000, n_epochs=3, evolve_epoch=None,
                   rows_per_file=300),
    )
    for k in range(3):
        n_files = len([f for f in os.listdir(os.path.join(d, f"epoch={k}"))
                       if f.endswith(".parquet")])
        assert n_files >= 2, "fixture must split epochs across files"

    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=4, mode="mor")
    q = stream_apply(
        spark, eng, d, checkpoint_dir=os.path.join(tmpdir_, "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(timeout=600)

    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(d).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # slices were the idempotence unit
    assert eng.table.committed_slices()
    # cumulative applied-file tracking across slices: once the union of
    # slices covered the producer's _DONE declaration, every epoch was
    # marked complete (round-2 ADVICE: single-slice comparison could
    # never complete an epoch spanning micro-batches, so batch replay
    # re-applied it redundantly)
    assert eng.table.committed_epochs() == {0, 1, 2}
    # completeness bookkeeping is dropped once the epoch id subsumes it
    assert eng.table.epoch_files() == {}
    # a later batch replay therefore skips everything
    r = eng.replay(d)
    assert r["epochs_applied"] == [] and r["epochs_skipped"] == [0, 1, 2]

    # redeliver with a fresh checkpoint: identical batching → all slices
    # skip; state unchanged either way (apply is state-idempotent)
    q2 = stream_apply(
        spark, eng, d, checkpoint_dir=os.path.join(tmpdir_, "ckpt2"),
        max_files_per_trigger=1,
    )
    q2.awaitTermination(timeout=600)
    got2 = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, exp, check_dtype=False)


def test_cow_merge_honors_custom_key_cols(spark, tmpdir_):
    root = os.path.join(tmpdir_, "kv")
    schema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("v", T.StringType(), True),
    ])
    table = IceliteTable.create(root, schema, n_buckets=4, key_cols=["id"])

    def batch(rows):
        return spark.createDataFrame(rows, "id string, v string, op string, lsn long")

    merge_epoch(spark, table, batch([("a", "v1", "I", 1), ("b", "v2", "I", 2)]), 0)
    merge_epoch(spark, table, batch([("a", "v9", "U", 5), ("c", "v3", "I", 6)]), 1)
    got = {(r.id, r.v) for r in table.read(spark).collect()}
    assert got == {("a", "v9"), ("b", "v2"), ("c", "v3")}


def test_compact_quarantine_crash_retry_is_idempotent(spark, tmpdir_):
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=4, mode="mor", quarantine="lazy")
    eng.apply_epoch(make_events(spark, [
        (10, 0, "I", "c1", 0, "user", "v10", None, 0, 0),
    ]), 0)
    eng.apply_epoch(make_events(spark, [
        (5, 1, "U", "c1", 0, "user", "stale5", None, 0, 1),
    ]), 1)

    current_path = os.path.join(root, CURRENT)
    with open(current_path) as f:
        before = f.read()
    eng.compact()
    # simulate a crash BETWEEN the quarantine write and the snapshot
    # commit: roll CURRENT back so the retry recomputes the same version
    with open(current_path, "w") as f:
        f.write(before)
    eng.table.compact(
        spark, quarantine_dir=os.path.join(root, "quarantine")
    )
    q = spark.read.parquet(os.path.join(root, "quarantine") + "/*")
    rows = [(r.lsn, r.conv_id, r.turn_idx) for r in q.collect()]
    assert sorted(rows) == [(5, "c1", 0)]  # exactly once, not duplicated
