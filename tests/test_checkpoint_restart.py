"""Checkpoint-restart determinism (north_rule: resumable from any
checkpoint): kill between epochs -> resume -> identical final state;
crash between data write and pointer rename -> recovery converges."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crba_etl_spark.checkpoint import resume, resume_point
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark.icelite import BUCKET_COL, bucket_expr, cluster_by_bucket
from crba_etl_spark.operators.dedup import reduce_batch


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream"))
    generate_stream(d, StreamSpec(seed=11, n_events=5000, n_epochs=5, evolve_epoch=3))
    return d


@pytest.mark.parametrize("mode", ["mor", "cow"])
@pytest.mark.parametrize("kill_after", [0, 2])
def test_restart_between_epochs(spark, stream, tmpdir_, mode, kill_after):
    root = os.path.join(tmpdir_, f"{mode}{kill_after}")
    e1 = CDCEngine(spark, root, n_buckets=8, mode=mode)
    e1.replay(stream, epochs=list(range(kill_after + 1)))
    del e1  # "crash": nothing survives but disk
    e2 = CDCEngine(spark, root, n_buckets=8, mode=mode)
    assert resume_point(root, stream) == list(range(kill_after + 1, 5))
    resume(e2, stream)
    got = (
        e2.read_final().orderBy("conv_id", "turn_idx", "ts").toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_crash_between_write_and_rename(spark, stream, tmpdir_):
    """Data files written but CURRENT not swapped: readers see the old
    snapshot; recovery rewrites the orphan dir and converges."""
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=8, mode="mor")
    eng.replay(stream, epochs=[0, 1])
    snap_before = eng.table.snapshot()

    red = reduce_batch(spark.read.parquet(os.path.join(stream, "epoch=2")))
    partial = cluster_by_bucket(
        red.withColumn(BUCKET_COL, bucket_expr(8))
        .withColumn("__lsn", F.col("lsn"))
        .withColumn("__deleted", F.col("op") == "D")
        .drop("op", "lsn", "epoch", "ingest_ts"),
        8,
    )
    eng.table.write_merged(partial, epoch=2, version=snap_before["version"] + 1)
    # CRASH: no commit happened
    assert eng.table.snapshot() == snap_before
    assert 2 not in eng.table.committed_epochs()

    e2 = CDCEngine(spark, root, n_buckets=8, mode="mor")
    resume(e2, stream)
    got = (
        e2.read_final().orderBy("conv_id", "turn_idx", "ts").toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
