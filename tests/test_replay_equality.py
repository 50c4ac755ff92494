"""Full-replay final-state equality vs the independent DuckDB oracle —
the north-rule acceptance check (per-turn text equality under stable
(conv_id, turn_idx, ts) ordering), mirroring the reference's cross-run
final-file diff (/root/reference/validation/comparison_of_final_files/
compare_two_final_csvs.py:3 (size=10834))."""

import os

import pandas as pd
import pytest

from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream"))
    generate_stream(d, StreamSpec(seed=42, n_events=8000, n_epochs=4, evolve_epoch=2))
    return d


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_replay_matches_oracle(spark, stream, tmpdir_, mode):
    eng = CDCEngine(spark, os.path.join(tmpdir_, mode), n_buckets=8, mode=mode)
    res = eng.replay(stream)
    assert res["epochs_applied"] == [0, 1, 2, 3]
    got = (
        eng.read_final()
        .orderBy("conv_id", "turn_idx", "ts")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_mor_compaction_preserves_state(spark, stream, tmpdir_):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor")
    eng.replay(stream)
    exp = oracle_final(stream).reset_index(drop=True)
    eng.table.compact(spark)
    assert not any(eng.table.deltas().values())
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # dropping tombstones past the horizon also preserves the live view
    eng.table.compact(spark, drop_tombstones=True)
    got2 = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, exp, check_dtype=False)


