"""Additive schema evolution (SURVEY.md §1.3): the `tool` column (and any
new metadata column) appears mid-stream; old epochs read back with nulls;
type changes are rejected."""

import os

import pytest
from pyspark.sql import types as T

from conftest import make_events
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.operators.evolve import (
    SchemaEvolutionError,
    align_to,
    merge_schemas,
)
from crba_etl_spark.schema import TRANSCRIPT


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_tool_column_appears_mid_stream(spark, tmpdir_, mode):
    # start from the PRE-evolution table schema (no `tool` yet)
    pre = T.StructType([f for f in TRANSCRIPT.fields if f.name != "tool"])
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), payload_schema=pre, n_buckets=4, mode=mode
    )
    eng.apply_epoch(
        make_events(spark, [
            (1, 0, "I", "c1", 0, "user", "pre-evolution", None, 0, 0),
        ], with_tool=False),
        0,
    )
    assert "tool" not in eng.table.schema().fieldNames()
    # epoch 1 carries the new column
    eng.apply_epoch(
        make_events(spark, [
            (2, 1, "I", "c1", 1, "tool", "call", "tool_3", 60, 1),
        ], with_tool=True),
        1,
    )
    assert eng.table.schema().fieldNames() == [
        "conv_id", "turn_idx", "role", "text", "ts", "tool",
    ]
    got = {(r.conv_id, r.turn_idx): r.tool for r in eng.read_final().collect()}
    # old row projects to evolved schema with null tool
    assert got == {("c1", 0): None, ("c1", 1): "tool_3"}


def test_merge_schemas_rejects_type_change():
    a = T.StructType([T.StructField("x", T.StringType())])
    b = T.StructType([T.StructField("x", T.IntegerType())])
    with pytest.raises(SchemaEvolutionError):
        merge_schemas(a, b)


def test_align_to_adds_typed_nulls(spark):
    df = spark.createDataFrame([("a",)], "conv_id string")
    out = align_to(df, T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ]))
    assert out.schema["turn_idx"].dataType == T.IntegerType()
    assert out.collect()[0].turn_idx is None


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_mixed_epoch_replay_old_then_new(spark, tmpdir_, mode):
    """Replaying interleaved old-schema and new-schema epochs converges to
    the evolved schema with correct per-row values (the reference's
    union-of-editions combine, SET-UNION SURVEY.md §2.7)."""
    pre = T.StructType([f for f in TRANSCRIPT.fields if f.name != "tool"])
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), payload_schema=pre, n_buckets=4, mode=mode
    )
    eng.apply_epoch(make_events(spark, [
        (1, 0, "I", "c1", 0, "user", "a", None, 0, 0)], with_tool=False), 0)
    eng.apply_epoch(make_events(spark, [
        (2, 1, "I", "c2", 0, "tool", "b", "tool_1", 0, 1)], with_tool=True), 1)
    # an old-schema producer may still be running after evolution
    eng.apply_epoch(make_events(spark, [
        (3, 2, "I", "c3", 0, "user", "c", None, 0, 2)], with_tool=False), 2)
    rows = {
        (r.conv_id, r.turn_idx): (r.text, r.tool)
        for r in eng.read_final().collect()
    }
    assert rows == {
        ("c1", 0): ("a", None),
        ("c2", 0): ("b", "tool_1"),
        ("c3", 0): ("c", None),
    }


def test_replay_epoch_whose_files_disagree_on_schema(spark, tmpdir_):
    """One epoch's files can straddle the evolution point: the first file
    lacks `tool`, the second carries it. Replay must not read the whole
    epoch with the first file's footer schema, which would drop the
    column's values."""
    import glob
    import json
    import shutil

    pre = T.StructType([f for f in TRANSCRIPT.fields if f.name != "tool"])
    events = os.path.join(tmpdir_, "events", "epoch=0")
    os.makedirs(events)
    batches = [
        make_events(spark, [(1, 0, "I", "c1", 0, "user", "old", None, 0, 0)], with_tool=False),
        make_events(spark, [(2, 0, "I", "c2", 0, "user", "new", "search", 1, 1)]),
    ]
    for i, df in enumerate(batches):
        out = os.path.join(tmpdir_, f"w{i}")
        df.coalesce(1).write.parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        shutil.move(part, os.path.join(events, f"part-{i}.parquet"))
    with open(os.path.join(events, "_DONE"), "w") as f:
        json.dump({"files": ["part-0.parquet", "part-1.parquet"]}, f)

    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), payload_schema=pre, n_buckets=4
    )
    assert eng.replay(os.path.join(tmpdir_, "events"))["epochs_applied"] == [0]
    got = {r.conv_id: r.tool for r in eng.read_final().collect()}
    assert got == {"c1": None, "c2": "search"}
