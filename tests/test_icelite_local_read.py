"""Small reads resolve on the driver (``IceliteTable.read``). Under the
session's ``spark.sql.execution.arrow.localRelationThreshold``, capped
at ``icelite.LOCAL_READ_MAX_BYTES``, a read is a ``LocalRelation`` over
the snapshot's files read with pyarrow and resolved to the max-``__lsn``
row per key; at or over it, on the files' on-disk bytes, their footers'
uncompressed bytes or their decoded Arrow bytes, it is the Spark
relation over the stored files. Both paths return the same rows."""

import os
import uuid
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import (
    assert_oracle,
    local_relation_threshold,
    make_events,
    oracle_upto,
    read_path,
)
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark import icelite
from crba_etl_spark.icelite import IceliteTable
from crba_etl_spark.operators.diff import diff_summary, snapshot_diff
from crba_etl_spark.operators.merge import apply_delta_epoch


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    """Three epochs; the ``tool`` column arrives in epoch 1."""
    d = str(tmp_path_factory.mktemp("local-read"))
    generate_stream(d, StreamSpec(seed=5, n_events=1500, n_epochs=3, evolve_epoch=1))
    return d


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"local-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def both_paths(spark, read):
    """``read()`` at Spark's default threshold and at 0: the first takes
    the local path, the second the Spark relation, and both return the
    same schema and rows. Returns the local read."""
    with local_relation_threshold(spark, None):
        local = read()
    with local_relation_threshold(spark, "0"):
        remote = read()
    assert (read_path(local), read_path(remote)) == ("local", "spark")
    assert local.schema == remote.schema
    assert Counter(map(repr, local.collect())) == Counter(map(repr, remote.collect()))
    return local


def live(spark, root):
    """A live read through a fresh table handle (no kept relation)."""
    return lambda: IceliteTable(root).read(spark)


def events_table(spark, tmp, epochs, n_buckets=2):
    """Apply each epoch's ``make_events`` rows to a MOR engine and write
    them under ``tmp/events/epoch=<k>`` too; returns the table root and
    ``oracle_final`` over those events."""
    root, events = os.path.join(tmp, "t"), os.path.join(tmp, "events")
    eng = CDCEngine(spark, root, n_buckets=n_buckets)
    for k, rows in enumerate(epochs):
        ev = make_events(spark, rows)
        ev.write.parquet(os.path.join(events, f"epoch={k}"))
        eng.apply_epoch(ev, k)
    exp = oracle_final(events)
    # DuckDB returns Spark's INT96 as microseconds; toPandas gives ns
    exp["ts"] = exp["ts"].astype("datetime64[ns]")
    return root, exp


def keyed_table(spark, tmp, schema, key_cols, batches):
    """A MOR table keyed by ``key_cols``, one reduced batch per epoch
    (payload + ``op`` + ``lsn``), applied through ``apply_delta_epoch``."""
    root = os.path.join(tmp, "t")
    table = IceliteTable.create(root, spark.createDataFrame([], schema).schema, 2, key_cols)
    for k, rows in enumerate(batches):
        batch = spark.createDataFrame(rows, schema + ", op string, lsn long")
        apply_delta_epoch(spark, table, batch, k)
    return root


def case_column_added(spark, tmp, stream):
    root = os.path.join(tmp, "t")
    CDCEngine(spark, root, n_buckets=2).replay(stream)
    assert_oracle(both_paths(spark, live(spark, root)), oracle_upto(stream, [0, 1, 2], tmp))


def case_deletes(spark, tmp, stream):
    root, exp = events_table(spark, tmp, [
        [(1, 0, "I", "c1", 0, "user", "a", None, 0, 0),
         (2, 0, "I", "c2", 0, "user", "b", None, 1, 1)],
        # a D of a stored key and a D of an absent key
        [(3, 1, "D", "c1", 0, "user", None, None, 2, 2),
         (4, 1, "D", "c9", 0, "user", None, None, 3, 3)],
        # a straggling lower-LSN insert cannot resurrect the absent key
        [(3, 2, "I", "c9", 0, "user", "late", None, 4, 4),
         (5, 2, "U", "c2", 0, "user", "b2", None, 5, 5)],
    ])
    got = both_paths(spark, live(spark, root))
    assert_oracle(got, exp)
    assert [(r.conv_id, r.text) for r in got.collect()] == [("c2", "b2")]


def case_equal_lsn_redelivery(spark, tmp, stream):
    row = (7, 0, "I", "c1", 0, "user", "same", "t", 0, 0)
    root, exp = events_table(spark, tmp, [
        [row],
        [(7, 1, *row[2:]), (8, 1, "I", "c2", 0, "user", "x", None, 1, 1)],
    ], n_buckets=1)
    assert len(IceliteTable(root).snapshot()["deltas"]["0"]) == 2
    got = both_paths(spark, live(spark, root))
    assert_oracle(got, exp)
    assert got.count() == 2


def case_session_time_zone(spark, tmp, stream):
    """Spark stores ``TimestampType`` as UTC instants; both paths read the
    same instants under a session time zone that is not UTC."""
    root = os.path.join(tmp, "t")
    CDCEngine(spark, root, n_buckets=2).replay(stream, epochs=[0, 1])
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = both_paths(spark, live(spark, root))
        micros = got.select(F.unix_micros("ts").alias("us")).toPandas()["us"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    exp = oracle_upto(stream, [0, 1], tmp)["ts"].dropna().astype("datetime64[us]")
    assert sorted(micros.dropna().astype("int64")) == sorted(exp.astype("int64"))


def case_null_text(spark, tmp, stream):
    root, exp = events_table(spark, tmp, [
        [(1, 0, "I", "c1", 0, "user", None, None, None, 0),
         (2, 0, "I", "c2", 0, "user", "text", "t", 1, 1)],
        [(3, 1, "U", "c2", 0, None, None, None, None, 2),
         (4, 1, "U", "c1", 0, "user", "now text", None, 2, 3)],
    ])
    got = both_paths(spark, live(spark, root))
    assert_oracle(got, exp)
    assert {r.conv_id: r.text for r in got.collect()} == {"c1": "now text", "c2": None}


def case_integer_key(spark, tmp, stream):
    big = 2**62
    root = keyed_table(spark, tmp, "id bigint, v string", ["id"], [
        [(-3, "a", "I", 1), (big, "b", "I", 2), (0, "c", "I", 3)],
        [(-3, "a2", "U", 4), (big, None, "D", 5)],
        [(0, "c2", "U", 6), (7, "d", "I", 7)],
    ])
    got = both_paths(spark, live(spark, root))
    assert {(r.id, r.v) for r in got.collect()} == {(-3, "a2"), (0, "c2"), (7, "d")}


def case_custom_key(spark, tmp, stream):
    root = keyed_table(spark, tmp, "tenant string, seq int, body string", ["tenant", "seq"], [
        [("x", 1, "x1", "I", 1), ("x", 2, "x2", "I", 2), ("y", 1, "y1", "I", 3)],
        [("x", 2, "x2b", "U", 4), ("y", 1, None, "D", 5), ("y", 2, "y2", "I", 6)],
    ])
    got = both_paths(spark, live(spark, root))
    assert {tuple(r) for r in got.collect()} == {
        ("x", 1, "x1"), ("x", 2, "x2b"), ("y", 2, "y2"),
    }


def case_compacted(spark, tmp, stream):
    root = os.path.join(tmp, "t")
    eng = CDCEngine(spark, root, n_buckets=2)
    eng.replay(stream, epochs=[0, 1])
    eng.compact()
    eng.replay(stream, epochs=[2])
    snap = eng.table.snapshot()
    assert any(snap["files"].values()) and any(snap["deltas"].values())
    assert_oracle(both_paths(spark, live(spark, root)), oracle_upto(stream, [0, 1, 2], tmp))


def case_rebucketed(spark, tmp, stream):
    root = os.path.join(tmp, "t")
    eng = CDCEngine(spark, root, n_buckets=2)
    eng.replay(stream, epochs=[0, 1])
    eng.table.rebucket(spark, 4)
    eng.replay(stream, epochs=[2])
    assert eng.table.snapshot()["n_buckets"] == 4
    assert_oracle(both_paths(spark, live(spark, root)), oracle_upto(stream, [0, 1, 2], tmp))


def case_version(spark, tmp, stream):
    root = os.path.join(tmp, "t")
    eng = CDCEngine(spark, root, n_buckets=2)
    eng.replay(stream, epochs=[0, 1])
    v = eng.table.snapshot()["version"]
    eng.compact()
    eng.replay(stream, epochs=[2])
    got = both_paths(spark, lambda: IceliteTable(root).read(spark, version=v))
    assert_oracle(got, oracle_upto(stream, [0, 1], tmp))


def case_diff(spark, tmp, stream):
    root = os.path.join(tmp, "t")
    eng = CDCEngine(spark, root, n_buckets=2)
    eng.replay(stream, epochs=[0, 1])
    v = eng.table.snapshot()["version"]
    eng.replay(stream, epochs=[2])
    got = both_paths(spark, lambda: snapshot_diff(spark, IceliteTable(root), v))
    old = oracle_upto(stream, [0, 1], tmp).set_index(["conv_id", "turn_idx"])
    new = oracle_upto(stream, [0, 1, 2], tmp).set_index(["conv_id", "turn_idx"])
    both = old.index.intersection(new.index)
    cols = ["role", "text", "tool", "ts"]
    changed = (
        old.loc[both, cols].fillna("<null>").astype(str)
        != new.loc[both, cols].fillna("<null>").astype(str)
    ).any(axis=1)
    assert diff_summary(got) == {
        "added": len(new.index.difference(old.index)),
        "dropped": len(old.index.difference(new.index)),
        "changed": int(changed.sum()),
    }


CASES = {
    "column_added": case_column_added,
    "deletes": case_deletes,
    "equal_lsn_redelivery": case_equal_lsn_redelivery,
    "session_time_zone": case_session_time_zone,
    "null_text": case_null_text,
    "integer_key": case_integer_key,
    "custom_key": case_custom_key,
    "compacted": case_compacted,
    "rebucketed": case_rebucketed,
    "version": case_version,
    "diff": case_diff,
}


@pytest.mark.parametrize("case", list(CASES))
def test_read_paths_return_equal_rows(spark, stream, tmpdir_, case):
    CASES[case](spark, tmpdir_, stream)


def test_point_lookup_on_a_small_live_read_runs_no_job(spark, stream, tmpdir_):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=2)
    eng.replay(stream)
    df, jobs = count_jobs(spark, eng.read_final)
    assert read_path(df) == "local" and jobs == 0
    hot = oracle_final(stream)["conv_id"].value_counts().index[0]
    rows, jobs = count_jobs(spark, lambda: df.filter(F.col("conv_id") == hot).collect())
    assert rows and jobs == 0
    _, jobs = count_jobs(
        spark, lambda: df.agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect()
    )
    assert jobs <= 2


def test_threshold_change_rebuilds_the_live_read(spark, stream, tmpdir_):
    table = IceliteTable(os.path.join(tmpdir_, "t"))
    CDCEngine(spark, table.root, n_buckets=2).replay(stream, epochs=[0])
    with local_relation_threshold(spark, None):
        local = table.read(spark)
        assert read_path(local) == "local" and table.read(spark) is local
    with local_relation_threshold(spark, "0"):
        remote = table.read(spark)
        assert read_path(remote) == "spark" and table.read(spark) is remote
    with local_relation_threshold(spark, None):
        assert read_path(table.read(spark)) == "local"


@pytest.mark.parametrize("check", ["file_bytes", "footer_bytes", "arrow_bytes", "cap"])
def test_read_over_the_threshold_is_the_spark_relation(
    spark, tmpdir_, monkeypatch, check
):
    """Each size check sends the read to the Spark relation: a limit at
    the files' on-disk bytes fails the first before any file is opened;
    one at their footers' uncompressed bytes fails the second before any
    row is decoded; one just above those fails the third on the decoded
    rows, since one long text repeated in every row is dictionary-encoded
    on disk. ``cap`` puts ``LOCAL_READ_MAX_BYTES`` there instead, with
    Spark's threshold at its default."""
    text = "the quick brown fox jumps over the lazy dog " * 100
    rows = [(1 + i, 0, "I", f"c{i}", 0, "user", text, None, 0, 0) for i in range(200)]
    rows2 = [(1000 + i, 1, "U", f"c{i}", 0, "user", text, None, 1, 1) for i in range(0, 200, 2)]
    root, exp = events_table(spark, tmpdir_, [rows, rows2])
    paths = IceliteTable(root).data_files()
    disk = sum(os.path.getsize(p) for p in paths)
    footer = sum(
        f.metadata.row_group(i).total_byte_size
        for f in map(pq.ParquetFile, paths)
        for i in range(f.num_row_groups)
    )
    decoded = sum(pq.ParquetFile(p).read().nbytes for p in paths)
    assert disk < footer and 2 * footer < decoded < icelite.LOCAL_READ_MAX_BYTES
    opened, decoded_files = [], []
    parquet_file, read = pq.ParquetFile, pq.ParquetFile.read
    monkeypatch.setattr(
        pq, "ParquetFile", lambda *a, **kw: opened.append(a) or parquet_file(*a, **kw)
    )
    monkeypatch.setattr(
        parquet_file, "read", lambda f, *a, **kw: decoded_files.append(f) or read(f, *a, **kw)
    )
    limit = {"file_bytes": disk, "footer_bytes": footer}.get(check, footer + 1)
    if check == "cap":
        monkeypatch.setattr(icelite, "LOCAL_READ_MAX_BYTES", limit)
    with local_relation_threshold(spark, None if check == "cap" else str(limit)):
        df = IceliteTable(root).read(spark)
    assert read_path(df) == "spark"
    assert bool(opened) == (check != "file_bytes")
    assert bool(decoded_files) == (check in ("arrow_bytes", "cap"))
    assert_oracle(df, exp)
