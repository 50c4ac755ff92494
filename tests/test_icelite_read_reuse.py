"""The live read pins one manifest and keeps the relation it built from
it (``IceliteTable.read``): a read of an unchanged snapshot returns the
same ``DataFrame`` after one ``CURRENT`` and one manifest read, and any
change to the manifest — a commit, a compaction, a rebucket, another
writer, a table re-created at the same root — is seen by the next read.
A read never mixes two snapshots, even when ``CURRENT`` moves while it
is being planned."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql.readwriter import DataFrameReader

from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark.icelite import IceliteTable, LocalManifestIO
from crba_etl_spark.schema import TRANSCRIPT

KEYS = ["conv_id", "turn_idx", "ts"]


class CountingIO(LocalManifestIO):
    """Counts pointer and manifest reads."""

    def __init__(self, root):
        super().__init__(root)
        self.current_reads = 0
        self.manifest_reads = 0

    def read_current(self):
        self.current_reads += 1
        return super().read_current()

    def read_manifest(self, name):
        self.manifest_reads += 1
        return super().read_manifest(name)


class StaleCurrentIO(LocalManifestIO):
    """``CURRENT`` names ``stale`` for the first ``n`` reads and the live
    snapshot after: a commit that lands while a read is being planned."""

    def __init__(self, root, stale, n):
        super().__init__(root)
        self.stale, self.n = stale, n

    def read_current(self):
        if self.n > 0:
            self.n -= 1
            return self.stale
        return super().read_current()


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reuse"))
    generate_stream(d, StreamSpec(seed=3, n_events=2000, n_epochs=3))
    return d


def oracle_upto(stream, epochs, tmp):
    """``oracle_final`` over only the given epochs of ``stream``."""
    d = os.path.join(tmp, "oracle-" + "-".join(map(str, epochs)))
    for k in epochs:
        shutil.copytree(
            os.path.join(stream, f"epoch={k}"), os.path.join(d, f"epoch={k}"),
            dirs_exist_ok=True,
        )
    return oracle_final(d)


def assert_oracle(df, exp):
    got = df.toPandas()[list(exp.columns)]
    pd.testing.assert_frame_equal(
        got.sort_values(KEYS).reset_index(drop=True),
        exp.sort_values(KEYS).reset_index(drop=True),
        check_dtype=False,
    )


def read_files(df, table):
    """The read's input files, and the live snapshot's files, by name."""
    return (
        sorted(os.path.basename(f) for f in df.inputFiles()),
        sorted(os.path.basename(f) for f in table.data_files()),
    )


def test_unchanged_snapshot_reuses_the_relation(spark, stream, tmpdir_, monkeypatch):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=2)
    eng.replay(stream, epochs=[0, 1])
    first = eng.read_final()
    eng.table.io = io = CountingIO(eng.table.root)
    parquet_calls = []
    orig = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet",
        lambda self, *a, **kw: parquet_calls.append(a) or orig(self, *a, **kw),
    )
    again = eng.read_final()
    assert again is first
    assert (io.current_reads, io.manifest_reads) == (1, 1)
    assert parquet_calls == []
    assert_oracle(again, oracle_upto(stream, [0, 1], tmpdir_))


@pytest.mark.parametrize(
    "change", ["epoch", "compact", "rebucket", "second_engine", "recreate"]
)
def test_next_read_sees_the_change(spark, stream, tmpdir_, change):
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=2)
    eng.replay(stream, epochs=[0, 1])
    before = eng.read_final()
    epochs = [0, 1]
    if change == "epoch":
        eng.replay(stream, epochs=[2])
        epochs = [0, 1, 2]
    elif change == "compact":
        eng.compact()
        assert not any(eng.table.deltas().values())
    elif change == "rebucket":
        eng.table.rebucket(spark, 4)
    elif change == "second_engine":
        CDCEngine(spark, root, n_buckets=2).replay(stream, epochs=[2])
        epochs = [0, 1, 2]
    else:
        # the re-created table's second epoch commits under the manifest
        # name the kept read was built from
        name = eng.table.io.read_current()
        IceliteTable.create(root, TRANSCRIPT, n_buckets=2, overwrite=True)
        other = CDCEngine(spark, root, n_buckets=2)
        other.replay(stream, epochs=[1, 2])
        assert eng.table.io.read_current() == name
        epochs = [1, 2]
    after = eng.read_final()
    assert after is not before
    got, live = read_files(after, eng.table)
    assert got == live
    assert_oracle(after, oracle_upto(stream, epochs, tmpdir_))
    assert eng.read_final() is after


def test_version_read_keeps_its_version(spark, stream, tmpdir_):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=2)
    eng.replay(stream, epochs=[0])
    v = eng.table.snapshot()["version"]
    live = eng.read_final()
    eng.replay(stream, epochs=[1, 2])
    old = eng.table.read(spark, version=v)
    assert old is not live
    assert_oracle(old, oracle_upto(stream, [0], tmpdir_))
    assert_oracle(eng.table.read(spark, version=v), oracle_upto(stream, [0], tmpdir_))
    assert_oracle(eng.read_final(), oracle_upto(stream, [0, 1, 2], tmpdir_))


def test_new_session_gets_its_own_relation(spark, stream, tmpdir_):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=2)
    eng.replay(stream, epochs=[0])
    mine = eng.table.read(spark)
    other = spark.newSession()
    theirs = eng.table.read(other)
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert eng.table.read(other) is theirs
    assert eng.table.read(spark).sparkSession is spark
    assert sorted(theirs.collect()) == sorted(mine.collect())


@pytest.mark.parametrize("stale_reads", [1, 2, 3, 4])
def test_read_pins_one_snapshot_while_a_compaction_commits(
    spark, stream, tmpdir_, stale_reads
):
    """``CURRENT`` moves from the pre-compaction snapshot to the compacted
    one after ``stale_reads`` pointer reads. Whichever snapshot the read
    pins, it must resolve that snapshot's own files: the pre-compaction
    deltas resolved, never those deltas paired with the compacted
    snapshot's "no key occurs twice"."""
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=2)
    eng.replay(stream, epochs=[0, 1, 2])
    pre = eng.table.io.read_current()
    eng.compact()
    assert eng.table.io.read_current() != pre
    table = IceliteTable(root, io=StaleCurrentIO(root, pre, stale_reads))
    assert_oracle(table.read(spark), oracle_upto(stream, [0, 1, 2], tmpdir_))
