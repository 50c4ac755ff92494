"""The live read pins one manifest and keeps the relation it built from
it (``IceliteTable.read``): a read of an unchanged snapshot returns the
same ``DataFrame`` after one ``CURRENT`` and one manifest read, and any
change to the manifest — a commit, a compaction, a rebucket, another
writer, a table re-created at the same root — is seen by the next read.
A read never mixes two snapshots, even when ``CURRENT`` moves while it
is being planned, and an epoch's apply is decided against one snapshot."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameReader

from conftest import (
    CountingIO,
    assert_oracle,
    local_relation_threshold,
    oracle_upto,
    read_path,
)
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream
from crba_etl_spark.icelite import IceliteTable, LocalManifestIO
from crba_etl_spark.schema import TRANSCRIPT


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


def read_files(df, table):
    """The read's input files, and the live snapshot's files, by name."""
    return (
        sorted(os.path.basename(f) for f in df.inputFiles()),
        sorted(os.path.basename(f) for f in table.data_files()),
    )


@pytest.fixture()
def file_reads(monkeypatch):
    """Counts the parquet files opened with pyarrow and the
    ``DataFrameReader.parquet`` calls made while the test runs."""
    calls = {"pyarrow": 0, "spark": 0}
    parquet_file, parquet = pq.ParquetFile, DataFrameReader.parquet

    def counting_file(*a, **kw):
        calls["pyarrow"] += 1
        return parquet_file(*a, **kw)

    def counting_parquet(self, *a, **kw):
        calls["spark"] += 1
        return parquet(self, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting_file)
    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    return calls


def assert_reused(eng, file_reads, built):
    """The first read builds its relation with the ``built`` file reads;
    the next returns it after one ``CURRENT`` and one manifest read and
    reads no file."""
    file_reads.update(pyarrow=0, spark=0)
    first = eng.read_final()
    assert file_reads == built
    file_reads.update(pyarrow=0, spark=0)
    eng.table.io = io = CountingIO(eng.table.root)
    again = eng.read_final()
    assert again is first
    assert (io.current_reads, io.manifest_reads) == (1, 1)
    assert file_reads == {"pyarrow": 0, "spark": 0}
    return again


def test_unchanged_snapshot_reuses_the_relation(spark, stream, tmpdir_, file_reads):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=2)
    eng.replay(stream, epochs=[0, 1])
    # a small snapshot resolves on the driver: one pyarrow read per file
    n_files = len(eng.table.data_files())
    again = assert_reused(eng, file_reads, {"pyarrow": n_files, "spark": 0})
    assert_oracle(again, oracle_upto(stream, [0, 1], tmpdir_))


def test_unchanged_spark_relation_is_reused(
    spark, stream, tmpdir_, file_reads, spark_relation_reads
):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=2)
    eng.replay(stream, epochs=[0, 1])
    again = assert_reused(eng, file_reads, {"pyarrow": 0, "spark": 1})
    assert_oracle(again, oracle_upto(stream, [0, 1], tmpdir_))


@pytest.mark.parametrize(
    "change", ["epoch", "compact", "rebucket", "second_engine", "recreate"]
)
def test_next_read_sees_the_change(spark, stream, tmpdir_, change, spark_relation_reads):
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


@pytest.mark.parametrize(
    "stale_reads, threshold",
    # the ids [1]..[4] read through the Spark relation, as they did before
    # small reads resolved on the driver; [local-N] through the local path
    [pytest.param(n, "0", id=str(n)) for n in (1, 2, 3, 4)]
    + [pytest.param(n, None, id=f"local-{n}") for n in (1, 2, 3, 4)],
)
def test_read_pins_one_snapshot_while_a_compaction_commits(
    spark, stream, tmpdir_, stale_reads, threshold
):
    """``CURRENT`` moves from the pre-compaction snapshot to the compacted
    one after ``stale_reads`` pointer reads. Whichever snapshot the read
    pins, it must resolve that snapshot's own files: the pre-compaction
    deltas resolved, never those deltas paired with the compacted
    snapshot's "no key occurs twice". Both read paths take that decision
    from the pinned snapshot."""
    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=2)
    eng.replay(stream, epochs=[0, 1, 2])
    pre = eng.table.io.read_current()
    eng.compact()
    assert eng.table.io.read_current() != pre
    table = IceliteTable(root, io=StaleCurrentIO(root, pre, stale_reads))
    with local_relation_threshold(spark, threshold):
        df = table.read(spark)
    assert read_path(df) == ("spark" if threshold == "0" else "local")
    assert_oracle(df, oracle_upto(stream, [0, 1, 2], tmpdir_))


def test_mor_epoch_pins_one_snapshot(spark, stream, tmpdir_):
    """One MOR ``replay(epochs=[k])`` reads the manifest once for its
    skip check, applied-file set, exchange width and apply. Its other
    reads are the commit's CAS base, the metrics lineage and the
    compaction check."""
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=2)
    eng.replay(stream, epochs=[0])
    eng.table.io = io = CountingIO(eng.table.root)
    assert eng.replay(stream, epochs=[1])["epochs_applied"] == [1]
    assert io.manifest_reads == 4
