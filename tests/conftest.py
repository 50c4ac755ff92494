import contextlib
import os
import shutil
import sys
import tempfile

import pytest

#: repository root, so the package imports from any checkout location
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: driver heap of every test JVM (the session fixture's, and the CLI and
#: spark-submit subprocesses', which inherit the environment): get_spark
#: defaults to 48g, more than a small shared host can back. An explicit
#: SPARK_DRIVER_MEM wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")

from crba_etl_spark.icelite import LocalManifestIO  # noqa: E402
from crba_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


#: Spark's size limit for building a ``LocalRelation`` from Arrow data;
#: ``IceliteTable.read`` resolves a snapshot on the driver only under it
LOCAL_RELATION_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


@contextlib.contextmanager
def local_relation_threshold(spark, value):
    """Set the session's Arrow local-relation threshold for the block
    (``None``: Spark's default), then restore it."""
    old = spark.conf.get(LOCAL_RELATION_THRESHOLD)
    if value is None:
        spark.conf.unset(LOCAL_RELATION_THRESHOLD)
    else:
        spark.conf.set(LOCAL_RELATION_THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(LOCAL_RELATION_THRESHOLD, old)


def read_path(df):
    """Which path built an ``IceliteTable.read``: ``"spark"`` when its plan
    scans the stored files, ``"local"`` for a driver-resolved
    ``LocalRelation``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "FileScan" in plan:
        return "spark"
    assert "LocalTableScan" in plan, plan
    return "local"


@pytest.fixture()
def spark_relation_reads(spark):
    """``IceliteTable.read`` builds the Spark relation over the stored
    files (the threshold at 0), for tests that inspect its plan."""
    with local_relation_threshold(spark, "0"):
        yield


@pytest.fixture()
def tmpdir_():
    d = tempfile.mkdtemp(prefix="crba_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def make_events(spark, rows, with_tool=True):
    """rows: list of (lsn, epoch, op, conv_id, turn_idx, role, text, tool, ts_s, ingest_s)"""
    import datetime as dt

    from crba_etl_spark.schema import CHANGE_EVENT, CHANGE_EVENT_V0

    base = dt.datetime(2025, 1, 1)
    data = []
    for lsn, epoch, op, cid, tix, role, text, tool, ts_s, ing_s in rows:
        rec = [
            lsn,
            epoch,
            op,
            cid,
            tix,
            role,
            text,
        ]
        if with_tool:
            rec.append(tool)
        rec += [
            base + dt.timedelta(seconds=ts_s) if ts_s is not None else None,
            base + dt.timedelta(seconds=ing_s) if ing_s is not None else None,
        ]
        data.append(tuple(rec))
    schema = CHANGE_EVENT if with_tool else CHANGE_EVENT_V0
    return spark.createDataFrame(data, schema)


def stored_rows(index, batch):
    """A change batch's rows as the apply body hands them to the band
    index's epoch hook (``band_index.EpochAux.columns``): key columns,
    text and ``__deleted``, as Arrow."""
    from pyspark.sql import functions as F

    return batch.select(
        *index.table.key_cols(),
        index.text_col,
        (F.col("op") == "D").alias("__deleted"),
    ).toArrow()


class FixedAux:
    """An apply aux hook (the ``band_index.EpochAux`` protocol) that
    records fixed ``aux_add`` entries: it reads only ``__deleted``, which
    every stored file holds, and counts its calls."""

    columns = ["__deleted"]

    def __init__(self, entries):
        self.entries = entries
        self.calls = 0

    def __call__(self, rows):
        self.calls += 1
        return self.entries


#: sort order of a final-state frame for comparison with ``oracle_final``
ORACLE_KEYS = ["conv_id", "turn_idx", "ts"]


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


def oracle_upto(stream, epochs, tmp):
    """``oracle_final`` over only the given epochs of ``stream``."""
    from crba_etl_spark.gen import oracle_final

    d = os.path.join(tmp, "oracle-" + "-".join(map(str, epochs)))
    for k in epochs:
        shutil.copytree(
            os.path.join(stream, f"epoch={k}"), os.path.join(d, f"epoch={k}"),
            dirs_exist_ok=True,
        )
    return oracle_final(d)


def assert_oracle(df, exp):
    """``df`` holds exactly the rows of the oracle frame ``exp``."""
    import pandas as pd

    got = df.toPandas()[list(exp.columns)]
    pd.testing.assert_frame_equal(
        got.sort_values(ORACLE_KEYS).reset_index(drop=True),
        exp.sort_values(ORACLE_KEYS).reset_index(drop=True),
        check_dtype=False,
    )
