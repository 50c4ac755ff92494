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

from crba_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


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
