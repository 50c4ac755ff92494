"""The dedup epoch's driver-side writes (band_index.py): the band rows and
the label delta the driver already holds are written with pyarrow, and
the files equal what the Spark writes of the same rows produce — same
rows, same ``__bpart`` directories, same parquet types — so the readers
(probe, candidates, the labels read) cannot tell them apart."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from conftest import make_events
from pyspark.sql import functions as F

from crba_etl_spark.band_index import (
    AUX_NAME,
    BAND_SCHEMA,
    LABELS_AUX,
    LABELS_SCHEMA,
    DedupLabels,
    _parquet_rows,
    ingest_documents,
    write_epoch_aux,
)
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.operators.graph import _local_frame

from test_band_index import _count_jobs, _template_docs
from test_driver_footprint import _batch, _docs


def _rows(spark, schema, root, files):
    paths = [os.path.join(root, p) for p in files]
    return Counter(
        tuple(r) for r in spark.read.schema(schema).parquet(*paths).collect()
    )


def _dirs(files):
    """Directory (below the tag dir) → number of files in it."""
    return Counter(os.path.dirname(p).split("/", 3)[3] for p in files)


def test_driver_band_files_equal_spark_write(spark, tmpdir_):
    """For one batch, the driver's band files and the Spark write of
    rows_for hold the same row multiset, in the same __bpart directories
    with one file per hit directory, with the same parquet types: INT32
    band_idx, INT64 __epoch, UTF8 strings, snappy."""
    docs = _docs(spark)
    table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), docs.limit(0), n_buckets=4
    )
    batch = _batch(docs)
    drv = index.write_epoch(index.batch_bands(batch, 1), "drv")
    spk = index.write_epoch(index.rows_for(batch, 1), "spk")

    want = _rows(spark, BAND_SCHEMA, table.root, spk)
    assert want and _rows(spark, BAND_SCHEMA, table.root, drv) == want
    assert sum(want.values()) == _parquet_rows(table.root, drv)
    assert _dirs(drv) == _dirs(spk)
    assert set(_dirs(drv).values()) == {1}
    assert all(d.startswith("__bpart=4-") for d in _dirs(drv))

    types = [
        ("doc_id", "BYTE_ARRAY", "String"),
        ("band_idx", "INT32", "None"),
        ("band_hash", "BYTE_ARRAY", "String"),
        ("__epoch", "INT64", "None"),
    ]
    for p in drv + spk:
        f = pq.ParquetFile(os.path.join(table.root, p))
        got = [(c.name, c.physical_type, str(c.logical_type)) for c in f.schema]
        assert got == types
        assert f.metadata.row_group(0).column(0).compression == "SNAPPY"


def test_driver_label_delta_equals_local_relation_write(spark, tmpdir_):
    """The label delta is an Arrow table in LABELS_SCHEMA; written from
    the driver it is one file equal to the Spark write of the same rows
    as a one-partition LocalRelation. From an empty index, the whole
    aux write runs one Spark job (the batch collect), with labels and
    for an index alone, and the band entry's rows_add equals its files'
    footer row count; the index-only band files hold the rows and
    __bpart directories of the Spark write of rows_for."""
    docs = _docs(spark)
    table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), docs.limit(0), n_buckets=4
    )
    labels = DedupLabels(table, index)
    batch = _batch(docs)
    delta = labels.delta_for_epoch(spark, batch, 1)
    assert delta.schema.names == LABELS_SCHEMA.names
    assert [str(t) for t in delta.schema.types] == ["string", "string", "int64"]
    drv = labels.write_epoch(delta, "drv")
    rows = [tuple(r.values()) for r in delta.to_pylist()]
    spk = labels.write_epoch(
        _local_frame(spark, LABELS_SCHEMA, rows).coalesce(1), "spk"
    )
    assert len(drv) == len(spk) == 1
    want = _rows(spark, LABELS_SCHEMA, table.root, spk)
    assert want and _rows(spark, LABELS_SCHEMA, table.root, drv) == want

    for lab in (labels, None):
        aux, jobs = _count_jobs(
            spark, lambda: write_epoch_aux(spark, index, lab, batch, 1)
        )
        assert jobs == 1
        band = aux[AUX_NAME]
        assert band["rows_add"] == _parquet_rows(table.root, band["files"]) > 0
        if lab is not None:
            label_files = aux[LABELS_AUX]["files"]
            assert _parquet_rows(table.root, label_files) == delta.num_rows
    assert LABELS_AUX not in aux
    spk = index.write_epoch(index.rows_for(batch, 1), "spk")
    assert _rows(spark, BAND_SCHEMA, table.root, band["files"]) == _rows(
        spark, BAND_SCHEMA, table.root, spk
    )
    assert _dirs(band["files"]) == _dirs(spk)


def test_probe_and_candidates_over_mixed_writers(spark, tmpdir_):
    """An index holding a Spark-written rebuild plus driver-written epochs
    answers probe and candidates exactly as the same index written by
    Spark alone."""
    docs = _template_docs(spark)
    first = docs.filter(F.col("doc_id").rlike("-[0-3]$|^s[0-5]$"))
    second = docs.filter(F.col("doc_id").rlike("-[4-6]$|^s[6-8]$"))
    new = docs.filter(F.col("doc_id").rlike("-[78]$|^s(9|1[01])$"))

    def build(name, dedup_labels):
        root = os.path.join(tmpdir_, name)
        table, index = ingest_documents(
            spark, root, first, n_buckets=4, dedup_labels=dedup_labels
        )
        index.rebuild(spark)
        ingest_documents(
            spark, root, second, epoch=1, table=table, dedup_labels=dedup_labels
        )
        return table, index

    mixed_table, mixed = build("mixed", True)
    _spark_table, spark_only = build("spark", False)
    names = {os.path.basename(p) for p in mixed.files()}
    assert "part-00000.snappy.parquet" in names and len(names) > 1

    bb = mixed.batch_bands(_batch(new), 2)
    bkeys = {f"{b}:{h}" for hs in bb.bands.values() for b, h in enumerate(hs)}
    bucket_of = DedupLabels(mixed_table, mixed)._bucket_of
    for cap in (None, 2):
        got = sorted(mixed.probe(bb, bkeys, cap, 5, bucket_of))
        assert got and got == sorted(spark_only.probe(bb, bkeys, cap, 5, bucket_of))

    def pairs(index):
        out = index.candidates(spark, new, max_bucket=2)
        return sorted(tuple(r) for r in out.collect())

    assert pairs(mixed) and pairs(mixed) == pairs(spark_only)


def test_crash_between_aux_write_and_commit_leaves_a_swept_orphan(
    spark, tmpdir_, monkeypatch
):
    """A failure after the driver wrote an epoch's band and label files
    but before the data commit leaves the snapshot as it was; the files
    sit in unreferenced per-attempt dirs, which expire_snapshots removes
    while the committed retry's files survive."""
    import crba_etl_spark.engine as engine

    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=2, dedup_labels=True)
    events = make_events(
        spark,
        [
            (1, 0, "I", "a", 0, "user", "the quick brown fox jumps over", None, 0, 0),
            (2, 0, "I", "b", 0, "user", "the quick brown fox jumps over!", None, 1, 1),
        ],
    )
    before = eng.table.snapshot()

    def crash(*_a, **_k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(engine, "apply_delta_epoch", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        eng.apply_epoch(events, 0)
    monkeypatch.undo()
    assert eng.table.snapshot() == before
    orphans = {
        f"index/{name}/{d}"
        for name in ("lsh", "dedup_labels")
        for d in os.listdir(os.path.join(root, "index", name))
    }
    assert {o.split("/")[1] for o in orphans} == {"lsh", "dedup_labels"}

    eng.apply_epoch(events, 0)
    aux = eng.table.aux()
    committed = aux[AUX_NAME]["files"] + aux[LABELS_AUX]["files"]
    assert committed and not any(p.startswith(tuple(orphans)) for p in committed)
    res = eng.table.expire_snapshots(keep_last=1, aux_min_age_s=0.0)
    assert orphans <= set(res["removed_data_dirs"])
    assert not any(os.path.exists(os.path.join(root, o)) for o in orphans)
    assert all(os.path.exists(os.path.join(root, p)) for p in committed)
    lab = {r["node"]: r["label"] for r in eng.dedup_labels.read(spark).collect()}
    assert lab == {"a#0": "a#0", "b#0": "a#0"}
