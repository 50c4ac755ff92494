"""The dedup epoch's driver side of the write (band_index.py): the epoch's
stored rows reach the driver as Arrow after the data write — read back
from the merge-on-read delta files, or taken from the copy-on-write
batch — and equal the Spark relation of the batch's live documents;
the band rows and the label delta the driver then holds are written with
pyarrow, and the files equal what the Spark writes of the same rows
produce — same rows, same ``__bpart`` directories, same parquet types —
so the readers (probe, candidates, the labels read) cannot tell them
apart."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from conftest import make_events, stored_rows
from pyspark.sql import functions as F, types as T

from crba_etl_spark.band_index import (
    AUX_NAME,
    BAND_SCHEMA,
    LABELS_AUX,
    LABELS_SCHEMA,
    DedupLabels,
    EpochAux,
    _parquet_rows,
    ingest_documents,
)
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.icelite import IceliteTable
from crba_etl_spark.operators.dedup import reduce_batch
from crba_etl_spark.operators.graph import _local_frame
from crba_etl_spark.operators.text_dedup import N_BANDS

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
    drv = index.write_epoch(index.batch_bands(spark, stored_rows(index, batch), 1), "drv")
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
    aux write from the batch's Arrow rows runs no Spark job, with labels
    and for an index alone, and the band entry's rows_add equals its
    files' footer row count; the index-only band files hold the rows and
    __bpart directories of the Spark write of rows_for."""
    docs = _docs(spark)
    table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), docs.limit(0), n_buckets=4
    )
    labels = DedupLabels(table, index)
    batch = _batch(docs)
    rows = stored_rows(index, batch)
    delta = labels.delta_for_epoch(index.batch_bands(spark, rows, 1))
    assert delta.schema.names == LABELS_SCHEMA.names
    assert [str(t) for t in delta.schema.types] == ["string", "string", "int64"]
    drv = labels.write_epoch(delta, "drv")
    spk = labels.write_epoch(
        _local_frame(
            spark, LABELS_SCHEMA, [tuple(r.values()) for r in delta.to_pylist()]
        ).coalesce(1),
        "spk",
    )
    assert len(drv) == len(spk) == 1
    want = _rows(spark, LABELS_SCHEMA, table.root, spk)
    assert want and _rows(spark, LABELS_SCHEMA, table.root, drv) == want

    for lab in (labels, None):
        aux, jobs = _count_jobs(spark, lambda: EpochAux(spark, index, lab, 1)(rows))
        assert jobs == 0
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

    bb = mixed.batch_bands(spark, stored_rows(mixed, _batch(new)), 2)
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
    """A failure after the epoch wrote its data files and the driver its
    band and label files, but before the commit, leaves the snapshot as
    it was; the files sit in unreferenced dirs — the epoch's data dir and
    per-attempt aux dirs — which expire_snapshots removes, and the
    retried epoch commits files that a later sweep leaves alone."""
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

    monkeypatch.setattr(IceliteTable, "commit_deltas", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        eng.apply_epoch(events, 0)
    monkeypatch.undo()
    assert eng.table.snapshot() == before
    data = {f"data/{d}" for d in os.listdir(os.path.join(root, "data"))}
    aux = {
        f"index/{name}/{d}"
        for name in ("lsh", "dedup_labels")
        for d in os.listdir(os.path.join(root, "index", name))
    }
    assert len(data) == 1 and {o.split("/")[1] for o in aux} == {"lsh", "dedup_labels"}
    res = eng.table.expire_snapshots(keep_last=1, aux_min_age_s=0.0)
    removed = {
        p if p.startswith("index/") else f"data/{p}" for p in res["removed_data_dirs"]
    }
    assert removed == data | aux
    assert not any(os.path.exists(os.path.join(root, o)) for o in data | aux)

    eng.apply_epoch(events, 0)
    aux_ent = eng.table.aux()
    committed = aux_ent[AUX_NAME]["files"] + aux_ent[LABELS_AUX]["files"]
    assert committed and not any(p.startswith(tuple(aux)) for p in committed)
    assert eng.table.expire_snapshots(keep_last=1, aux_min_age_s=0.0)[
        "removed_data_dirs"
    ] == []
    assert all(os.path.exists(os.path.join(root, p)) for p in committed)
    lab = {r["node"]: r["label"] for r in eng.dedup_labels.read(spark).collect()}
    assert lab == {"a#0": "a#0", "b#0": "a#0"}


def _capture_aux(monkeypatch):
    """Record the Arrow rows each EpochAux call receives."""
    seen = []
    real = EpochAux.__call__

    def spy(self, rows):
        seen.append(rows)
        return real(self, rows)

    monkeypatch.setattr(EpochAux, "__call__", spy)
    return seen


def _docs_of(index, rows):
    return Counter(zip(*index.doc_texts(rows)))


def _spark_docs(index, batch):
    ref = index._live_docs(batch).toArrow()
    return Counter(zip(ref["doc_id"].to_pylist(), ref["text"].to_pylist()))


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_epoch_rows_equal_spark_live_docs(spark, tmpdir_, monkeypatch, mode):
    """The (doc_id, text) the aux hook sees — read back from the MOR delta
    files, or taken from the COW batch — equal Spark's _live_docs of the
    reduced batch as multisets: across a tombstone, a null text, an
    update, an integer key column and a column added mid-stream."""
    seen = _capture_aux(monkeypatch)
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, mode), n_buckets=2, mode=mode, dedup_labels=True
    )
    epochs = [
        make_events(
            spark,
            [
                (1, 0, "I", "a", 0, "user", "alpha bravo charlie delta", None, 0, 0),
                (2, 0, "I", "a", 1, "user", "echo foxtrot golf hotel", None, 1, 1),
                (3, 0, "I", "b", 7, "user", None, None, 2, 2),
                (4, 0, "I", "c", -3, "user", "india juliet kilo lima", None, 3, 3),
            ],
            with_tool=False,
        ),
        make_events(
            spark,
            [
                (5, 1, "D", "a", 1, "user", None, None, 4, 4),
                (6, 1, "U", "c", -3, "user", "india juliet kilo lima!", "t", 5, 5),
                (7, 1, "I", "d", 12, "tool", "mike november oscar", "t", 6, 6),
                (8, 1, "I", "b", 7, "user", None, "t", 7, 7),
                (9, 1, "I", "a", 0, "user", "alpha bravo charlie delta", None, 0, 0),
            ],
        ),
    ]
    live = [{"a#0", "a#1", "c#-3"}, {"a#0", "c#-3", "d#12"}]
    for k, events in enumerate(epochs):
        eng.apply_epoch(events, k)
        want = _spark_docs(eng.lsh_index, reduce_batch(events))
        assert {d for d, _t in want} == live[k]
        assert len(seen) == k + 1 and _docs_of(eng.lsh_index, seen[k]) == want, k
    assert "tool" in eng.table.schema().fieldNames()


@pytest.mark.parametrize("key_type", ["tinyint", "smallint", "int", "bigint"])
def test_integer_key_doc_ids_equal_concat_ws(spark, tmpdir_, monkeypatch, key_type):
    """With an integer key column, the driver's doc_ids (Arrow's cast to
    string) equal Spark's concat_ws of the same column, extremes and
    negatives included."""
    seen = _capture_aux(monkeypatch)
    bits = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}[key_type]
    ids = [0, 1, -1, 42, 2 ** (bits - 1) - 1, -(2 ** (bits - 1))]
    docs = spark.createDataFrame(
        [(i, f"document text number {j} about {i}") for j, i in enumerate(ids)],
        f"doc_id {key_type}, text string",
    )
    _table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), docs, dedup_labels=True
    )
    batch = docs.withColumns({"op": F.lit("U"), "lsn": F.lit(0).cast("long")})
    want = _spark_docs(index, batch)
    assert _docs_of(index, seen[0]) == want
    assert {d for d, _t in want} == {str(i) for i in ids}


def test_unpinned_key_type_fails_before_any_write(spark, tmpdir_):
    """A key type whose Arrow string cast is not pinned to Spark's is
    refused with ValueError before any data or aux file is written."""
    docs = spark.createDataFrame([(1.5, "some text")], "doc_id double, text string")
    root = os.path.join(tmpdir_, "new")
    with pytest.raises(ValueError, match="doc_id double"):
        ingest_documents(spark, root, docs)
    assert not os.path.exists(root)

    root = os.path.join(tmpdir_, "given")
    table = IceliteTable.create(root, docs.schema, n_buckets=2, key_cols=["doc_id"])
    with pytest.raises(ValueError, match="doc_id double"):
        ingest_documents(spark, root, docs, table=table)
    assert os.listdir(os.path.join(root, "data")) == []
    assert not os.path.exists(os.path.join(root, "index"))
    assert table.snapshot()["committed_epochs"] == []

    # the engine refuses such a table when it is constructed
    payload = T.StructType(
        [
            T.StructField("conv_id", T.DateType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    root = os.path.join(tmpdir_, "eng")
    with pytest.raises(ValueError, match="conv_id date"):
        CDCEngine(spark, root, payload_schema=payload, dedup_labels=True)
    assert os.listdir(os.path.join(root, "data")) == []


def test_aux_hook_failure_leaves_a_swept_data_orphan(spark, tmpdir_):
    """A hook that raises after the data write (here ``batch_bands`` on a
    doc_id with two texts) leaves the snapshot as it was and the epoch's
    data dir an unreferenced orphan, which expire_snapshots removes; no
    aux file is written."""
    docs = spark.createDataFrame(
        [("d", "one text here"), ("d", "another text")], "doc_id string, text string"
    )
    root = os.path.join(tmpdir_, "t")
    table = IceliteTable.create(root, docs.schema, n_buckets=2, key_cols=["doc_id"])
    before = table.snapshot()
    with pytest.raises(ValueError, match="two texts"):
        ingest_documents(spark, root, docs, dedup_labels=True, table=table)
    assert table.snapshot() == before
    data = os.listdir(os.path.join(root, "data"))
    assert len(data) == 1 and not os.path.exists(os.path.join(root, "index"))
    res = table.expire_snapshots(keep_last=1, aux_min_age_s=0.0)
    assert res["removed_data_dirs"] == data
    assert os.listdir(os.path.join(root, "data")) == []


def test_cow_epoch_indexes_the_batch_not_its_buckets(spark, tmpdir_):
    """A COW dedup epoch into a bucket that already holds rows writes
    N_BANDS band rows per live batch document — never rows for the
    bucket's other stored rows, which its rewritten files also hold —
    and its labels equal the MOR engine's."""
    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    epochs = [
        [(1, 0, "I", "a", 0, "user", shared, None, 0, 0),
         (2, 0, "I", "b", 0, "user", "an unrelated sentence about spark", None, 1, 1),
         (3, 0, "I", "c", 0, "user", "yet another distinct text here", None, 2, 2)],
        [(4, 1, "I", "d", 0, "user", shared + "!", None, 3, 3),
         (5, 1, "U", "b", 0, "user", "an unrelated sentence about spark.", None, 4, 4),
         (6, 1, "D", "c", 0, "user", None, None, 5, 5)],
    ]
    labels = {}
    for mode in ("cow", "mor"):
        eng = CDCEngine(
            spark, os.path.join(tmpdir_, mode), n_buckets=1, mode=mode,
            dedup_labels=True,
        )
        for k, rows in enumerate(epochs):
            prior = set(eng.lsh_index.files())
            eng.apply_epoch(make_events(spark, rows), k)
            new = sorted(set(eng.lsh_index.files()) - prior)
            live = sum(1 for r in rows if r[2] != "D")
            assert _parquet_rows(eng.table.root, new) == N_BANDS * live, (mode, k)
        labels[mode] = {
            r["node"]: r["label"] for r in eng.dedup_labels.read(spark).collect()
        }
    assert labels["cow"] == labels["mor"]
    assert labels["mor"]["d#0"] == labels["mor"]["a#0"] == "a#0"


def test_dedup_epoch_leaves_no_persisted_rdd(spark, tmpdir_):
    """A dedup epoch, in either mode, leaves no RDD persisted."""
    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keys())
    for mode in ("mor", "cow"):
        eng = CDCEngine(
            spark, os.path.join(tmpdir_, mode), n_buckets=2, mode=mode,
            dedup_labels=True,
        )
        for k in range(2):
            eng.apply_epoch(
                make_events(
                    spark,
                    [(k + 1, k, "I", f"c{k}", 0, "user", f"text number {k} here", None, k, k)],
                ),
                k,
            )
            assert set(jsc.getPersistentRDDs().keys()) == before, (mode, k)
    assert not before
