"""The dedup epoch's driver side (band_index.py): the batch's LSH
footprint, the murmur3 part ids and the Jaccard verification computed on
the driver equal the Spark operators they replace, and a driver id list
becomes one SQL IN-list filter."""

import os

from conftest import stored_rows
from pyspark.sql import functions as F

from crba_etl_spark.band_index import (
    DedupLabels,
    _murmur3,
    ingest_documents,
)
from crba_etl_spark.operators import text_dedup
from crba_etl_spark.operators.graph import _in_list

from test_band_index import _count_jobs, _template_docs

#: texts a shingle window treats specially: shorter than a shingle,
#: empty, multi-byte and astral (two UTF-16 units, one code point)
EDGE_TEXTS = [
    "abcd",
    "a",
    "",
    "abcde",
    "naïve café — déjà vu, façade",
    "日本語のテキストです",
    "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀 text 🎉🎉 𝔘𝔫𝔦",
    "😀",
]


def _docs(spark):
    edge = spark.createDataFrame(
        [(f"x{i}", t) for i, t in enumerate(EDGE_TEXTS)], "doc_id string, text string"
    )
    return _template_docs(spark).unionByName(edge)


def _batch(docs, lsn=1):
    return docs.withColumns({"op": F.lit("U"), "lsn": F.lit(lsn).cast("long")})


def test_batch_bands_equal_spark_reference(spark, tmpdir_):
    """Texts, md5s, band hashes and __bpart part ids of batch_bands equal
    F.md5, _band_rows(minhash_signatures(...)) and pmod(hash(·), K)."""
    docs = _docs(spark)
    table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), docs.limit(0), n_buckets=8
    )
    bb = index.batch_bands(spark, stored_rows(index, _batch(docs)), 1)

    assert bb.texts == {r["doc_id"]: r["text"] for r in docs.collect()}
    assert bb.md5 == {
        r[0]: r[1] for r in docs.select("doc_id", F.md5("text")).collect()
    }
    want = {}
    for r in (
        text_dedup._band_rows(text_dedup.minhash_signatures(docs))
        .orderBy("band_idx")
        .collect()
    ):
        want.setdefault(r["doc_id"], []).append(r["band_hash"])
    assert bb.bands == {d: tuple(h) for d, h in want.items()}
    assert list(bb.parts) == [8]
    hashes = spark.createDataFrame(
        [(h,) for h in sorted(bb.parts[8])], "band_hash string"
    )
    assert bb.parts[8] == {
        r[0]: r[1]
        for r in hashes.select("band_hash", F.pmod(F.hash("band_hash"), F.lit(8)))
        .collect()
    }


def test_murmur3_equals_spark_hash(spark):
    """_murmur3 is Spark's hash() of a string on 0-9 UTF-8 bytes —
    aligned blocks, signed tail bytes, multi-byte characters — and its
    pmod parts are Spark's."""
    strings = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefgh", "abcdefghi",
        "é", "€", "😀", "aé", "a€", "ab€", "ÿÿÿÿ", "a😀é", "abcd€é", "€€€",
        "\x7f\x80",
    ]
    assert {len(s.encode()) for s in strings} == set(range(10))
    ks = (1, 2, 7, 8, 32)
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    rows = df.select(
        "s", F.hash("s"), *[F.pmod(F.hash("s"), F.lit(k)) for k in ks]
    ).collect()
    for r in rows:
        h = _murmur3(r[0].encode())
        assert h == r[1], r[0]
        assert [h % k for k in ks] == list(r[2:]), r[0]


def test_driver_verify_equals_jaccard_verify_pairs(spark, tmpdir_):
    """DedupLabels._verify — batch texts plus stored partners outside the
    batch, Jaccard on the driver — keeps the pairs jaccard_verify_pairs
    keeps, at thresholds that include a pair's rounded Jaccard exactly."""
    from crba_etl_spark.icelite import bucket_expr

    docs = _docs(spark)
    existing = docs.filter(~F.col("doc_id").rlike("-[5-8]$|^s1|^x[0-3]"))
    new = docs.filter(F.col("doc_id").rlike("-[5-8]$|^s1|^x[0-3]"))
    table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), existing, n_buckets=4
    )
    bb = index.batch_bands(spark, stored_rows(index, _batch(new)), 1)
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    pairs = {
        (a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]
        if a in bb.texts or b in bb.texts
    }
    bucket = {
        r[0]: r[1]
        for r in table.read(spark).select("doc_id", bucket_expr(4, "doc_id")).collect()
    }
    pdf = spark.createDataFrame(sorted(pairs), "id_a string, id_b string")
    scored = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in text_dedup.jaccard_verify_pairs(docs, pdf, threshold=0.0).collect()
    }
    exact = sorted(j for j in scored.values() if 0.3 < j < 0.99)[0]
    labels = DedupLabels(table, index)
    seen_outside = False
    for thr in (0.35, 0.8, exact):
        labels.threshold = thr
        got = labels._verify(spark, bb, pairs, set(bb.texts), bucket)
        want = {p for p, j in scored.items() if j >= thr}
        assert got == want, thr
        seen_outside |= any(a not in bb.texts or b not in bb.texts for a, b in got)
    assert any(j == exact for j in scored.values())
    assert seen_outside


def test_delta_from_empty_runs_no_spark_job(spark, tmpdir_):
    """With the batch's footprint on the driver, a label delta against an
    empty index and labeling is driver work only: buckets, verification
    and the union-find run no Spark job."""
    docs = _template_docs(spark)
    table, index = ingest_documents(spark, os.path.join(tmpdir_, "t"), docs.limit(0))
    bb = index.batch_bands(spark, stored_rows(index, _batch(docs)), 1)
    labels = DedupLabels(table, index)
    delta, jobs = _count_jobs(spark, lambda: labels.delta_for_epoch(bb))
    assert jobs == 0
    rows = delta.to_pylist()
    assert {r["node"] for r in rows} == set(bb.texts)
    assert any(r["node"] != r["label"] for r in rows)


def test_in_list_quotes_driver_ids(spark):
    """_in_list matches exactly the listed ids, including quotes,
    backslashes and non-ASCII characters; int ids and an empty list
    work too."""
    ids = [
        "plain", "o'brien", "back\\slash", "\\", "'", "\\'", "''", "a\\nb",
        "naïve", "日本", "😀", "tab\there", "new\nline",
    ]
    df = spark.createDataFrame([(s,) for s in ids + ["other", "x"]], "id string")
    for pick in (ids, ids[1:4], ["\\'"], []):
        got = sorted(r[0] for r in df.filter(_in_list("id", pick)).collect())
        assert got == sorted(pick)
    nums = spark.range(10).withColumnRenamed("id", "n")
    assert sorted(r[0] for r in nums.filter(_in_list("n", [2, 5, 7])).collect()) == [
        2, 5, 7,
    ]


def test_labels_probe_filter_pushes_below_resolving_aggregate(spark, tmpdir_):
    """The labels probe's IN-list filter on ``node`` sits below
    DedupLabels.read's min(label) aggregate, so only the probed nodes'
    delta rows reach it."""
    docs = _template_docs(spark)
    table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), docs, dedup_labels=True
    )
    lab = DedupLabels(table, index).read(spark)
    probed = lab.filter(_in_list("node", ["t0-1", "s3", "o'x"]))
    plan = probed._jdf.queryExecution().optimizedPlan().toString().splitlines()
    agg = next(i for i, line in enumerate(plan) if "Aggregate" in line)
    flt = [i for i, line in enumerate(plan) if "Filter" in line]
    assert flt and all(i > agg for i in flt), "\n".join(plan)
    assert sorted(r["node"] for r in probed.collect()) == ["s3", "t0-1"]
