"""The oversized-band-bucket cap.

Covers the ``max_bucket`` boilerplate/skew defense: a corpus of
near-identical texts (shared 256-char suffix, the shape that once froze
a 200k-document dedup run) must cost O(n) candidates, not O(n²), while
transitive grouping through bucket representatives stays intact
end-to-end, including through the engine's DedupLabels path.
"""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crba_etl_spark.cache import release_caches  # noqa: E402
from crba_etl_spark.operators import text_dedup  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

FILLER = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed " * 6)[:256]


def _degenerate_docs(spark, n: int, id_as_string: bool = False):
    """n docs sharing a 256-char suffix behind a tiny distinct prefix —
    every pair is a genuine near-duplicate (Jaccard ≈ 0.9+), so the true
    dedup answer is ONE group, but all-pairs candidate generation is
    n²/2. This mirrors the bench stream's text_pad filler."""
    doc_id = (
        F.concat(F.lit("d"), F.lpad(F.col("id").cast("string"), 5, "0"))
        if id_as_string
        else F.col("id")
    )
    return spark.range(n).select(
        doc_id.alias("doc_id"),
        F.concat(
            F.lit("u"), F.col("id").cast("string"), F.lit(" says "), F.lit(FILLER)
        ).alias("text"),
    )


def test_max_bucket_noop_below_cap(spark):
    """cap=64 is far above every sf0.01 bucket (max observed: 12): the
    capped operator must return the EXACT uncapped pair set — the engine
    default never changes oracle-scale answers."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    u = sorted(map(tuple, text_dedup.minhash_lsh_candidates(docs).collect()))
    c = sorted(
        map(
            tuple,
            text_dedup.minhash_lsh_candidates(docs, max_bucket=64).collect(),
        )
    )
    release_caches()
    assert u == c


def test_max_bucket_degenerate_linear_and_grouped(spark):
    """400 near-identical docs: capped candidates stay ~linear (vs ~80k
    all-pairs), and star edges through bucket representatives still
    verify and close into ONE component."""
    from crba_etl_spark.operators.graph import connected_components

    n = 400
    deg = _degenerate_docs(spark, n)
    cand = text_dedup.minhash_lsh_candidates(deg, max_bucket=16)
    n_pairs = cand.count()
    assert n_pairs < n * 40, f"{n_pairs} pairs — cap did not bound the bucket"
    pairs = text_dedup.jaccard_verify_pairs(deg, cand, threshold=0.35)
    cc = connected_components(
        pairs, nodes=deg.select(F.col("doc_id").alias("node"))
    )
    assert cc.select("label").distinct().count() == 1
    release_caches()


def test_band_index_candidates_cap_existing_side(spark, tmpdir_):
    """An indexed corpus whose band buckets exceed the cap is probed
    through bucket representatives: a new near-identical batch gets
    O(batch) candidates, and every new doc still reaches the corpus
    (connectivity via the representative)."""
    from crba_etl_spark.band_index import ingest_documents

    existing = _degenerate_docs(spark, 200, id_as_string=True)
    _table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), existing
    )
    new = spark.range(200, 250).select(
        F.concat(F.lit("d"), F.lpad(F.col("id").cast("string"), 5, "0")).alias(
            "doc_id"
        ),
        F.concat(
            F.lit("u"), F.col("id").cast("string"), F.lit(" says "), F.lit(FILLER)
        ).alias("text"),
    )
    cand = index.candidates(spark, new, max_bucket=16)
    rows = cand.collect()
    release_caches()
    assert 0 < len(rows) < 50 * 40, f"{len(rows)} candidates"
    matched_new = {r["new_id"] for r in rows}
    assert len(matched_new) == 50  # every new doc reaches the corpus


def test_dedup_labels_degenerate_batch_completes(spark, tmpdir_):
    """The engine's labels pipeline on a near-identical corpus — the
    exact shape that froze the index-overhead bench pre-cap — must
    complete with ~linear candidate work and label the whole batch as
    ONE group."""
    from crba_etl_spark.band_index import DedupLabels, ingest_documents

    docs = _degenerate_docs(spark, 300, id_as_string=True)
    table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), docs, dedup_labels=True
    )
    labels = DedupLabels(table, index).read(spark).collect()
    release_caches()
    assert len(labels) == 300
    assert len({r["label"] for r in labels}) == 1
