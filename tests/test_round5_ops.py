"""Round-5 operator additions and the oversized-band-bucket cap.

Covers: Gopher-style repetition stats, PII redaction, domain mixture
weights (oracle equality for their registry entries is
asserted in test_entry_contract.py — here we pin hand-computed values
and semantic invariants), and the ``max_bucket`` boilerplate/skew
defense: a corpus of near-identical texts (shared 256-char suffix, the
shape that once froze a 200k-document dedup run) must cost O(n)
candidates, not O(n²), while transitive grouping through bucket
representatives stays intact end-to-end, including through the engine's
DedupLabels path.
"""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crba_etl_spark.cache import release_caches  # noqa: E402
from crba_etl_spark.operators import text_analysis, text_dedup  # noqa: E402

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


def test_repetition_stats_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z w"), (3, "q")], ["doc_id", "text"]
    )
    r = {x["doc_id"]: x for x in text_analysis.repetition_stats(df).collect()}
    # doc 1: 5 words, 2 distinct, top word 'a' x3; bigrams
    # [a b, b a, a b, b a] -> 4 total, 2 distinct
    assert r[1]["n_words"] == 5
    assert r[1]["dup_word_frac"] == 0.6
    assert r[1]["top_word_frac"] == 0.6
    assert r[1]["dup_2gram_frac"] == 0.5
    assert not r[1]["keep"]  # top_word_frac 0.6 > 0.3
    assert r[2]["n_words"] == 4 and r[2]["dup_word_frac"] == 0.0
    assert r[2]["keep"]  # top 0.25 <= 0.3, dup_2gram 0 <= 0.6
    # single-word doc: zero bigrams -> frac pinned to 0, top_word_frac 1
    assert r[3]["dup_2gram_frac"] == 0.0 and not r[3]["keep"]


def test_pii_redact_plants_and_clears(spark):
    df = spark.createDataFrame(
        [
            (1, "hello bob.smith9@mail.example call 555-1234 now"),
            (2, "no pii here"),
        ],
        ["doc_id", "text"],
    )
    r = {x["doc_id"]: x for x in text_analysis.pii_redact(df).collect()}
    assert r[1]["n_emails"] == 1 and r[1]["n_phones"] == 1
    assert r[1]["redacted"] == "hello <EMAIL> call <PHONE> now"
    assert r[1]["clean"]
    assert r[2]["n_emails"] == 0 and r[2]["n_phones"] == 0
    assert r[2]["redacted"] == "no pii here" and r[2]["clean"]


def test_domain_mix_weights_normalized(spark):
    from crba_etl_spark.queries import q_domain_mix_weights

    rows = q_domain_mix_weights(spark, SF_DIR).collect()
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["raw_share"] for r in rows) - 1.0) < 1e-4
    # alpha=0.5 smoothing: weights order-preserving in n_docs, and small
    # domains get MORE than their raw share, large ones less
    big = max(rows, key=lambda r: r["n_docs"])
    small = min(rows, key=lambda r: r["n_docs"])
    if big["n_docs"] > small["n_docs"]:
        assert big["weight"] <= big["raw_share"] + 1e-9
        assert small["weight"] >= small["raw_share"] - 1e-9


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
