"""incremental_lsh_candidates: the new×existing banded join must find a
planted copy of an existing document among incoming docs, must never
emit new×new or existing×existing pairs, and composes with
jaccard_verify_pairs for the full incremental-dedup decision."""

from pyspark.sql import functions as F

from crba_etl_spark.operators.text_dedup import (
    incremental_lsh_candidates,
    jaccard_verify_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_copy_found_and_sides_respected(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    existing = _docs(
        spark,
        [(i, f"existing document {i} " + base[: 100 + i * 7]) for i in range(20)],
    )
    # doc 105 is a light edit of existing doc 3; the rest are unrelated
    copy_of_3 = "existing document 3 " + base[:121] + " tail edit"
    new = _docs(
        spark,
        [(100 + i, f"totally different payload {i} zzz qqq xxx " * 3) for i in range(5)]
        + [(105, copy_of_3)],
    )
    cand = incremental_lsh_candidates(new, existing)
    pairs = {(r.new_id, r.existing_id) for r in cand.collect()}
    assert (105, 3) in pairs
    # sides respected: new ids only on the left, existing only on the right
    assert all(a >= 100 and b < 100 for a, b in pairs)

    # full composition: exact-Jaccard verification on candidates only
    corpus = existing.union(new)
    verified = jaccard_verify_pairs(
        corpus,
        cand.select(
            F.col("new_id").alias("id_a"), F.col("existing_id").alias("id_b")
        ),
        threshold=0.5,
    )
    v = {(r.id_a, r.id_b) for r in verified.collect()}
    assert (105, 3) in v
    # the unrelated new docs must not survive verification against anything
    assert all(a == 105 for a, _ in v)


def test_no_candidates_when_disjoint(spark):
    existing = _docs(spark, [(1, "alpha beta gamma delta epsilon " * 10)])
    new = _docs(spark, [(2, "one two three four five six seven " * 10)])
    assert incremental_lsh_candidates(new, existing).count() == 0
