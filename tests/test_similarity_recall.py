"""Approximation quality of the scale-path similarity operators, measured
against their exact oracle-verified baselines: LSH-verified Jaccard pairs
are a subset of the exact all-pairs result.
"""

from crba_etl_spark import queries as Q

SF = "/root/testdata/sf0.01"


def test_lsh_verified_jaccard_subset_of_exact(spark):
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in Q.q_ngram_jaccard_exact_baseline(spark, SF).collect()
    }
    verified = {
        (r.id_a, r.id_b, r.jaccard)
        for r in Q.q_lsh_verified_pairs(spark, SF).collect()
    }
    assert verified <= exact
