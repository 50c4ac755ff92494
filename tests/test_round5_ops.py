"""Round-5 operator additions and the oversized-band-bucket cap.

Covers: Gopher-style repetition stats, PII redaction, domain mixture
weights, SemDeDup-style semantic groups (oracle equality for all four is
asserted by the registry replica gate in test_entry_contract.py — here
we pin hand-computed values and semantic invariants), and the
``max_bucket`` boilerplate/skew defense: a corpus of near-identical
texts (shared 256-char suffix, the exact shape that froze the
index-overhead bench at 200k docs) must cost O(n) candidates, not
O(n²), while transitive grouping through bucket representatives stays
intact end-to-end, including through the engine's DedupLabels path.
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


def test_semantic_dedup_groups_transitive(spark):
    """Planted chain: vectors 0,1,2 share a direction (pairwise cos=1),
    vector 3 is near-orthogonal — the closure must produce one group
    {0,1,2} labeled by its min id and a singleton {3}."""
    from crba_etl_spark.operators.graph import connected_components
    from crba_etl_spark.operators.similarity import EMB_DIM, cosine_near_dup_lsh

    base = [1.0] + [0.1] * (EMB_DIM - 1)
    far = [0.0, 1.0] + [0.0] * (EMB_DIM - 2)
    emb = spark.createDataFrame(
        [
            (0, [x * 1.0 for x in base]),
            (1, [x * 2.0 for x in base]),
            (2, [x * 3.0 for x in base]),
            (3, far),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = cosine_near_dup_lsh(emb, threshold=0.4)
    cc = connected_components(
        pairs, nodes=emb.select(F.col("vec_id").alias("node"))
    )
    labels = {r["node"]: r["label"] for r in cc.collect()}
    release_caches()
    assert labels == {0: 0, 1: 0, 2: 0, 3: 3}


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


def test_conversation_stats_hand_values(spark):
    from crba_etl_spark.operators.transcripts import conversation_stats

    final = spark.createDataFrame(
        [
            ("c1", 0, "user", "hi", None, 100),
            ("c1", 1, "assistant", "hello!", None, 160),
            ("c1", 2, "tool", "ok", "browser", 220),
            ("c2", 0, "user", "x", None, 500),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts_s long",
    )
    r = {x["conv_id"]: x for x in conversation_stats(final).collect()}
    c1 = r["c1"]
    assert c1["n_turns"] == 3 and c1["n_user"] == 1 and c1["n_assistant"] == 1
    assert c1["n_tool_calls"] == 1
    assert c1["total_chars"] == len("hi") + len("hello!") + len("ok")
    assert (c1["first_ts_s"], c1["last_ts_s"], c1["duration_s"]) == (100, 220, 120)
    c2 = r["c2"]
    assert c2["n_turns"] == 1 and c2["duration_s"] == 0


def test_turn_alternation_audit_flags(spark):
    from crba_etl_spark.operators.transcripts import turn_alternation_audit

    final = spark.createDataFrame(
        [
            # well-formed: starts at 0, alternating, contiguous
            ("good", 0, "user"), ("good", 1, "assistant"), ("good", 2, "user"),
            # repeated role at turns 1-2
            ("rep", 0, "user"), ("rep", 1, "assistant"), ("rep", 2, "assistant"),
            # gap: 0 then 2
            ("gap", 0, "user"), ("gap", 2, "assistant"),
            # starts late
            ("late", 1, "user"), ("late", 2, "assistant"),
        ],
        "conv_id string, turn_idx int, role string",
    )
    r = {x["conv_id"]: x for x in turn_alternation_audit(final).collect()}
    assert r["good"]["well_formed"] and r["good"]["n_repeat_role"] == 0
    assert r["rep"]["n_repeat_role"] == 1 and not r["rep"]["well_formed"]
    assert r["gap"]["n_gaps"] == 1 and not r["gap"]["well_formed"]
    assert r["late"]["n_gaps"] == 0 and not r["late"]["well_formed"]


def test_chunk_dedup_first_occurrence_wins(spark):
    """Doc 1 owns every chunk it introduces; doc 2 repeats doc 1's first
    8-word chunk and adds a new tail chunk; doc 3 is a pure duplicate of
    doc 1 and must come back empty."""
    from crba_etl_spark.operators.text_dedup import chunk_dedup

    c0 = "w0 w1 w2 w3 w4 w5 w6 w7"          # chunk A
    c1 = "x0 x1 x2 x3 x4 x5 x6 x7"          # chunk B
    tail = "fresh new words here"           # short final chunk C
    df = spark.createDataFrame(
        [(1, f"{c0} {c1}"), (2, f"{c0} {tail}"), (3, f"{c0} {c1}")],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in chunk_dedup(df).collect()}
    assert r[1]["n_chunks"] == 2 and r[1]["n_kept"] == 2
    assert r[1]["cleaned_text"] == f"{c0} {c1}"
    # doc 2: chunk A already seen; its tail chunk survives alone
    assert r[2]["n_chunks"] == 2 and r[2]["n_kept"] == 1
    assert r[2]["cleaned_text"] == tail
    assert r[2]["kept_frac"] == 0.5
    # doc 3: everything seen before -> empty reassembly
    assert r[3]["n_kept"] == 0 and r[3]["cleaned_text"] == ""
