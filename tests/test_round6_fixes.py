"""Round-5 ADVICE closures (see ADVICE.md, all six items).

1. medium — DedupLabels.read resolves by min(label), not
   max_by(label, __epoch): two slices of the SAME epoch re-labeling one
   node tied on the epoch stamp and picked an arbitrary label.
2. low — ingest_documents is redelivery-safe: a re-invoked epoch skips
   both the data apply and the aux write instead of rmtree'ing the
   committed index dir under a colliding deterministic tag.
3. low — expire_snapshots keeps unreferenced-but-young index dirs (an
   in-flight commit's pre-CAS write); covered in test_band_index.py.
4. low — compact(rebuild_indexes=True) rebuilds with the config the
   index was BUILT with (recorded in the aux entry), not defaults.
5. low — minhash_signatures drops NULL-text docs (the grouped form's
   semantics); all-NULL signatures banded identically and emitted
   all-pairs candidates among null-text docs.
"""

import os

from conftest import stored_rows
from pyspark.sql import functions as F, types as T

from crba_etl_spark.band_index import (
    AUX_NAME,
    LABELS_AUX,
    DedupLabels,
    LshBandIndex,
    ingest_documents,
)
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.operators import text_dedup


def _docs(spark, rows):
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("doc_id", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )


def test_labels_same_epoch_slice_tie_resolves_min(spark, tmpdir_):
    """Two label deltas stamped with the SAME __epoch (two slices of one
    streaming epoch): the later slice re-labels n1 from 'b' down to 'a'.
    Resolution must pick 'a' deterministically — labels are monotone
    non-increasing, so min(label) IS the latest (ADVICE medium)."""
    docs = _docs(spark, [("x", "alpha bravo charlie delta echo")])
    table, index = ingest_documents(spark, os.path.join(tmpdir_, "t"), docs)
    labels = DedupLabels(table, index)
    d1 = spark.createDataFrame(
        [("n1", "b", 5), ("b", "b", 5)], ["node", "label", "__epoch"]
    ).withColumn("__epoch", F.col("__epoch").cast("long"))
    d2 = spark.createDataFrame(
        [("n1", "a", 5), ("a", "a", 5)], ["node", "label", "__epoch"]
    ).withColumn("__epoch", F.col("__epoch").cast("long"))
    base = labels.files()
    f1 = labels.write_epoch(d1, "slice1")
    table.set_aux(LABELS_AUX, base + f1, base_files=base)
    f2 = labels.write_epoch(d2, "slice2")
    table.set_aux(LABELS_AUX, base + f1 + f2, base_files=base + f1)
    lab = {r["node"]: r["label"] for r in labels.read(spark).collect()}
    assert lab["n1"] == "a"


def test_ingest_documents_redelivery_noop(spark, tmpdir_):
    """Re-invoking ingest_documents with an already-committed epoch must
    change nothing — in particular it must NOT rewrite the committed
    index dir (the old deterministic e{epoch} tag rmtree'd it, leaving
    the snapshot referencing deleted files — ADVICE low)."""
    docs = _docs(
        spark,
        [
            ("a", "alpha bravo charlie delta echo foxtrot golf hotel"),
            ("b", "alpha bravo charlie delta echo foxtrot golf hotel x"),
            ("c", "kilo lima mike november oscar papa quebec romeo"),
        ],
    )
    root = os.path.join(tmpdir_, "t")
    table, index = ingest_documents(spark, root, docs)
    v0 = table.snapshot()["version"]
    files0 = list(table.aux()[AUX_NAME]["files"])
    assert files0
    table2, index2 = ingest_documents(spark, root, docs, table=table)
    assert table2.snapshot()["version"] == v0
    assert list(table2.aux()[AUX_NAME]["files"]) == files0
    for p in files0:
        assert os.path.exists(os.path.join(root, p))
    probe = _docs(spark, [("p", "alpha bravo charlie delta echo foxtrot golf hotel y")])
    got = {r["existing_id"] for r in index2.candidates(spark, probe).collect()}
    assert "a" in got


def test_rebuild_uses_recorded_config(spark, tmpdir_):
    """A maintenance engine constructed WITHOUT lsh flags (the CLI
    `compact --rebuild-indexes` shape) must rebuild the index over the
    text column it was BUILT with — recorded in the aux entry's config —
    not the default 'text' (ADVICE low: a non-default lsh_text_col table
    was silently re-indexed over the wrong column)."""
    docs = spark.createDataFrame(
        [
            ("a", "alpha bravo charlie delta echo foxtrot golf hotel"),
            ("b", "kilo lima mike november oscar papa quebec romeo"),
        ],
        ["doc_id", "body"],
    )
    root = os.path.join(tmpdir_, "t")
    table, index = ingest_documents(spark, root, docs, text_col="body")
    assert table.aux()[AUX_NAME]["config"] == {"text_col": "body"}
    want = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in index.read(spark).collect()
    }
    # maintenance CLI shape: engine without lsh flags on the existing table
    eng = CDCEngine(spark, root)
    eng.compact(rebuild_indexes=True)
    got = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in LshBandIndex(table, text_col="body").read(spark).collect()
    }
    assert got == want  # rebuilt over 'body', content unchanged (no updates)


def test_engine_records_index_config(spark, tmpdir_):
    from conftest import make_events

    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor",
        dedup_labels=True,
    )
    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    eng.apply_epoch(
        make_events(spark, [(1, 0, "I", "a", 0, "user", t1, None, 0, 0)]), 0
    )
    aux = eng.table.aux()
    assert aux[AUX_NAME]["config"]["text_col"] == "text"
    assert aux[LABELS_AUX]["config"]["threshold"] == eng.dedup_labels.threshold
    assert aux[LABELS_AUX]["config"]["max_bucket"] == eng.dedup_labels.max_bucket


def test_minhash_null_text_dropped(spark):
    docs = _docs(
        spark,
        [
            ("a", None),
            ("b", None),
            ("c", None),
            ("d", "some real text content here today now"),
            ("e", "other unrelated different words entirely elsewhere"),
        ],
    )
    sig = text_dedup.minhash_signatures(docs)
    assert {r["doc_id"] for r in sig.collect()} == {"d", "e"}
    pairs = text_dedup.minhash_lsh_candidates(docs).collect()
    nulls = {"a", "b", "c"}
    assert all(r["id_a"] not in nulls and r["id_b"] not in nulls for r in pairs)


# --- round-5 VERDICT #1: verification-aware re-probe makes the
# oversized-bucket star cap safe by default --------------------------------


def test_reprobe_star_failures_recovers_fragmented_group(spark):
    """Planted FALSE-POSITIVE-dominated bucket: members {a1,a2,b1,b2}
    co-bucketed by LSH, but only a1~a2 and b1~b2 are genuine near-dups
    at the threshold. The star cap pairs everyone with rep=a1, so b1/b2
    lose their would-have-verified edge — the historical fragmentation
    footgun. The re-probe must emit (b1,b2) and verification must accept
    it, restoring the exact grouping."""
    from crba_etl_spark.operators.text_dedup import (
        jaccard_verify_pairs,
        probe_panel,
        reprobe_star_failures,
    )

    ta = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    tb = "kilo lima mike november oscar papa quebec romeo sierra tango"
    docs = _docs(
        spark, [("a1", ta), ("a2", ta + " x"), ("b1", tb), ("b2", tb + " y")]
    )
    mem = spark.createDataFrame(
        [("k", d, "a1") for d in ("a1", "a2", "b1", "b2")],
        ["bkey", "doc_id", "rep"],
    )
    star = mem.filter(F.col("doc_id") != "a1").select(
        "bkey", F.col("doc_id").alias("member"), "rep"
    )
    cand = star.select(F.col("rep").alias("id_a"), F.col("member").alias("id_b"))
    verified = jaccard_verify_pairs(docs, cand, threshold=0.35)
    ok = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert ok == {("a1", "a2")}  # premise: cross-group star edges fail
    probes = reprobe_star_failures(verified, star, probe_panel(mem))
    got = {(r["id_a"], r["id_b"]) for r in probes.collect()}
    assert ("b1", "b2") in got  # failed members probe each other
    recovered = {
        (r["id_a"], r["id_b"])
        for r in jaccard_verify_pairs(docs, probes, threshold=0.35).collect()
    }
    assert recovered == {("b1", "b2")}


def test_reprobe_noop_on_genuine_clique(spark):
    """When every star edge verifies (a genuine near-dup clique — the
    bench corpus shape), the re-probe emits ZERO pairs: the safe default
    costs nothing in the case the cap exists for."""
    from crba_etl_spark.operators.text_dedup import (
        jaccard_verify_pairs,
        probe_panel,
        reprobe_star_failures,
    )

    base = "november oscar papa quebec romeo sierra tango uniform victor whiskey"
    docs = _docs(spark, [(f"d{i}", base + f" v{i}") for i in range(6)])
    mem = spark.createDataFrame(
        [("k", f"d{i}", "d0") for i in range(6)], ["bkey", "doc_id", "rep"]
    )
    star = mem.filter(F.col("doc_id") != "d0").select(
        "bkey", F.col("doc_id").alias("member"), "rep"
    )
    cand = star.select(F.col("rep").alias("id_a"), F.col("member").alias("id_b"))
    verified = jaccard_verify_pairs(docs, cand, threshold=0.35)
    assert verified.count() == 5
    assert reprobe_star_failures(verified, star, probe_panel(mem)).count() == 0


def test_dedup_labels_capped_default_equals_exact(spark, tmpdir_):
    """End-to-end: the maintained labeling with the ROUND-6 DEFAULTS
    (max_bucket=64 + re-probe) equals the exact uncapped closure on a
    corpus that contains an oversized mixed bucket (two genuine groups
    sharing a long common prefix so all four texts co-band), at a
    threshold that rejects the cross-group pairs."""
    from crba_etl_spark.band_index import DedupLabels, ingest_documents
    from crba_etl_spark.cache import release_caches

    shared = " ".join(f"w{i:03d}" for i in range(60))
    docs = _docs(
        spark,
        [
            ("a1", shared + " qa ra sa"),
            ("a2", shared + " qa ra sb"),
            ("b1", shared + " xb yb zb"),
            ("b2", shared + " xb yb zc"),
        ],
    )
    batch = docs.withColumns(
        {"op": F.lit("U"), "lsn": F.lit(1).cast("long")}
    )
    table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), docs.limit(0)
    )
    thr = 0.95
    bands = index.batch_bands(spark, stored_rows(index, batch), 1)
    exact = DedupLabels(table, index, threshold=thr, max_bucket=None)
    want = {
        (r["node"], r["label"])
        for r in exact.delta_for_epoch(bands).select(["node", "label"]).to_pylist()
    }
    release_caches()
    capped = DedupLabels(table, index, threshold=thr, max_bucket=2, reprobe=8)
    got = {
        (r["node"], r["label"])
        for r in capped.delta_for_epoch(bands).select(["node", "label"]).to_pylist()
    }
    release_caches()
    assert got == want
    assert {("a2", "a1"), ("b2", "b1")} <= want  # two groups, not one or four


# --- round-5 VERDICT #3: stale-fraction-triggered index maintenance -------


def test_stale_fraction_triggers_auto_rebuild(spark, tmpdir_):
    """Repeated UPDATEs to one document leave the band index mostly
    stale rows (append-only write path). The per-epoch rows_add counter
    must accumulate in the aux entry, compact() must see the stale
    fraction cross the threshold and rebuild WITHOUT --rebuild-indexes,
    and the rebuild must reset rows_total so the trigger re-arms."""
    from conftest import make_events

    from crba_etl_spark.operators.text_dedup import N_BANDS, _band_rows, minhash_signatures

    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor",
        lsh_index=True, stale_rebuild_threshold=0.5,
    )
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    eng.apply_epoch(
        make_events(spark, [(1, 0, "I", "a", 0, "user", base, None, 0, 0)]), 0
    )
    assert eng.table.aux()[AUX_NAME]["rows_total"] == N_BANDS
    assert eng.index_stale_frac() == 0.0
    for k in (1, 2, 3):
        eng.apply_epoch(
            make_events(
                spark,
                [(k + 1, k, "U", "a", 0, "user", base + f" v{k}", None, k, k)],
            ),
            k,
        )
    # 4 versions of one doc indexed: total=4*N_BANDS, live=N_BANDS.
    # Pre-compact the estimate reads 0: superseded versions still sit in
    # MOR delta files and count toward the live bound — the trigger runs
    # inside compact() AFTER deltas fold, which is when it can see truth.
    assert eng.table.aux()[AUX_NAME]["rows_total"] == 4 * N_BANDS
    assert eng.index_stale_frac() == 0.0
    eng.compact()  # no flag — the measured post-fold state triggers the rebuild
    aux = eng.table.aux()[AUX_NAME]
    assert aux["rows_total"] == N_BANDS  # counter re-armed
    assert eng.index_stale_frac() == 0.0
    final_docs = eng.read_final().select(
        F.concat_ws("#", "conv_id", "turn_idx").alias("doc_id"), "text"
    )
    want = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in _band_rows(minhash_signatures(final_docs)).collect()
    }
    got = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in eng.lsh_index.read(spark).collect()
    }
    assert got == want  # only current-text bands survive


def test_stale_fraction_below_threshold_no_rebuild(spark, tmpdir_):
    from conftest import make_events

    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor",
        lsh_index=True, stale_rebuild_threshold=0.5,
    )
    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    t2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    eng.apply_epoch(
        make_events(
            spark,
            [
                (1, 0, "I", "a", 0, "user", t1, None, 0, 0),
                (2, 0, "I", "b", 0, "user", t2, None, 1, 1),
            ],
        ),
        0,
    )
    # one update of one of two docs: stale frac 1 - 2/3 = 1/3 < 0.5
    eng.apply_epoch(
        make_events(spark, [(3, 1, "U", "a", 0, "user", t1 + " x", None, 2, 2)]), 1
    )
    files_before = set(eng.table.aux()[AUX_NAME]["files"])
    eng.compact()
    assert abs(eng.index_stale_frac() - 1 / 3) < 1e-9  # post-fold estimate
    assert set(eng.table.aux()[AUX_NAME]["files"]) == files_before


def test_capped_default_residual_is_bounded(spark, tmpdir_):
    """The DEFAULT (max_bucket=64 + re-probe) contract, quantified on a
    corpus with genuinely oversized mixed buckets (the streaming
    generator's shared-template texts, buckets up to ~170 members):

    - every verified pair whose docs share at least one SMALL band
      bucket is labeled together (exactness outside the cap);
    - the overall residual — verified pairs whose endpoints carry
      different labels — stays a small fraction (re-probe recovers most
      oversized-bucket failures; the remainder is the documented
      probabilistic trade for the O(n²)-clique bound).
    """
    from crba_etl_spark.gen import StreamSpec, generate_stream

    sdir = os.path.join(tmpdir_, "stream")
    generate_stream(
        sdir, StreamSpec(seed=13, n_events=2000, n_epochs=2, evolve_epoch=None)
    )
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor",
        dedup_labels=True,  # capped default
    )
    eng.replay(sdir)
    labels = DedupLabels(eng.table, eng.lsh_index)
    lab = {r["node"]: r["label"] for r in labels.read(spark).collect()}
    final = eng.read_final().select(
        F.concat_ws("#", "conv_id", "turn_idx").alias("doc_id"), "text"
    )
    cand = text_dedup.minhash_lsh_candidates(final)
    pairs = text_dedup.jaccard_verify_pairs(final, cand).collect()
    assert len(pairs) > 1000
    mismatched = [
        (r["id_a"], r["id_b"]) for r in pairs if lab[r["id_a"]] != lab[r["id_b"]]
    ]
    assert len(mismatched) / len(pairs) < 0.01, (
        f"{len(mismatched)}/{len(pairs)} verified pairs unlabeled-together"
    )
    # exactness outside the cap: pairs sharing a SMALL bucket always agree
    sig = text_dedup.minhash_signatures(final)
    bands = text_dedup._band_rows(sig)
    sizes = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("n")
    )
    small = bands.join(
        sizes.filter(F.col("n") <= 64), ["band_idx", "band_hash"]
    )
    a, b = small.alias("a"), small.alias("b")
    small_pairs = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        .collect()
    }
    from crba_etl_spark.cache import release_caches

    release_caches()
    assert not (set(mismatched) & small_pairs)
