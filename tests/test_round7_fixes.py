"""Round-6 ADVICE closures + round-7 optimization regression tests.

1. medium — LshBandIndex.candidates() star edges filter member != rep:
   an updated batch doc equal to its oversized existing bucket's min
   doc_id emitted a SELF star edge that could never verify, tripping the
   full re-probe pipeline (panel agg + second verify pass) every such
   epoch — defeating "zero extra jobs on genuine cliques".
2. low — index_stale_frac returns 0.0 (trigger disabled) when any data
   footer is unreadable: a skipped footer shrinks the LIVE bound, which
   INFLATES the stale estimate — the anti-conservative direction for an
   auto-rebuild trigger documented as "fires late, never spuriously".
3. low — apply_delta_epoch re-raises CommitConflict when the bucket
   count is unchanged instead of re-bucketing and fully re-writing the
   epoch's delta files up to 8 times for a conflict a rewrite cannot fix.
4. r7 — minhash_signatures' codegen'd explode+agg rewrite is value-
   identical to the row-local higher-order-function form it replaced.
"""

import os

import pytest
from pyspark.sql import functions as F, types as T

from crba_etl_spark.band_index import ingest_documents
from crba_etl_spark.icelite import CommitConflict, IceliteTable
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


BOILER = "the quick brown fox jumps over the lazy dog again and again " * 4


def test_candidates_star_has_no_self_edges(spark, tmpdir_):
    """An oversized indexed bucket whose min doc_id is re-ingested in the
    batch must not produce a member==rep star edge (ADVICE medium): the
    self edge can never verify, so `failed` would be non-empty on every
    such epoch and the re-probe pipeline would run for nothing."""
    existing = _docs(spark, [(f"d{i:02d}", BOILER) for i in range(6)])
    _table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), existing
    )
    # the batch re-ingests the bucket's min doc_id ("d00") with its
    # existing text — the exact shape that used to emit a self star edge;
    # with the fix its star relation is EMPTY (every edge would be
    # member==rep), so `failed` can never trip the re-probe pipeline
    batch = _docs(spark, [("d00", BOILER)])
    pairs, mem, star = index.candidates(
        spark, batch, max_bucket=3, return_oversized=True
    )
    assert star.count() == 0
    # the pairs relation still executes cleanly (its only match is the
    # batch doc against its own indexed rows — a self pair callers drop)
    assert pairs.count() >= 0
    # a non-rep batch doc still gets its (member, rep) star edge
    batch2 = _docs(spark, [("zz", BOILER)])
    _p2, _m2, star2 = index.candidates(
        spark, batch2, max_bucket=3, return_oversized=True
    )
    assert {(r["member"], r["rep"]) for r in star2.collect()} == {("zz", "d00")}


def test_stale_frac_unreadable_footer_disables_trigger(spark, tmpdir_):
    """Corrupting a data file's footer must disable the stale-fraction
    auto-rebuild trigger (return 0.0), not inflate the estimate
    (ADVICE low)."""
    from crba_etl_spark.engine import CDCEngine

    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=4, lsh_index=True)
    ev = spark.createDataFrame(
        [(1, "U", "c1", 0, "user", "hello world text", None)],
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    eng.apply_epoch(ev, 0)
    assert eng.index_stale_frac() >= 0.0  # intact: computable
    # corrupt one data file's footer
    df = eng.table.data_files()
    assert df
    with open(df[0], "wb") as f:
        f.write(b"not parquet")
    assert eng.index_stale_frac() == 0.0


def test_delta_conflict_without_rebucket_reraises(spark, tmpdir_, monkeypatch):
    """commit_deltas exhausting its CAS retries for a NON-rebucket
    conflict must escape apply_delta_epoch after one attempt, not
    trigger up to 8 full re-bucket re-writes of the epoch's files
    (ADVICE low)."""
    from crba_etl_spark.operators.merge import apply_delta_epoch
    from crba_etl_spark.schema import TRANSCRIPT

    root = os.path.join(tmpdir_, "t")
    table = IceliteTable.create(root, TRANSCRIPT, n_buckets=4)
    ev = spark.createDataFrame(
        [(1, "U", "c1", 0, "user", "hello", None)],
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        raise CommitConflict("CAS exhausted (not a rebucket)")

    monkeypatch.setattr(table, "commit_deltas", boom)
    with pytest.raises(CommitConflict):
        apply_delta_epoch(spark, table, ev, epoch=0)
    assert calls["n"] == 1


def test_minhash_signatures_matches_rowlocal_form(spark):
    """The codegen'd explode+agg signature pipeline (r7) must be
    value-identical to the row-local transform/array_min form it
    replaced — min over a multiset == min over its distinct set."""
    docs = _docs(
        spark,
        [
            ("a", "abcdefghij"),
            ("b", "abcdefghij"),
            ("c", "zyxwvutsrq"),
            ("d", "abc"),  # shorter than one shingle
            ("e", None),  # dropped: no shingles -> no row
            ("f", ""),  # empty string still yields one '' shingle
        ],
    )
    new = text_dedup.minhash_signatures(docs)

    def old_form(d):
        hashed = d.filter(F.col("text").isNotNull()).select(
            "doc_id",
            F.transform(
                text_dedup.shingle_array(), lambda s: text_dedup.h32(s)
            ).alias("__h"),
        )
        sigs = [
            F.array_min(
                F.transform(
                    F.col("__h"),
                    lambda h: (F.lit(a) * h + F.lit(b))
                    % F.lit(text_dedup.MINHASH_P),
                )
            ).alias(f"s{k}")
            for k, (a, b) in enumerate(
                zip(text_dedup.MINHASH_A, text_dedup.MINHASH_B)
            )
        ]
        return hashed.select("doc_id", *sigs)

    old = old_form(docs)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    assert new.count() == 5  # null text dropped


def _ev(spark, rows):
    return spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string",
    ).withColumn("ts", F.current_timestamp())


def test_labels_delta_auto_compaction(spark, tmpdir_):
    """N small epochs accumulate N labels delta sets; engine.compact()
    with labels_compact_epochs=N folds them to one WITHOUT an index
    rebuild, and the resolved labeling is unchanged (round-6 VERDICT #2
    wiring: read-amplification maintenance independent of
    rebuild_indexes)."""
    from crba_etl_spark.band_index import LABELS_AUX
    from crba_etl_spark.engine import CDCEngine

    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(
        spark,
        root,
        n_buckets=4,
        dedup_labels=True,
        labels_compact_epochs=3,
        stale_rebuild_threshold=2.0,  # isolate: no stale-frac rebuild
    )
    texts = [
        "alpha bravo charlie delta echo foxtrot golf hotel india",
        "alpha bravo charlie delta echo foxtrot golf hotel indiX",
        "completely different text with no overlap whatsoever here",
    ]
    for k, t in enumerate(texts):
        eng.apply_epoch(_ev(spark, [(k + 1, "U", f"c{k}", 0, "user", t, None)]), k)

    def tags():
        ent = eng.table.aux().get(LABELS_AUX, {})
        return {p.split("/")[2] for p in ent.get("files", [])}

    assert len(tags()) == 3
    before = {
        (r["node"], r["label"])
        for r in eng.dedup_labels.read(spark).collect()
    }
    eng.compact()
    assert len(tags()) == 1
    after = {
        (r["node"], r["label"])
        for r in eng.dedup_labels.read(spark).collect()
    }
    assert before == after
    # below threshold: a further compact leaves the folded set alone
    eng.compact()
    assert len(tags()) == 1


def test_rebuild_missing_max_bucket_uses_engine_default(
    spark, tmpdir_, monkeypatch
):
    """A pre-round-6 aux entry (no max_bucket key) must rebuild with the
    engine default cap, not silently flip to None-exact semantics; an
    EXPLICIT None is preserved (round-6 VERDICT #5)."""
    import crba_etl_spark.band_index as BI
    from crba_etl_spark.engine import CDCEngine

    root = os.path.join(tmpdir_, "t")
    eng = CDCEngine(spark, root, n_buckets=4, dedup_labels=True)
    eng.apply_epoch(
        _ev(spark, [(1, "U", "c0", 0, "user", "some text for the index", None)]),
        0,
    )
    # simulate a legacy aux entry: drop the max_bucket key from config
    snap = eng.table.snapshot()
    del snap["aux"][BI.LABELS_AUX]["config"]["max_bucket"]
    name = f"snapshot-{snap['version']:06d}.json"
    eng.table.io.write_manifest(name, snap)

    captured = {}
    real = BI.DedupLabels

    class Recording(real):
        def __init__(self, *a, **k):
            captured.update(k)
            super().__init__(*a, **k)

    monkeypatch.setattr(BI, "DedupLabels", Recording)
    # maintenance run from a CLI-style engine with no labels config
    eng2 = CDCEngine(spark, root, n_buckets=4)
    eng2.compact(rebuild_indexes=True)
    assert captured.get("max_bucket") == BI.DEFAULT_MAX_BUCKET


def test_index_partition_pruning(spark, tmpdir_, monkeypatch):
    """Round-6 VERDICT #1: per-epoch candidate generation reads only the
    index files in partitions the batch's band hashes hit — O(batch-hit
    partitions) while the corpus (epoch count) grows — and the pruned
    result is IDENTICAL to a full-index read. Files from the legacy
    un-partitioned layout are never pruned."""
    import crba_etl_spark.band_index as BI
    from crba_etl_spark.cache import persist_tracked, release_caches
    from crba_etl_spark.operators.text_dedup import _band_rows, minhash_signatures

    root = os.path.join(tmpdir_, "t")
    mk = lambda i: f"document number {i} talks about topic {i % 11} at length {i * 37}"
    table, index = ingest_documents(
        spark, root, _docs(spark, [(f"a{i:03d}", mk(i)) for i in range(40)]),
        n_buckets=8,
    )
    # one LEGACY epoch written with the pre-r7 flat layout
    legacy_rows = index.rows_for(
        _docs(spark, [("leg0", mk(500)), ("leg1", mk(501))]).withColumn(
            "op", F.lit("U")
        ),
        epoch=1,
    )
    out = os.path.join(root, "index/lsh/legacy-tag")
    legacy_rows.repartition(2).write.mode("overwrite").parquet(out)
    legacy = sorted(
        f"index/lsh/legacy-tag/{f}"
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
    table.set_aux(
        BI.AUX_NAME, index.files() + legacy, base_files=index.files()
    )
    # more partitioned epochs: the corpus grows, the batch does not
    for e in range(2, 5):
        ingest_documents(
            spark,
            root,
            _docs(
                spark,
                [(f"e{e}{i:03d}", mk(e * 100 + i)) for i in range(30)],
            ),
            table=table,
            epoch=e,
        )
    release_caches()
    allf = index.files()
    batch = _docs(spark, [("q0", mk(3))])  # near-dup of a003
    nb = _band_rows(persist_tracked(minhash_signatures(batch)))
    pruned = index._pruned_files(spark, nb)
    # strictly fewer files than the whole index, legacy always kept
    assert set(pruned) < set(allf)
    assert set(legacy) <= set(pruned)
    # every pruned-IN partitioned file is in a batch-hit partition
    hits = {}
    for f in pruned:
        p = BI.LshBandIndex._file_part(f)
        if p:
            hits.setdefault(p[0], set()).add(p[1])
    for k, parts in hits.items():
        # 1 doc -> <= 4 distinct band hashes -> <= 4 hit partitions per K
        assert len(parts) <= 4, (k, parts)
    # pruned == unpruned, capped and uncapped
    for mb in (None, 2):
        got = {
            tuple(r)
            for r in index.candidates(spark, batch, max_bucket=mb).collect()
        }
        release_caches()
        monkeypatch.setattr(
            BI.LshBandIndex, "_pruned_files", lambda self, s, b: self.files()
        )
        full = {
            tuple(r)
            for r in index.candidates(spark, batch, max_bucket=mb).collect()
        }
        monkeypatch.undo()
        release_caches()
        assert got == full and got
