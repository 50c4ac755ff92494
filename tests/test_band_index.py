"""Engine-maintained LSH band index (band_index.py, round-4 VERDICT #3).

Contract under test:
1. candidate generation from the PERSISTED index equals fresh recompute
   (the index holds exactly the bands the text yields);
2. the index commit is atomic with the data commit (same snapshot
   version; a crashed index write changes nothing; redelivery adds no
   duplicate index files);
3. the candidates plan re-shingles ONLY the new batch — the existing
   corpus side is a parquet scan of the index files;
4. maintenance ops (marker promotion, compaction, expiry) carry the aux
   section forward, and expiry sweeps orphaned index dirs;
5. the CDC engine path (lsh_index=True) maintains the index across
   epochs including document updates.
"""

import os
import re

from conftest import FixedAux, make_events, stored_rows

from pyspark.sql import functions as F

from crba_etl_spark.band_index import AUX_NAME, LshBandIndex, ingest_documents
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.operators import text_dedup

SF_DIR = "/root/testdata/sf0.001"


def _split(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(100),
    )
    return docs.filter(bucket < 80), docs.filter(bucket >= 80)


def _pairs(df):
    return sorted(
        (str(r["new_id"]), str(r["existing_id"]), int(r["n_shared_bands"]))
        for r in df.collect()
    )


def test_index_candidates_equal_fresh_recompute(spark, tmpdir_):
    existing, new = _split(spark)
    _table, index = ingest_documents(spark, os.path.join(tmpdir_, "t"), existing)
    got = _pairs(index.candidates(spark, new))
    want = _pairs(
        text_dedup.incremental_lsh_candidates(new, existing)
        .withColumnsRenamed({"n_shared_bands": "n_shared_bands"})
    )
    assert got == want and len(got) > 0


def test_ingest_documents_keeps_other_callers_caches(spark, tmpdir_):
    """An ingest releases no persist it did not take: a relation another
    caller tracked before it stays cached after it."""
    from crba_etl_spark.cache import persist_tracked, release_caches

    theirs = persist_tracked(spark.range(100).selectExpr("id", "id * 3 AS v"))
    theirs.count()
    existing, _new = _split(spark)
    try:
        ingest_documents(
            spark, os.path.join(tmpdir_, "t"), existing, dedup_labels=True
        )
        assert theirs.storageLevel.useMemory
    finally:
        release_caches()


def test_commit_atomic_with_data(spark, tmpdir_):
    existing, new = _split(spark)
    table, index = ingest_documents(spark, os.path.join(tmpdir_, "t"), existing)
    snap = table.snapshot()
    files = snap["aux"][AUX_NAME]["files"]
    assert files and all(p.startswith("index/lsh/") for p in files)
    # ONE commit holds both the data and the index: the epoch marker,
    # delta files and aux files appear at the same version
    assert snap["committed_epochs"] == [0]
    assert any(snap["deltas"].values())
    # a crashed index write (files on disk, no commit) changes nothing
    v0 = snap["version"]
    orphan = index.write_epoch(
        index.rows_for(existing.limit(5).withColumn("op", F.lit("U")), epoch=9),
        "e000009-crashed",
    )
    assert orphan and table.snapshot()["version"] == v0
    assert table.snapshot()["aux"][AUX_NAME]["files"] == files
    # redelivery of the committed epoch adds no index rows
    from crba_etl_spark.operators.merge import apply_delta_epoch

    batch = existing.select("doc_id", "text").withColumns(
        {"op": F.lit("U"), "lsn": F.lit(0).cast("long")}
    )
    aux = FixedAux({AUX_NAME: ["index/lsh/bogus/x.parquet"]})
    stats = apply_delta_epoch(spark, table, batch, epoch=0, aux=aux)
    assert stats["skipped"] and aux.calls == 0
    assert table.snapshot()["aux"][AUX_NAME]["files"] == files


def test_plan_reads_index_not_corpus(spark, tmpdir_):
    """The scale contract: per-batch cost is O(batch). The executed plan
    must contain exactly ONE shingle subtree (the new batch's) and a
    parquet scan of the index files for the existing side."""
    existing, new = _split(spark)
    _table, index = ingest_documents(spark, os.path.join(tmpdir_, "t"), existing)
    plan = index.candidates(spark, new)._jdf.queryExecution().executedPlan().toString()
    # ONE cached signature relation, scanned once = one shingle subtree
    # executed (the r7 partition-pruning collect materializes the cache
    # before plan capture, and a MATERIALIZED InMemoryRelation prints
    # its definition twice per scan node — so count scan NODES, not
    # occurrences of the shingle expression string)
    assert plan.count("InMemoryTableScan") == 1
    assert len(re.findall(r"sequence\(1,", plan)) >= 1
    assert "index/lsh" in plan
    # the existing side comes from the index files only: its scan reads
    # the band columns, never the corpus text (no second shingle pass)
    assert "ReadSchema: struct<doc_id:string,band_idx:int,band_hash:string>" in plan


def test_maintenance_carries_aux_and_expiry_sweeps(spark, tmpdir_):
    existing, _new = _split(spark)
    root = os.path.join(tmpdir_, "t")
    table, index = ingest_documents(spark, root, existing)
    files = table.aux()[AUX_NAME]["files"]
    # marker promotion and compaction both carry the aux section
    table.mark_epoch_committed(7)
    assert table.aux()[AUX_NAME]["files"] == files
    table.compact(spark)
    assert table.aux()[AUX_NAME]["files"] == files
    # an orphaned index dir (crashed attempt) is swept; committed files survive
    index.write_epoch(
        index.rows_for(existing.limit(3).withColumn("op", F.lit("U")), epoch=8),
        "e000008-orphan",
    )
    assert os.path.isdir(os.path.join(root, "index/lsh/e000008-orphan"))
    # default age threshold protects a just-written (possibly in-flight
    # pre-commit) dir from a concurrent sweep (round-5 ADVICE)
    res_young = table.expire_snapshots(keep_last=1)
    assert "index/lsh/e000008-orphan" not in res_young["removed_data_dirs"]
    assert os.path.isdir(os.path.join(root, "index/lsh/e000008-orphan"))
    # single-writer maintenance window: sweep regardless of age
    res = table.expire_snapshots(keep_last=1, aux_min_age_s=0.0)
    assert "index/lsh/e000008-orphan" in res["removed_data_dirs"]
    for p in files:
        assert os.path.exists(os.path.join(root, p))
    got = index.read(spark).count()
    assert got > 0


def test_streaming_tail_maintains_index_exactly_once(spark, tmpdir_):
    """The streaming tail reaches the index through the same
    engine.apply_epoch path: every committed slice's winners are indexed
    in the same commit, and a full redelivery under a FRESH streaming
    checkpoint appends zero index files (slice skips never reach the aux
    merge). Completeness: every final-table row's bands are present
    (each final winner won its slice, so its text was indexed then)."""
    from crba_etl_spark.gen import StreamSpec, generate_stream
    from crba_etl_spark.operators.text_dedup import _band_rows, minhash_signatures
    from crba_etl_spark.streaming.tail import stream_apply

    sdir = os.path.join(tmpdir_, "stream")
    generate_stream(
        sdir, StreamSpec(seed=11, n_events=3000, n_epochs=3, evolve_epoch=None)
    )
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor", lsh_index=True
    )
    q = stream_apply(
        spark,
        eng,
        sdir,
        checkpoint_dir=os.path.join(tmpdir_, "ckpt"),
        max_files_per_trigger=1,  # force multi-slice epochs
    )
    q.awaitTermination(timeout=300)
    assert eng.table.committed_epochs() == {0, 1, 2}
    files = set(eng.table.aux()[AUX_NAME]["files"])
    assert files
    index = LshBandIndex(eng.table)
    indexed = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in index.read(spark).collect()
    }
    final_docs = eng.read_final().select(
        F.concat_ws("#", "conv_id", "turn_idx").alias("doc_id"), "text"
    )
    expected = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in _band_rows(minhash_signatures(final_docs)).collect()
    }
    assert expected <= indexed  # stale rows from superseded slices allowed
    # fresh-checkpoint redelivery: zero new index files, zero new versions
    v0 = max(eng.table.versions())
    q2 = stream_apply(
        spark, eng, sdir, checkpoint_dir=os.path.join(tmpdir_, "ckpt2")
    )
    q2.awaitTermination(timeout=300)
    assert set(eng.table.aux()[AUX_NAME]["files"]) == files
    assert max(eng.table.versions()) == v0


def test_engine_dedup_labels_incremental_state(spark, tmpdir_):
    """dedup_labels=True: the full incremental dedup pipeline runs inside
    the commit loop. Epoch 0 groups the in-batch near-dups; epoch 1's
    batch bridges two existing groups through a new doc — the persisted
    labeling must equal a full recompute over the final corpus, the
    epoch-1 delta must contain only changed/new rows, and redelivery
    must append nothing."""
    from crba_etl_spark.band_index import LABELS_AUX, DedupLabels
    from crba_etl_spark.operators.graph import connected_components

    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    t2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    root = os.path.join(tmpdir_, "tbl")
    eng = CDCEngine(spark, root, n_buckets=8, mode="mor", dedup_labels=True)
    e0 = make_events(
        spark,
        [
            (1, 0, "I", "a", 0, "user", t1, None, 0, 0),
            (2, 0, "I", "b", 0, "user", t1 + " x", None, 1, 1),  # ~a#0
            (3, 0, "I", "c", 0, "user", t2, None, 2, 2),
            (4, 0, "I", "d", 0, "user", t2 + " y", None, 3, 3),  # ~c#0
        ],
    )
    eng.apply_epoch(e0, 0)
    labels = DedupLabels(eng.table, eng.lsh_index)
    l0 = {r["node"]: r["label"] for r in labels.read(spark).collect()}
    assert l0["b#0"] == l0["a#0"] and l0["d#0"] == l0["c#0"]
    assert l0["a#0"] != l0["c#0"]
    files0 = set(eng.table.aux()[LABELS_AUX]["files"])
    # epoch 1: a new doc similar to BOTH texts would be unnatural; use
    # two new docs, each near one group, plus an edge between them via a
    # shared near-identical text — simplest bridge: one new doc whose
    # text is near t1 and one near-dup pair inside the batch chaining to
    # a doc near t2 won't bridge; instead UPDATE b#0's text to ~t2: the
    # update adds edges b~c/b~d while b keeps its a-group membership
    # (monotone groups), merging both groups at the union minimum.
    e1 = make_events(spark, [(5, 1, "U", "b", 0, "user", t2 + " z", None, 4, 4)])
    eng.apply_epoch(e1, 1)
    l1 = {r["node"]: r["label"] for r in labels.read(spark).collect()}
    assert len({l1[k] for k in ("a#0", "b#0", "c#0", "d#0")}) == 1
    # delta files for epoch 1 carry only the rows whose label changed
    new_files = set(eng.table.aux()[LABELS_AUX]["files"]) - files0
    assert new_files
    delta_rows = spark.read.parquet(
        *[os.path.join(root, p) for p in new_files]
    ).count()
    changed = sum(1 for k in l1 if l0.get(k) != l1[k])
    assert delta_rows == changed < len(l1)
    # grouping equals a full recompute over FINAL text (with b's edges to
    # its ORIGINAL group kept — monotone): union of old+new edge sets
    final_docs = eng.read_final().select(
        F.concat_ws("#", "conv_id", "turn_idx").alias("doc_id"), "text"
    )
    cur_pairs = text_dedup.jaccard_verify_pairs(
        final_docs, text_dedup.minhash_lsh_candidates(final_docs)
    ).select("id_a", "id_b")
    old_pairs = spark.createDataFrame([("a#0", "b#0")], ["id_a", "id_b"])
    cc = connected_components(
        cur_pairs.union(old_pairs),
        nodes=final_docs.select(F.col("doc_id").alias("node")),
    )
    want = {r["node"]: r["label"] for r in cc.collect()}
    assert {k: l1[k] for k in want} == want
    # redelivery appends nothing
    eng.apply_epoch(e1, 1)
    assert set(eng.table.aux()[LABELS_AUX]["files"]) - files0 == new_files


def test_streaming_dedup_labels_slicewise(spark, tmpdir_):
    """dedup_labels under the streaming tail (multi-slice epochs): every
    final-table doc is labeled exactly once, any verified near-dup pair
    over FINAL text shares a label (completeness — slices can only
    COARSEN grouping, since intermediate winners' texts add edges under
    the documented monotone semantics, never remove them), and a
    fresh-checkpoint redelivery appends neither label nor band files.

    The engine runs in EXACT mode (dedup_max_bucket=None) because the
    strict every-verified-pair property is exact mode's contract: this
    corpus has band buckets of up to ~170 members, and the capped
    default trades a small probabilistic pair recall inside oversized
    buckets (measured 37/22053 pairs here) for the O(n²) bound — that
    weaker default contract is pinned separately in
    test_round6_fixes.py::test_capped_default_residual_is_bounded."""
    from crba_etl_spark.band_index import LABELS_AUX, DedupLabels
    from crba_etl_spark.gen import StreamSpec, generate_stream
    from crba_etl_spark.streaming.tail import stream_apply

    sdir = os.path.join(tmpdir_, "stream")
    generate_stream(
        sdir, StreamSpec(seed=13, n_events=2000, n_epochs=2, evolve_epoch=None)
    )
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor",
        dedup_labels=True, dedup_max_bucket=None,
    )
    q = stream_apply(
        spark, eng, sdir,
        checkpoint_dir=os.path.join(tmpdir_, "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(timeout=300)
    assert eng.table.committed_epochs() == {0, 1}
    labels = DedupLabels(eng.table, eng.lsh_index)
    lab = {r["node"]: r["label"] for r in labels.read(spark).collect()}
    final_docs = eng.read_final().select(
        F.concat_ws("#", "conv_id", "turn_idx").alias("doc_id"), "text"
    )
    doc_ids = {r["doc_id"] for r in final_docs.select("doc_id").collect()}
    assert doc_ids <= set(lab)  # every live doc labeled (tombstones may linger)
    pairs = text_dedup.jaccard_verify_pairs(
        final_docs, text_dedup.minhash_lsh_candidates(final_docs)
    ).collect()
    for r in pairs:
        assert lab[r["id_a"]] == lab[r["id_b"]]
    aux0 = {
        k: set(v["files"]) for k, v in eng.table.aux().items()
    }
    q2 = stream_apply(
        spark, eng, sdir, checkpoint_dir=os.path.join(tmpdir_, "ckpt2")
    )
    q2.awaitTermination(timeout=300)
    assert {
        k: set(v["files"]) for k, v in eng.table.aux().items()
    } == aux0
    assert LABELS_AUX in aux0 and aux0[LABELS_AUX]


def test_index_rebuild_drops_stale_rows(spark, tmpdir_):
    """After updates, rebuild() leaves exactly the bands of CURRENT text
    (no stale rows), candidates stay correct, and the swap is
    lost-update-safe: a commit landing between the rebuild's base read
    and the swap raises CommitConflict instead of dropping its rows."""
    import pytest

    from crba_etl_spark.icelite import CommitConflict
    from crba_etl_spark.operators.text_dedup import _band_rows, minhash_signatures

    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    root = os.path.join(tmpdir_, "tbl")
    eng = CDCEngine(spark, root, n_buckets=8, mode="mor", lsh_index=True)
    eng.apply_epoch(
        make_events(spark, [(1, 0, "I", "a", 0, "user", t1, None, 0, 0)]), 0
    )
    t1b = t1.replace("alpha", "zulu")
    eng.apply_epoch(
        make_events(spark, [(2, 1, "U", "a", 0, "user", t1b, None, 1, 1)]), 1
    )
    index = LshBandIndex(eng.table)
    assert index.read(spark).count() > 4  # stale rows from both texts
    eng.compact(rebuild_indexes=True)
    indexed = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in index.read(spark).collect()
    }
    final_docs = eng.read_final().select(
        F.concat_ws("#", "conv_id", "turn_idx").alias("doc_id"), "text"
    )
    want = {
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in _band_rows(minhash_signatures(final_docs)).collect()
    }
    assert indexed == want  # stale rows gone, nothing current missing
    # lost-update protection: compute a rebuild against a stale base
    stale_base = index.files()
    eng.apply_epoch(
        make_events(spark, [(3, 2, "I", "b", 0, "user", t1, None, 2, 2)]), 2
    )
    with pytest.raises(CommitConflict):
        eng.table.set_aux("lsh_bands", ["index/lsh/bogus/x.parquet"], stale_base)
    # and a valid rebuild from the CURRENT base still succeeds
    index.rebuild(spark)
    assert index.read(spark).filter(F.col("doc_id") == "b#0").count() > 0


def test_labels_compact_preserves_resolution(spark, tmpdir_):
    from crba_etl_spark.band_index import LABELS_AUX, DedupLabels

    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    root = os.path.join(tmpdir_, "tbl")
    eng = CDCEngine(spark, root, n_buckets=8, mode="mor", dedup_labels=True)
    eng.apply_epoch(
        make_events(
            spark,
            [
                (1, 0, "I", "a", 0, "user", t1, None, 0, 0),
                (2, 0, "I", "b", 0, "user", t1 + " x", None, 1, 1),
            ],
        ),
        0,
    )
    eng.apply_epoch(
        make_events(spark, [(3, 1, "I", "c", 0, "user", t1 + " y", None, 2, 2)]), 1
    )
    labels = DedupLabels(eng.table, eng.lsh_index)
    before = {r["node"]: r["label"] for r in labels.read(spark).collect()}
    n_files_before = len(eng.table.aux()[LABELS_AUX]["files"])
    labels.compact(spark)
    after = {r["node"]: r["label"] for r in labels.read(spark).collect()}
    assert after == before
    assert len(eng.table.aux()[LABELS_AUX]["files"]) <= n_files_before


def test_engine_maintains_index_across_epochs(spark, tmpdir_):
    """CDC path: two epochs (insert + update), index committed with each
    epoch; candidates against the index equal fresh recompute over the
    table's FINAL text — the stale rows an update leaves behind may only
    ever add candidates that exact verification would drop, never lose
    one (here the probe matches the updated text, exercising exactly
    that)."""
    root = os.path.join(tmpdir_, "tbl")
    eng = CDCEngine(spark, root, n_buckets=8, mode="mor", lsh_index=True)
    base = "the quick brown fox jumps over the lazy dog again and again"
    e0 = make_events(
        spark,
        [
            (1, 0, "I", "c1", 0, "user", base, None, 0, 0),
            (2, 0, "I", "c2", 0, "user", "completely unrelated text about spark", None, 1, 1),
        ],
    )
    eng.apply_epoch(e0, 0)
    v1_files = set(eng.table.aux()[AUX_NAME]["files"])
    assert v1_files
    updated = base.replace("dog", "cat")
    e1 = make_events(spark, [(3, 1, "U", "c1", 0, "user", updated, None, 2, 2)])
    eng.apply_epoch(e1, 1)
    v2_files = set(eng.table.aux()[AUX_NAME]["files"])
    assert v1_files < v2_files  # epoch 1's band files appended
    # probe: a near-copy of the UPDATED text must hit c1#0 via the index
    probe = spark.createDataFrame(
        [("p1", updated + " tail")], ["doc_id", "text"]
    )
    index = LshBandIndex(eng.table)
    got = {
        (r["new_id"], r["existing_id"]) for r in index.candidates(spark, probe).collect()
    }
    assert ("p1", "c1#0") in got
    # fresh recompute over final table text finds no pair the index missed
    final_docs = eng.read_final().select(
        F.concat_ws("#", "conv_id", "turn_idx").alias("doc_id"), "text"
    )
    fresh = {
        (r["new_id"], r["existing_id"])
        for r in text_dedup.incremental_lsh_candidates(probe, final_docs).collect()
    }
    assert fresh <= got


def test_labels_compaction_fires_in_cow_mode(spark, tmpdir_):
    """The labels-delta threshold is table-state maintenance in every
    mode: a COW engine (no data compaction at all) keeps no more than
    ``labels_compact_epochs`` label tag dirs after each epoch, and the
    resolved labeling equals that of an engine that never compacts."""
    from crba_etl_spark.band_index import LABELS_AUX, DedupLabels

    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    epochs = [
        [(1, 0, "I", "a", 0, "user", t1, None, 0, 0),
         (2, 0, "I", "b", 0, "user", t1 + " x", None, 1, 1)],
        [(3, 1, "I", "c", 0, "user", t1 + " y", None, 2, 2)],
        [(4, 2, "I", "d", 0, "user", "an unrelated sentence about spark", None, 3, 3),
         (5, 2, "U", "a", 0, "user", t1 + " z", None, 4, 4)],
    ]
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "cow"), n_buckets=4, mode="cow",
        dedup_labels=True, labels_compact_epochs=2,
    )
    ref = CDCEngine(
        spark, os.path.join(tmpdir_, "ref"), n_buckets=4, mode="cow",
        dedup_labels=True, labels_compact_epochs=0,
    )

    def labels(e):
        rows = DedupLabels(e.table, e.lsh_index).read(spark).collect()
        return {r["node"]: r["label"] for r in rows}

    for k, rows in enumerate(epochs):
        eng.apply_epoch(make_events(spark, rows), k)
        ref.apply_epoch(make_events(spark, rows), k)
        files = eng.table.aux()[LABELS_AUX]["files"]
        assert len({p.split("/")[2] for p in files}) <= 2, k
        assert labels(eng) == labels(ref), k


# --- the driver-side dedup-label epoch ----------------------------------


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran) — counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_compute_reads_partitions_without_jobs(spark):
    """spread_compute reads the partition count from the plan: a shuffled
    (or cached shuffled) relation runs no job, and a one-partition input
    is still spread to the session parallelism."""
    from crba_etl_spark.spread import spread_compute

    shuffled = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    cached = spark.range(1000).repartition(3, "id").persist()
    for df in (shuffled, cached):
        out, jobs = _count_jobs(spark, lambda: spread_compute(df))
        assert jobs == 0
    cached.unpersist()
    one = spark.range(0, 100, 1, 1)
    out = spread_compute(one)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_apply_s_covers_label_work(spark, tmpdir_, monkeypatch):
    """stats['apply_s'] is the whole apply_epoch, label delta included."""
    import time

    from crba_etl_spark.band_index import DedupLabels

    real = DedupLabels.delta_for_epoch

    def slow(self, *a, **k):
        time.sleep(0.5)
        return real(self, *a, **k)

    monkeypatch.setattr(DedupLabels, "delta_for_epoch", slow)
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=2, dedup_labels=True)
    stats = eng.apply_epoch(
        make_events(
            spark, [(1, 0, "I", "a", 0, "user", "some text to label", None, 0, 0)]
        ),
        0,
    )
    assert stats["apply_s"] >= 0.5


def test_delta_rejects_a_doc_id_with_two_texts(spark, tmpdir_):
    """A batch is one row per document: a doc_id carrying two texts would
    get a signature mixing both, so the batch's footprint refuses it."""
    import pytest

    docs = spark.createDataFrame(
        [("d1", "alpha bravo charlie delta"), ("d1", "kilo lima mike november")],
        ["doc_id", "text"],
    )
    table, index = ingest_documents(spark, os.path.join(tmpdir_, "t"), docs.limit(0))
    batch = docs.withColumns({"op": F.lit("U"), "lsn": F.lit(1).cast("long")})
    with pytest.raises(ValueError, match="d1"):
        index.batch_bands(spark, stored_rows(index, batch), 1)


def _template_docs(spark):
    """Four templates with per-doc edits (oversized band buckets at small
    caps, mixed with false positives across templates) plus singletons."""
    shared = " ".join(f"w{i:03d}" for i in range(40))
    rows = []
    for t, tail in enumerate(["qa ra sa", "xb yb zb", "mc nc oc", "pd qd rd"]):
        for i in range(9):
            rows.append((f"t{t}-{i}", f"{shared} {tail} v{i % 3}"))
    rows += [
        (f"s{i}", f"unrelated sentence number {i} about {i * 7}") for i in range(12)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_batch_buckets_equal_spark_reference(spark):
    """The driver-side in-batch buckets, star edges, oversized-bucket
    membership and probe panel equal minhash_lsh_candidates(...,
    return_oversized=True) and probe_panel, capped and uncapped."""
    from crba_etl_spark.band_index import _batch_buckets, _panel_pick
    from crba_etl_spark.cache import release_caches
    from crba_etl_spark.operators.text_dedup import _band_rows, minhash_signatures

    docs = _template_docs(spark)
    bands = {}
    for r in _band_rows(minhash_signatures(docs)).orderBy("band_idx").collect():
        bands.setdefault(r["doc_id"], []).append(r["band_hash"])
    bands = {d: tuple(h) for d, h in bands.items()}
    seen_oversized = False
    for cap in (None, 2, 4, 8):
        pairs, mem, star = _batch_buckets(bands, cap)
        ref_pairs, ref_mem, ref_star = text_dedup.minhash_lsh_candidates(
            docs, max_bucket=cap, return_oversized=True
        )
        assert dict(pairs) == {
            (r["id_a"], r["id_b"]): r["n_shared_bands"] for r in ref_pairs.collect()
        }
        if cap is None:
            assert not mem and not star and ref_mem is None
            continue
        assert {
            (bkey, d, rep) for bkey, m in mem.items() for d, rep in m.items()
        } == {tuple(r) for r in ref_mem.select("bkey", "doc_id", "rep").collect()}
        assert sorted(star) == sorted(
            tuple(r) for r in ref_star.select("bkey", "member", "rep").collect()
        )
        ref_panel = {}
        for r in text_dedup.probe_panel(ref_mem, panel_size=5).collect():
            ref_panel.setdefault(r["bkey"], set()).add(r["probe_id"])
        assert {
            bkey: {_panel_pick(j, m) for j in range(5)} for bkey, m in mem.items()
        } == ref_panel
        seen_oversized |= bool(mem)
        release_caches()
    assert seen_oversized


def test_indexed_buckets_equal_spark_reference(spark, tmpdir_):
    """The driver-side new×existing side — LshBandIndex.probe plus
    _indexed_buckets — gives the pairs and star edges of
    LshBandIndex.candidates(..., return_oversized=True), panels equal to
    probe_panel over its oversized membership, and each indexed doc's
    table bucket, capped and uncapped."""
    from crba_etl_spark.band_index import DedupLabels, _indexed_buckets
    from crba_etl_spark.cache import release_caches
    from crba_etl_spark.icelite import bucket_expr

    docs = _template_docs(spark)
    existing = docs.filter(~F.col("doc_id").rlike("-[78]$|^s1"))
    new = docs.filter(F.col("doc_id").rlike("-[78]$|^s1"))
    table, index = ingest_documents(
        spark, os.path.join(tmpdir_, "t"), existing, n_buckets=4
    )
    batch = new.withColumns({"op": F.lit("U"), "lsn": F.lit(1).cast("long")})
    bb = index.batch_bands(spark, stored_rows(index, batch), 1)
    bkeys = {f"{b}:{h}" for hs in bb.bands.values() for b, h in enumerate(hs)}
    stored = {
        r[0]: r[1]
        for r in table.read(spark).select("doc_id", bucket_expr(4, "doc_id")).collect()
    }
    bucket_of = DedupLabels(table, index)._bucket_of
    seen_oversized = False
    for cap in (None, 2, 4):
        probed = index.probe(bb, bkeys, cap, 5, bucket_of)
        pairs, star, picks, bucket = _indexed_buckets(bb.bands, probed)
        out = index.candidates(
            spark, new, max_bucket=cap, return_oversized=cap is not None
        )
        ref_pairs, ref_mem, ref_star = out if cap is not None else (out, None, None)
        assert pairs == {
            (r["new_id"], r["existing_id"])
            for r in ref_pairs.collect()
            if r["new_id"] != r["existing_id"]
        }
        assert bucket and all(stored[d] == b for d, b in bucket.items())
        if cap is None:
            assert not star and not picks
            continue
        assert sorted(star) == sorted(
            tuple(r) for r in ref_star.select("bkey", "member", "rep").collect()
        )
        ref_panel = {}
        for r in text_dedup.probe_panel(ref_mem, panel_size=5).collect():
            ref_panel.setdefault(r["bkey"], set()).add(r["probe_id"])
        assert {bkey: set(p.values()) for bkey, p in picks.items()} == ref_panel
        seen_oversized |= bool(picks)
        release_caches()
    assert seen_oversized


def test_dedup_epochs_equal_exact_closure_within_job_budget(spark, tmpdir_):
    """Three engine epochs against a non-empty index and labeling, with
    updates, a delete, exact duplicates (in the batch and against the
    corpus) and a FALSE-POSITIVE oversized bucket (two groups sharing a
    long prefix, capped at 3, threshold 0.95) whose failed star edges
    only the re-probe recovers. The labels equal the exact closure of
    the monotone model — every pair at or above the threshold between a
    batch document and the batch or the table as of its epoch, grouped
    by union-find — and each applied epoch stays within its Spark job
    budget: 2 from empty (the data write; the epoch's texts are read
    back from its delta files and the band and label files written from
    the driver, by no job), 10 and 9 for the epochs that probe the index
    and fold into stored labels."""
    from crba_etl_spark.band_index import DedupLabels
    from crba_etl_spark.operators.graph import _driver_union_find

    shared = " ".join(f"w{i:03d}" for i in range(60))
    thr = 0.95
    epochs = [
        [("I", "a", shared + " qa ra sa"), ("I", "b", shared + " xb yb zb"),
         ("I", "c", shared + " qa ra sb"), ("I", "d", shared + " xb yb zc"),
         ("I", "e", "exact duplicate text number one"),
         ("I", "f", "exact duplicate text number one"),
         ("I", "u", "a lonely sentence about the weather today")],
        [("I", "g", shared + " xb yb zd"),
         ("I", "h", "exact duplicate text number one"),
         ("U", "f", "a lonely sentence about the weather today!"),
         ("I", "i", "fresh pair of twin texts here"),
         ("I", "j", "fresh pair of twin texts here")],
        [("I", "k", shared + " qa ra sc"), ("D", "u", None),
         ("U", "i", "fresh pair of twin texts here."),
         ("I", "m", shared + " xb yb ze")],
    ]

    def shingles(t):
        return {t[i : i + 5] for i in range(max(len(t) - 4, 1))}

    def jac(x, y):
        a, b = shingles(x), shingles(y)
        inter = len(a & b)
        return inter > 0 and round(inter / (len(a) + len(b) - inter), 6) >= thr

    def run(reprobe):
        eng = CDCEngine(
            spark, os.path.join(tmpdir_, f"t{reprobe}"), n_buckets=4,
            dedup_labels=True, dedup_max_bucket=3,
        )
        eng.dedup_labels.threshold = thr
        eng.dedup_labels.reprobe = reprobe
        jobs = []
        lsn = 0
        for k, batch in enumerate(epochs):
            rows = []
            for op, conv, text in batch:
                lsn += 1
                rows.append((lsn, k, op, conv, 0, "user", text, None, lsn, lsn))
            stats, n = _count_jobs(
                spark, lambda: eng.apply_epoch(make_events(spark, rows), k)
            )
            assert not stats.get("skipped")
            jobs.append(n)
        got = DedupLabels(eng.table, eng.lsh_index).read(spark).collect()
        return {r["node"]: r["label"] for r in got}, jobs

    live, nodes, edges = {}, set(), []
    for batch in epochs:
        new = {f"{c}#0": t for op, c, t in batch if op != "D"}
        for x, tx in new.items():
            partners = {**{y: ty for y, ty in live.items() if y not in new}, **new}
            edges += [(x, y) for y, ty in partners.items() if y != x and jac(tx, ty)]
        nodes |= set(new)
        live.update(new)
        for op, c, _t in batch:
            if op == "D":
                live.pop(f"{c}#0")
    comp = _driver_union_find(edges)
    want = {n: comp.get(n, n) for n in nodes}

    got, jobs = run(reprobe=8)
    assert got == want
    assert want["b#0"] == want["d#0"] != want["a#0"]  # the false positives split
    assert len(jobs) == 3 and all(n <= b for n, b in zip(jobs, [2, 10, 9])), jobs
    # the re-probe is load-bearing on this corpus
    assert run(reprobe=0)[0] != want
