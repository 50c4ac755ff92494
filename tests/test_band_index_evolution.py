"""Band index under schema/bucket evolution, adversarially (round-5
VERDICT #6): (a) additive schema evolution mid-stream while the index is
maintained; (b) a rebucket landing BETWEEN an index write and its
epoch's commit — the interleaving that used to append delta files keyed
by the OLD bucket function into a rebucketted table (silent wrong
bucket-pruned reads); the commit now detects it, re-buckets, and
retries."""

import os

from conftest import FixedAux, make_events, stored_rows

from pyspark.sql import functions as F

from crba_etl_spark.band_index import AUX_NAME, LABELS_AUX, DedupLabels, LshBandIndex
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.icelite import bucket_expr
from crba_etl_spark.operators import text_dedup
from crba_etl_spark.operators.dedup import reduce_batch
from crba_etl_spark.operators.merge import apply_delta_epoch

T1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
T2 = "kilo lima mike november oscar papa quebec romeo sierra tango"


def _final_docs(eng):
    return eng.read_final().select(
        F.concat_ws("#", "conv_id", "turn_idx").alias("doc_id"), "text"
    )


def _fresh_candidates(probe, final_docs):
    return {
        (r["new_id"], r["existing_id"])
        for r in text_dedup.incremental_lsh_candidates(probe, final_docs).collect()
    }


def test_index_maintained_across_schema_evolution(spark, tmpdir_):
    """Epoch 0 arrives on the v0 schema (no tool column), epoch 1 on the
    evolved schema, with the index AND the labels maintained throughout:
    candidates from the persisted index must cover a fresh recompute
    over the final (evolved) table, and every live doc must be labeled."""
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor",
        dedup_labels=True,
    )
    e0 = make_events(
        spark,
        [
            (1, 0, "I", "a", 0, "user", T1, None, 0, 0),
            (2, 0, "I", "b", 0, "user", T2, None, 1, 1),
        ],
        with_tool=False,
    )
    eng.apply_epoch(e0, 0)
    e1 = make_events(
        spark,
        [
            (3, 1, "U", "a", 0, "user", T1 + " x", "browser", 2, 2),
            (4, 1, "I", "c", 0, "user", T2 + " y", None, 3, 3),
        ],
    )
    eng.apply_epoch(e1, 1)
    assert "tool" in [f.name for f in eng.table.schema().fields]
    final = _final_docs(eng)
    probe = spark.createDataFrame([("p", T1 + " x z")], ["doc_id", "text"])
    got = {
        (r["new_id"], r["existing_id"])
        for r in eng.lsh_index.candidates(spark, probe).collect()
    }
    assert _fresh_candidates(probe, final) <= got
    labels = DedupLabels(eng.table, eng.lsh_index)
    lab = {r["node"]: r["label"] for r in labels.read(spark).collect()}
    doc_ids = {r["doc_id"] for r in final.select("doc_id").collect()}
    assert doc_ids <= set(lab)
    assert lab["c#0"] == lab["b#0"]  # near-dup across the evolution boundary


def test_rebucket_between_index_write_and_commit(spark, tmpdir_):
    """THE adversarial interleaving: epoch 1's band files are written
    (pre-commit), a rebucket to a different bucket count lands, THEN the
    data commit runs. The commit must reject the stale-bucketed delta
    files, re-write them under the new bucket function, and carry the
    aux files — leaving (1) every delta file consistent with the new
    bucketing, (2) bucket-pruned reads correct, (3) index candidates
    equal to a fresh recompute over final text."""
    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor",
        lsh_index=True,
    )
    eng.apply_epoch(
        make_events(
            spark,
            [
                (1, 0, "I", "a", 0, "user", T1, None, 0, 0),
                (2, 0, "I", "b", 0, "user", T2, None, 1, 1),
            ],
        ),
        0,
    )
    table = eng.table
    events = make_events(
        spark,
        [
            (3, 1, "U", "a", 0, "user", T1 + " updated", None, 2, 2),
            (4, 1, "I", "c", 0, "user", T2 + " fresh", None, 3, 3),
        ],
    )
    reduced = reduce_batch(events)
    index = eng.lsh_index
    band_files = index.write_epoch(index.rows_for(reduced, 1), "e000001-race")
    # the adversary: bucket-count evolution lands between the index write
    # and the epoch's data commit
    table.rebucket(spark, 5)
    assert table.n_buckets() == 5
    aux = FixedAux({AUX_NAME: band_files})
    stats = apply_delta_epoch(spark, table, reduced, epoch=1, aux=aux)
    assert not stats.get("skipped") and aux.calls == 1
    snap = table.snapshot()
    assert int(snap["n_buckets"]) == 5
    # (1) every committed delta file's rows hash to their bucket key
    # under the NEW function
    for b, files in snap.get("deltas", {}).items():
        rows = spark.read.parquet(
            *[os.path.join(table.root, p) for p in files]
        )
        bad = rows.filter(bucket_expr(5, "conv_id") != int(b)).count()
        assert bad == 0, f"bucket {b} holds stale-bucketed rows"
    # (2) bucket-pruned read of each key's NEW bucket finds it
    for conv, want_text in (("a", T1 + " updated"), ("c", T2 + " fresh")):
        b = spark.createDataFrame([(conv,)], ["conv_id"]).select(
            bucket_expr(5, "conv_id").alias("b")
        ).collect()[0]["b"]
        got = (
            table.read_resolved(spark, buckets={int(b)})
            .filter((F.col("conv_id") == conv) & (F.col("turn_idx") == 0))
            .collect()
        )
        assert len(got) == 1 and got[0]["text"] == want_text
    # (3) index candidates equal fresh recompute over final text
    final = _final_docs(eng)
    probe = spark.createDataFrame(
        [("p", T1 + " updated tail")], ["doc_id", "text"]
    )
    got = {
        (r["new_id"], r["existing_id"])
        for r in index.candidates(spark, probe).collect()
    }
    assert _fresh_candidates(probe, final) <= got
    assert ("p", "a#0") in got


def test_rebucket_between_label_fold_and_commit(spark, tmpdir_):
    """Same adversary, against the LABELS: the epoch's label delta is
    computed against the pre-rebucket snapshot, the rebucket lands, then
    the commit (data + bands + labels in one aux_add) retries under the
    new bucketing. Labels are bucket-agnostic content, so the fold must
    land unchanged and equal a full-recompute closure."""
    from crba_etl_spark.operators.graph import connected_components

    eng = CDCEngine(
        spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor",
        dedup_labels=True,
    )
    eng.apply_epoch(
        make_events(
            spark,
            [
                (1, 0, "I", "a", 0, "user", T1, None, 0, 0),
                (2, 0, "I", "b", 0, "user", T2, None, 1, 1),
            ],
        ),
        0,
    )
    table = eng.table
    events = make_events(
        spark, [(3, 1, "I", "c", 0, "user", T1 + " z", None, 2, 2)]
    )
    reduced = reduce_batch(events)
    index, labels = eng.lsh_index, eng.dedup_labels
    band_files = index.write_epoch(index.rows_for(reduced, 1), "e000001-race")
    label_files = labels.write_epoch(
        labels.delta_for_epoch(index.batch_bands(spark, stored_rows(index, reduced), 1)),
        "e000001-race",
    )
    table.rebucket(spark, 5)
    aux = FixedAux({AUX_NAME: band_files, LABELS_AUX: label_files})
    stats = apply_delta_epoch(spark, table, reduced, epoch=1, aux=aux)
    assert not stats.get("skipped") and aux.calls == 1
    lab = {r["node"]: r["label"] for r in labels.read(spark).collect()}
    final = _final_docs(eng)
    pairs = text_dedup.jaccard_verify_pairs(
        final, text_dedup.minhash_lsh_candidates(final)
    ).select("id_a", "id_b")
    cc = connected_components(
        pairs, nodes=final.select(F.col("doc_id").alias("node"))
    )
    want = {r["node"]: r["label"] for r in cc.collect()}
    assert {k: lab[k] for k in want} == want
    assert lab["c#0"] == lab["a#0"]
