"""Epoch apply (M3): one reduced change batch × an icelite table.

The north rule, keyed by (conv_id, turn_idx): the row with the highest
LSN wins; a D stores a tombstone (also for an absent key, so a
straggling lower-LSN insert can never resurrect it); an event at or
below the key's applied LSN is stale — the stored row wins and the
event goes to the quarantine table (late data is *audited*, never
silently dropped).

Both apply modes run one body, :func:`_apply`. Each attempt pins one
snapshot, evolves the schema from it and shapes the batch once as
stored rows (payload + ``__lsn``/``__deleted``/``__epoch``/``__bucket``).
The modes differ only in what they write and how they commit:

- merge-on-read (:func:`apply_delta_epoch`) writes those rows as
  per-bucket delta files and appends them (``commit_deltas``); reads and
  compaction resolve them by max ``__lsn`` per key;
- copy-on-write (:func:`merge_epoch`) folds them into the buckets they
  hit with that same resolution operator — ``reduce_latest`` over the
  buckets' stored rows ∪ the batch rows — and swaps in the rewritten
  buckets (``commit`` against the pinned base). On an LSN tie the
  stored row wins, so an equal-LSN redelivery keeps the epoch that first
  applied it. Only the buckets the batch hits are read and rewritten.

Row counts ride the write job via ``Observation``. The stale audit is
one column-pruned scan (key + ``__lsn``) of the affected buckets joined
with the batch; each applied unit (epoch or streaming slice) writes its
own quarantine directory.

An ``aux`` hook (``band_index.EpochAux``) runs once per apply, after the
data write and before the commit, on the epoch's stored rows as Arrow:
merge-on-read reads back the delta files it just wrote with ``pyarrow``
(no Spark job); copy-on-write takes them from its persisted batch,
because its written files also hold the buckets' other stored rows. The
hook writes the epoch's aux artifacts and returns the ``aux_add`` the
commit records with the data. A hook failure, like a failed commit,
leaves only unreferenced dirs behind.
"""

from __future__ import annotations

import os
import time
from typing import TYPE_CHECKING

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..icelite import (
    BUCKET_COL,
    CommitConflict,
    IceliteTable,
    bucket_expr,
    cluster_by_bucket,
)
from ..metrics import unit_name
from ..schema import DELETED_COL, EPOCH_COL, LSN_COL
from .dedup import reduce_latest
from .evolve import align_to, merge_schemas

if TYPE_CHECKING:
    from ..band_index import EpochAux

#: change-envelope columns that are not part of the stored payload
ENVELOPE_COLS = {"op", "lsn", "epoch", "ingest_ts"}


def batch_payload_schema(batch: DataFrame) -> T.StructType:
    return T.StructType(
        [f for f in batch.schema.fields if f.name not in ENVELOPE_COLS]
    )


def merge_epoch(
    spark: SparkSession,
    table: IceliteTable,
    reduced: DataFrame,
    epoch: int,
    quarantine_dir: str | None = None,
    slice_marker: str | None = None,
    mark_epoch: bool = True,
    slice_files: list[str] | None = None,
    aux: "EpochAux | None" = None,
    snap: dict | None = None,
) -> dict:
    """Copy-on-write apply: fold one reduced batch (one row per key) into
    the buckets it hits, rewrite them and commit atomically with the
    epoch marker. Returns apply stats.

    ``slice_marker`` switches the idempotence unit from whole epoch to
    this slice (streaming micro-batch carrying part of an epoch);
    ``mark_epoch=False`` additionally withholds the epoch id from
    ``committed_epochs`` so a later batch replay won't skip the rest.

    ``aux``: the hook that computes the epoch's aux artifacts from its
    written rows (see the module notes). ``snap``: the snapshot the first
    attempt applies against (default: the live one, read here).

    Concurrency: the fold reads a PINNED base snapshot version and the
    commit validates the affected buckets against it (see
    ``IceliteTable.commit``) — if a concurrent writer touched one since,
    the commit raises CommitConflict and the apply re-reads, re-folds and
    re-writes from the fresh snapshot (Iceberg's serializable-merge
    retry), so a concurrent commit's rows are never silently dropped."""
    return _apply(
        spark, table, reduced, epoch, quarantine_dir, slice_marker,
        mark_epoch, slice_files, aux, snap, cow=True, repartition=False,
    )


def apply_delta_epoch(
    spark: SparkSession,
    table: IceliteTable,
    reduced: DataFrame,
    epoch: int,
    quarantine_dir: str | None = None,
    pre_partitioned: bool = False,
    slice_marker: str | None = None,
    mark_epoch: bool = True,
    slice_files: list[str] | None = None,
    aux: "EpochAux | None" = None,
    snap: dict | None = None,
) -> dict:
    """Merge-on-read apply (the sustained-throughput path): write the
    reduced batch as per-bucket **delta files** and commit — nothing in
    the table is read or rewritten, so apply cost is O(batch) regardless
    of table size. Conflicts (multiple versions of a key across base and
    deltas) are resolved on read / at compaction by max-__lsn per key.

    If ``quarantine_dir`` is set, stale events (lsn ≤ already-applied lsn
    for the key) are additionally audited eagerly with a column-pruned
    scan of the affected buckets (reads only key + __lsn columns).

    ``slice_marker``/``mark_epoch``/``aux``/``snap``: see
    :func:`merge_epoch`.

    Concurrency: the commit validates that the table's BUCKET COUNT is
    still the one the delta files were written under — a rebucket
    landing between the write and the commit would otherwise leave the
    epoch's rows keyed by the old bucket function inside a table whose
    readers prune by the new one (silent wrong reads). On that specific
    conflict the files are re-written under the fresh bucketing and the
    commit retried; a crashed attempt's dir is an unreferenced orphan.
    """
    return _apply(
        spark, table, reduced, epoch, quarantine_dir, slice_marker,
        mark_epoch, slice_files, aux, snap, cow=False,
        repartition=not pre_partitioned,
    )


def _apply(
    spark: SparkSession,
    table: IceliteTable,
    reduced: DataFrame,
    epoch: int,
    quarantine_dir: str | None,
    slice_marker: str | None,
    mark_epoch: bool,
    slice_files: list[str] | None,
    aux: "EpochAux | None",
    snap: dict | None,
    cow: bool,
    repartition: bool,
) -> dict:
    """The one apply body: per attempt, shape the batch as stored rows
    against the pinned base, write them (MOR) or their fold into the
    affected buckets (COW), audit stale events, commit. A COW attempt
    re-merges after any CommitConflict; a MOR attempt only after a
    rebucket (its deltas are stale only under a new bucket function).
    The ``aux`` hook runs on the first attempt's write; a retry commits
    the ``aux_add`` it returned. A hook that raises (e.g.
    ``LshBandIndex.batch_bands`` on a ``doc_id`` with two texts) leaves
    the snapshot as it was and the written data dir an unreferenced
    orphan, which ``expire_snapshots`` sweeps."""
    snap = snap if snap is not None else table.snapshot()
    if skip := table.skip_if_committed(epoch, slice_marker, mark_epoch, snap):
        return skip
    t0 = time.monotonic()
    key_cols = snap["key_cols"]  # honor custom keys persisted in the snapshot
    aux_add = None
    held: list[DataFrame] = []
    try:
        for attempt in range(8):
            n_buckets, base = snap["n_buckets"], snap["version"]
            # additive schema evolution from THIS attempt's base: a retry
            # must keep columns a concurrent writer added, or a COW
            # rewrite would project them away from the affected buckets
            evolved = merge_schemas(
                T.StructType.fromJson(snap["schema"]), batch_payload_schema(reduced)
            )
            batch = align_to(
                reduced,
                T.StructType(
                    list(evolved.fields)
                    + [f for f in reduced.schema.fields if f.name in ("op", "lsn")]
                ),
            )
            if cow:
                # read three times: bucket collect, fold, audit
                batch = batch.persist()
                held.append(batch)
            rows = batch.select(
                *evolved.fieldNames(),
                F.col("lsn").alias(LSN_COL),
                (F.col("op") == "D").alias(DELETED_COL),
                F.lit(epoch).cast("long").alias(EPOCH_COL),
            ).withColumn(BUCKET_COL, bucket_expr(n_buckets, key_cols[0]))
            obs = Observation(f"apply-epoch-{epoch}-a{attempt}")
            counts = [
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum(F.col(DELETED_COL).cast("int")), F.lit(0)).alias("dels"),
            ]
            if cow:
                per_bucket = rows.groupBy(BUCKET_COL).count().collect()
                affected = {int(r[0]) for r in per_bucket}
                keys = sum(int(r[1]) for r in per_bucket)
                # stored ∪ batch, max (__lsn, stored) per key: the
                # stored row wins an LSN tie, so a redelivery is stale.
                # One exchange clusters the union for the fold and the write
                stored = table.read_stored(spark, affected, evolved, snap=snap)
                both = cluster_by_bucket(
                    stored.withColumn("_stored", F.lit(True)).unionByName(
                        rows.drop(BUCKET_COL).withColumn("_stored", F.lit(False))
                    ),
                    n_buckets,
                    key_cols[0],
                )
                out = (
                    reduce_latest(both, key_cols, F.struct(LSN_COL, "_stored"))
                    .observe(
                        obs, *counts,
                        F.coalesce(F.sum((~F.col("_stored")).cast("int")), F.lit(0))
                        .alias("fresh"),
                    )
                    .drop("_stored")
                    .withColumn(BUCKET_COL, bucket_expr(n_buckets, key_cols[0]))
                )
            else:
                out = rows.observe(obs, *counts)
                if repartition:
                    # each bucket wholly in one partition: one file per bucket
                    out = cluster_by_bucket(out, n_buckets, key_cols[0])
            new_files = table.write_merged(out, epoch=epoch, version=base + 1)
            m = obs.get
            if not cow:
                affected, keys = set(new_files), int(m["rows"])
            if aux is not None:
                # COW's files also hold the buckets' other rows: take the
                # batch's from its cache instead
                written = (
                    rows.select(*aux.columns).toArrow()
                    if cow
                    else _written_rows(table.root, new_files, aux.columns)
                )
                aux_add, aux = aux(written), None  # once: a retry reuses it
            # COW knows its stale count from the fold; MOR only by auditing
            stale = keys - int(m["fresh"]) if cow else 0
            if quarantine_dir is not None and (stale or not cow):
                stale = _audit(
                    spark, table, batch, affected, evolved, snap, key_cols,
                    epoch, os.path.join(quarantine_dir, unit_name(epoch, slice_marker)),
                )
            stats = {
                "epoch": epoch,
                "skipped": False,
                "mode": "cow" if cow else "mor",
                "keys_in_batch": keys,
                "affected_buckets": sorted(affected),
                "n_affected_buckets": len(affected),
                "rows_out": int(m["rows"]),
                "rows_applied": keys - stale,
                "rows_carried": int(m["rows"]) - (keys - stale) if cow else 0,
                "stale_quarantined": stale,
                "tombstones_in_table": int(m["dels"]),
                "version": base + 1,
                "apply_s": round(time.monotonic() - t0, 3),
            }
            unit = dict(
                epoch=epoch,
                new_bucket_files=new_files,
                schema=evolved,
                stats={k: v for k, v in stats.items() if k != "affected_buckets"},
                slice_marker=slice_marker,
                mark_epoch=mark_epoch,
                slice_files=slice_files,
                aux_add=aux_add,
                expected_n_buckets=n_buckets,
            )
            try:
                if cow:
                    table.commit(affected=affected, base_snapshot=snap, **unit)
                else:
                    table.commit_deltas(**unit)
                return stats
            except CommitConflict:
                snap = table.snapshot()
                if skip := table.skip_if_committed(epoch, slice_marker, mark_epoch, snap):
                    return skip
                if not cow and snap["n_buckets"] == n_buckets:
                    # not a rebucket: commit_deltas already spent its own
                    # CAS retries, and re-writing the same deltas cannot
                    # help — surface the conflict
                    raise
        raise CommitConflict(f"epoch {epoch}: apply lost 8 re-merge races")
    finally:
        for df in held:
            df.unpersist()


def _written_rows(
    root: str, new_files: dict[int, list[str]], columns: list[str]
) -> pa.Table:
    """``columns`` of the rows in a write's files, read with pyarrow."""
    parts = [
        pq.ParquetFile(os.path.join(root, f)).read(columns=columns)
        for files in new_files.values()
        for f in files
    ]
    return pa.concat_tables(parts) if parts else pa.table({c: [] for c in columns})


def _audit(
    spark: SparkSession,
    table: IceliteTable,
    batch: DataFrame,
    affected: set[int],
    evolved: T.StructType,
    snap: dict,
    key_cols: list[str],
    epoch: int,
    path: str,
) -> int:
    """Write the batch's stale events — ``lsn`` at or below the key's
    applied high watermark, the max ``__lsn`` over the affected buckets'
    stored rows in the base snapshot ``snap`` (a column-pruned scan: key
    + __lsn reach the parquet reader) — to ``path``; return their count.
    A retried unit overwrites only its own directory."""
    applied = (
        table.read_stored(spark, affected, evolved, snap=snap)
        .select(*key_cols, LSN_COL)
        .groupBy(*key_cols)
        .agg(F.max(LSN_COL).alias("applied_lsn"))
    )
    obs = Observation(f"stale-{os.path.basename(path)}-v{snap['version']}")
    (
        batch.join(applied, on=key_cols, how="inner")
        .filter(F.col("lsn") <= F.col("applied_lsn"))
        .select(
            F.lit(epoch).alias("quarantine_epoch"),
            "lsn",
            "op",
            *key_cols,
            *[c for c in evolved.fieldNames() if c not in key_cols],
            "applied_lsn",
        )
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(path)
    )
    return int(obs.get["n"])
