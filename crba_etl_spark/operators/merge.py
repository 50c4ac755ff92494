"""MERGE INTO-style apply (M3): reduced change batch × icelite target.

Semantics (Iceberg MERGE equivalent, keyed by (conv_id, turn_idx)):

- batch row newer than target row (``lsn > __lsn``) → take batch
  (tombstone if op = D, else upsert payload);
- batch row for an absent key → insert (a D for an absent key inserts a
  tombstone, so a straggling lower-LSN insert can never resurrect it);
- batch row stale (``lsn <= __lsn`` already applied) → target wins, the
  event goes to the quarantine table (late/low-LSN data is *audited*,
  never silently dropped);
- target rows whose key is untouched pass through unchanged.

Scale design:
- the target is bucketed by ``conv_id`` (icelite bucket transform), and
  only the buckets the batch actually hits are read and rewritten —
  a partition-pruned MERGE; at 100 TB the untouched buckets cost zero I/O.
- the join is a plain equi-join on the key: AQE picks broadcast when the
  reduced batch is small, skew-split otherwise; on a real cluster with
  Iceberg both sides are bucket-partitioned → storage-partitioned join
  (no shuffle of the target).
- row/stale/tombstone counts ride the write job via ``Observation``
  (zero extra passes); the quarantine job runs only when stale rows exist.

Reference analog: the right-join to the canonical country universe with
"No data" fill (JOIN-UNIVERSE, SURVEY.md §2.3) — key-complete resolution
of new data against an authoritative key set.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..icelite import BUCKET_COL, CommitConflict, IceliteTable, bucket_expr
from ..schema import DELETED_COL, EPOCH_COL, LSN_COL
from .evolve import align_to, merge_schemas

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
    aux_add: dict[str, list[str]] | None = None,
) -> dict:
    """Apply one reduced batch (one row per key) to the table; commit
    atomically with the epoch marker. Returns apply stats.

    ``slice_marker`` switches the idempotence unit from whole epoch to
    this slice (streaming micro-batch carrying part of an epoch);
    ``mark_epoch=False`` additionally withholds the epoch id from
    ``committed_epochs`` so a later batch replay won't skip the rest.

    Concurrency: the merge is computed against a PINNED base snapshot
    version and committed with base-bucket validation (see
    ``IceliteTable.commit``) — if a concurrent writer touched an
    affected bucket since the base read, the commit raises
    CommitConflict and this function re-reads, re-merges, and re-writes
    from the fresh snapshot (Iceberg's serializable-merge retry), so a
    concurrent commit's rows are never silently dropped."""
    snap = table.snapshot()
    if skip := table.skip_if_committed(epoch, slice_marker, mark_epoch, snap):
        return skip

    t0 = time.monotonic()
    n_buckets = snap["n_buckets"]
    key_cols = snap["key_cols"]  # honor custom keys persisted in the snapshot

    # the batch's own rows and bucket assignment never change across
    # retries — persist them once; the EVOLVED schema is re-derived per
    # attempt from the pinned base snapshot (below), because a concurrent
    # commit may have widened the table schema while our attempt raced
    raw = reduced.withColumn(BUCKET_COL, bucket_expr(n_buckets, key_cols[0]))
    raw = raw.persist()

    # --- partition pruning: only buckets the batch touches -------------
    affected = {
        r[0] for r in raw.select(BUCKET_COL).distinct().collect()
    }

    try:
        for _attempt in range(8):
            # --- schema evolution: additive merge from the CURRENT base
            # snapshot's schema (not the one captured before the loop) —
            # a retry after CommitConflict must pick up columns a
            # concurrent writer added, or the COW rewrite would project
            # them away from the affected buckets' files
            evolved = merge_schemas(
                T.StructType.fromJson(snap["schema"]), batch_payload_schema(reduced)
            )
            payload_cols = [f.name for f in evolved.fields if f.name not in key_cols]
            batch = align_to(
                raw,
                T.StructType(
                    list(evolved.fields)
                    + [f for f in reduced.schema.fields if f.name in ("op", "lsn")]
                ),
            )
            try:
                return _merge_attempt(
                    spark, table, batch, snap, epoch, affected, evolved,
                    payload_cols, key_cols, n_buckets, quarantine_dir,
                    slice_marker, mark_epoch, slice_files, aux_add, t0,
                )
            except CommitConflict:
                # a concurrent commit touched an affected bucket: our
                # rewrite was computed from stale data — re-read and
                # re-merge from the fresh snapshot
                snap = table.snapshot()
                if skip := table.skip_if_committed(epoch, slice_marker, mark_epoch, snap):
                    return skip
                if snap["n_buckets"] != n_buckets:
                    # a REBUCKET raced in: the batch's bucket assignment
                    # (and thus the affected-bucket set) is stale — redo
                    # both under the new bucket function
                    n_buckets = snap["n_buckets"]
                    raw.unpersist()
                    raw = reduced.withColumn(
                        BUCKET_COL, bucket_expr(n_buckets, key_cols[0])
                    ).persist()
                    affected = {
                        r[0] for r in raw.select(BUCKET_COL).distinct().collect()
                    }
        raise CommitConflict(f"epoch {epoch}: merge lost 8 re-merge races")
    finally:
        raw.unpersist()


def _merge_attempt(
    spark: SparkSession,
    table: IceliteTable,
    batch: DataFrame,
    snap: dict,
    epoch: int,
    affected: set[int],
    evolved: T.StructType,
    payload_cols: list[str],
    key_cols: list[str],
    n_buckets: int,
    quarantine_dir: str | None,
    slice_marker: str | None,
    mark_epoch: bool,
    slice_files: list[str] | None,
    aux_add: dict[str, list[str]] | None,
    t0: float,
) -> dict:
    """One COW merge attempt against the pinned base ``snap``. Raises
    CommitConflict if an affected bucket changed under us."""
    # resolved view AT THE BASE VERSION: the merge must read exactly the
    # files the commit will validate against, so a snapshot moving
    # mid-merge can't mix bases; prior MOR deltas in these buckets are
    # folded here (the COW rewrite then subsumes them in the commit)
    target = table.read_resolved(
        spark, buckets=affected, schema=evolved, version=snap["version"]
    )

    # --- the merge join -------------------------------------------------
    t, b = target.alias("t"), batch.alias("b")
    j = t.join(b, on=key_cols, how="full_outer")
    has_batch = F.col("b.lsn").isNotNull()
    has_target = F.col(f"t.{LSN_COL}").isNotNull()
    take_batch = has_batch & (~has_target | (F.col("b.lsn") > F.col(f"t.{LSN_COL}")))
    stale = has_batch & has_target & ~take_batch

    merged = j.select(
        *key_cols,
        *[
            F.when(take_batch, F.col(f"b.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in payload_cols
        ],
        F.when(take_batch, F.col("b.lsn")).otherwise(F.col(f"t.{LSN_COL}")).alias(LSN_COL),
        F.when(take_batch, F.col("b.op") == "D")
        .otherwise(F.col(f"t.{DELETED_COL}"))
        .alias(DELETED_COL),
        F.when(take_batch, F.lit(epoch).cast("long"))
        .otherwise(F.col(f"t.{EPOCH_COL}"))
        .alias(EPOCH_COL),
        stale.cast("int").alias("_stale"),
        take_batch.cast("int").alias("_applied"),
    )

    obs = Observation(f"merge-epoch-{epoch}")
    merged = merged.observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.coalesce(F.sum("_stale"), F.lit(0)).alias("stale"),
        F.coalesce(F.sum(F.col(DELETED_COL).cast("int")), F.lit(0)).alias("tombstones"),
        F.coalesce(F.sum("_applied"), F.lit(0)).alias("applied"),
    )
    merged = merged.drop("_stale", "_applied").withColumn(
        BUCKET_COL, bucket_expr(n_buckets, key_cols[0])
    )

    version = snap["version"] + 1
    new_files = table.write_merged(merged, epoch=epoch, version=version)
    m = obs.get

    # --- quarantine: audit stale events (only if any exist) -------------
    if m["stale"] and quarantine_dir:
        stale_rows = (
            j.filter(stale)
            .select(
                F.lit(epoch).alias("quarantine_epoch"),
                F.col("b.lsn").alias("lsn"),
                F.col("b.op").alias("op"),
                *key_cols,
                *[F.col(f"b.{c}").alias(c) for c in payload_cols],
                F.col(f"t.{LSN_COL}").alias("applied_lsn"),
            )
        )
        stale_rows.write.mode("overwrite").parquet(
            f"{quarantine_dir}/epoch={epoch}"
        )

    stats = {
        "epoch": epoch,
        "skipped": False,
        "mode": "cow",
        "keys_in_batch": int(m["applied"]) + int(m["stale"]),
        "affected_buckets": sorted(int(x) for x in affected),
        "n_affected_buckets": len(affected),
        "rows_out": int(m["rows_out"]),
        "rows_applied": int(m["applied"]),
        "rows_carried": int(m["rows_out"]) - int(m["applied"]),
        "stale_quarantined": int(m["stale"]),
        "tombstones_in_table": int(m["tombstones"]),
        "version": version,
        "apply_s": round(time.monotonic() - t0, 3),
    }
    table.commit(
        epoch=epoch,
        new_bucket_files=new_files,
        affected=affected,
        schema=evolved,
        stats={k: v for k, v in stats.items() if k != "affected_buckets"},
        slice_marker=slice_marker,
        mark_epoch=mark_epoch,
        base_snapshot=snap,
        slice_files=slice_files,
        aux_add=aux_add,
        expected_n_buckets=n_buckets,
    )
    return stats


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
    aux_add: dict[str, list[str]] | None = None,
) -> dict:
    """Merge-on-read apply (the sustained-throughput path): write the
    reduced batch as per-bucket **delta files** and commit — nothing in
    the table is read or rewritten, so apply cost is O(batch) regardless
    of table size. Conflicts (multiple versions of a key across base and
    deltas) are resolved on read / at compaction by max-__lsn per key.

    If ``quarantine_dir`` is set, stale events (lsn ≤ already-applied lsn
    for the key) are additionally audited eagerly with a column-pruned
    scan of the affected buckets (reads only key + __lsn columns).

    ``slice_marker``/``mark_epoch``: see :func:`merge_epoch`.

    Concurrency: the commit validates that the table's BUCKET COUNT is
    still the one the delta files were written under — a rebucket
    landing between the write and the commit would otherwise leave the
    epoch's rows keyed by the old bucket function inside a table whose
    readers prune by the new one (silent wrong reads). On that specific
    conflict the files are re-written under the fresh bucketing and the
    commit retried; a crashed attempt's dir is an unreferenced orphan.
    """
    snap = table.snapshot()
    if skip := table.skip_if_committed(epoch, slice_marker, mark_epoch, snap):
        return skip

    t0 = time.monotonic()
    key_cols = snap["key_cols"]

    evolved = merge_schemas(
        T.StructType.fromJson(snap["schema"]), batch_payload_schema(reduced)
    )
    payload_cols = [f.name for f in evolved.fields]
    batch = align_to(
        reduced,
        T.StructType(
            list(evolved.fields)
            + [f for f in reduced.schema.fields if f.name in ("op", "lsn")]
        ),
    )
    for _attempt in range(8):
        n_buckets = snap["n_buckets"]
        delta = batch.select(
            *payload_cols,
            F.col("lsn").alias(LSN_COL),
            (F.col("op") == "D").alias(DELETED_COL),
            F.lit(epoch).cast("long").alias(EPOCH_COL),
        ).withColumn(BUCKET_COL, bucket_expr(n_buckets, key_cols[0]))

        obs = Observation(f"delta-epoch-{epoch}-a{_attempt}")
        delta = delta.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.col(DELETED_COL).cast("int")), F.lit(0)).alias("dels"),
        )

        version = snap["version"] + 1
        new_files = table.write_merged(
            delta, epoch=epoch, version=version, repartition=not pre_partitioned
        )
        m = obs.get

        stale_count = 0
        if quarantine_dir is not None:
            affected = set(new_files.keys())
            # applied high-watermark per key = max __lsn over base+deltas of
            # the affected buckets: a column-pruned scan (3 columns reach the
            # parquet reader) + two-phase hash agg — no full-row resolution
            applied = (
                table.read_stored(spark, buckets=affected)
                .select(*key_cols, LSN_COL)
                .groupBy(*key_cols)
                .agg(F.max(LSN_COL).alias("applied_lsn"))
            )
            stale_rows = (
                batch.join(applied, on=key_cols, how="inner")
                .filter(F.col("lsn") <= F.col("applied_lsn"))
                .select(
                    F.lit(epoch).alias("quarantine_epoch"),
                    "lsn",
                    "op",
                    *key_cols,
                    *[c for c in payload_cols if c not in key_cols],
                    "applied_lsn",
                )
            )
            sobs = Observation(f"stale-epoch-{epoch}-a{_attempt}")
            stale_rows = stale_rows.observe(sobs, F.count(F.lit(1)).alias("n"))
            stale_rows.write.mode("overwrite").parquet(
                f"{quarantine_dir}/epoch={epoch}"
            )
            stale_count = int(sobs.get["n"])

        stats = {
            "epoch": epoch,
            "skipped": False,
            "mode": "mor",
            "keys_in_batch": int(m["rows"]),
            "affected_buckets": sorted(new_files.keys()),
            "n_affected_buckets": len(new_files),
            "rows_out": int(m["rows"]),
            "rows_applied": int(m["rows"]) - stale_count,
            "rows_carried": 0,
            "stale_quarantined": stale_count,
            "tombstones_in_table": int(m["dels"]),
            "version": version,
            "apply_s": round(time.monotonic() - t0, 3),
        }
        try:
            table.commit_deltas(
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
        except CommitConflict:
            # a rebucket raced in — the written files are keyed by the
            # old bucket function; re-bucket and re-write from fresh state
            snap = table.snapshot()
            if skip := table.skip_if_committed(epoch, slice_marker, mark_epoch, snap):
                return skip
            if snap["n_buckets"] == n_buckets:
                # not a rebucket: commit_deltas already exhausted its own
                # CAS retries for an unrelated conflict — re-bucketing and
                # fully re-writing the epoch's delta files under the SAME
                # bucket count cannot help (round-6 ADVICE low); surface
                # the conflict instead (same check merge_epoch does)
                raise
            continue
        return stats
    raise CommitConflict(f"epoch {epoch}: delta apply lost 8 rebucket races")
