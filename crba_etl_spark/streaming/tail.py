"""Structured Streaming change-tail (M6): binlog/WAL tail → exactly-once apply.

``readStream`` over the events directory (a file source is the replayable,
deterministic stand-in for a Kafka/binlog tail — same envelope schema), then
``foreachBatch``: each micro-batch is split by its ``epoch`` column and each
(epoch, micro-batch) SLICE flows through the identical batch apply path
(dedup → reduce → delta/merge → atomic commit). Exactly-once does NOT rely
on Spark's sink guarantees (foreachBatch is at-least-once): every slice
commits under its own marker inside the snapshot, so a re-delivered
micro-batch (same batch_id on retry) is a no-op — and an epoch whose files
span several micro-batches is applied fully, one slice at a time; this is
the end-to-end idempotence the north rule requires.

Late data: events with LSN at or below a key's applied LSN are quarantined by
the apply path itself (never silently dropped) — a stronger, key-exact
guarantee than a time watermark; an optional watermark on ``ingest_ts`` is
still applied for metrics-window queries composed downstream.

Reference analog: the reference's per-edition batch re-run is the degenerate
form of this tail (editions = epochs) — SURVEY.md §2.9.
"""

from __future__ import annotations

import os.path

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..engine import CDCEngine, _declared_files
from ..schema import CHANGE_EVENT


def open_tail(
    spark: SparkSession,
    events_dir: str,
    schema: T.StructType = CHANGE_EVENT,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open the change-event tail as a streaming DataFrame.

    The file source lists ``events_dir`` recursively; epoch directories
    (``epoch=k/``) surface as a partition column when present, otherwise
    the events' own ``epoch`` column is used. Schema is fixed to the
    evolved envelope — pre-evolution files project with null ``tool``.
    """
    reader = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "false")
        .option("basePath", events_dir)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(events_dir + "/epoch=*")
    return df


def stream_apply(
    spark: SparkSession,
    engine: CDCEngine,
    events_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    schema: T.StructType = CHANGE_EVENT,
    max_files_per_trigger: int | None = None,
):
    """Run the tail through the engine. Returns the StreamingQuery.

    ``available_now=True`` drains everything currently in the source then
    stops (deterministic for tests/replays); ``False`` runs continuously.

    Exactly-once when an epoch's files SPAN micro-batches (continuous
    mode with files landing incrementally, or ``max_files_per_trigger``):
    each (epoch, micro-batch) slice commits under its own slice marker,
    so a partial first slice can never mark the whole epoch done and
    starve later slices — and a retried micro-batch (foreachBatch is
    at-least-once, with a stable batch_id on retry) is a no-op.

    Epoch completeness is a PRODUCER-DECLARED contract, never inferred
    from a directory listing: the producer writes an ``_DONE`` marker
    per epoch declaring the epoch's full file set once everything is
    durable (gen.py). A directory LIST is eventually consistent on an
    object store and a producer may still be writing, but a GET of a
    known marker key is strongly consistent. The epoch id enters
    ``committed_epochs`` only when the CUMULATIVE union of source files
    applied across all of the epoch's slices — persisted per epoch in
    the snapshot (``epoch_files``), so it survives restarts and spans
    micro-batches — covers the declared set; until then a later batch
    replay re-applies nothing it shouldn't (slices dedupe themselves).
    An epoch with no ``_DONE`` marker is treated as still open.
    """
    tail = open_tail(
        spark, events_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def _sweep_open_epochs() -> None:
        """Promote every still-open epoch whose applied-file union now
        covers its (possibly late-landing) _DONE declaration. An epoch
        whose LAST slice was applied before the producer declared
        completeness never re-enters the batch loop via rows (the file
        source does not re-read processed files), so without this its
        ``epoch_files`` entry lingers forever and the exactly-once
        marker is missed (round-3 ADVICE). Metadata-only commits; runs
        at stream start (the no-new-traffic case) and after each batch."""
        for k_str, applied in engine.table.epoch_files().items():
            declared = _declared_files(events_dir, int(k_str))
            if declared is not None and set(applied) >= declared:
                engine.table.mark_epoch_committed(int(k_str))

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # one micro-batch may span several epochs: apply each in order,
        # dropping all-null padding columns the fixed envelope added for
        # pre-evolution files (schema evolution is re-detected per epoch).
        # The distinct (epoch, file) set is bounded by the number of
        # source files in the batch — a driver-safe collect.
        seen = (
            batch.select("epoch", F.input_file_name().alias("_f"))
            .distinct()
            .collect()
        )
        files_in_batch: dict[int, set[str]] = {}
        for r in seen:
            files_in_batch.setdefault(int(r[0]), set()).add(
                os.path.basename(r[1])
            )
        applied_so_far = engine.table.epoch_files()
        for k in sorted(files_in_batch):
            if files_in_batch[k] <= set(applied_so_far.get(str(k), [])):
                # every file in this slice was already applied by an
                # earlier slice of the still-open epoch — a fresh
                # checkpoint's renumbered batch ids defeat the marker
                # check, but the per-epoch applied-file union catches
                # the redelivery exactly; nothing new to commit (the
                # sweep below promotes the marker once _DONE covers it)
                continue
            ev = batch.filter(F.col("epoch") == k)
            declared = _declared_files(events_dir, k)
            union = set(applied_so_far.get(str(k), [])) | files_in_batch[k]
            complete = declared is not None and union >= declared
            engine.apply_epoch(
                ev,
                int(k),
                slice_marker=f"e{k}:b{batch_id}",
                mark_epoch=complete,
                slice_files=sorted(files_in_batch[k]),
            )

        _sweep_open_epochs()

    # reconcile BEFORE the stream starts: _DONE may have landed while no
    # stream was running, with no new traffic to fire a batch afterwards
    _sweep_open_epochs()

    writer = (
        tail.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    return q
