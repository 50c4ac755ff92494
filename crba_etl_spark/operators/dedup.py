"""CDC batch reducer: latest event per key, duplicate LSNs absorbed.

This is the Spark-first re-expression of the reference's
keep-latest-datapoint-per-key cleanse step (FILT-LATEST,
``/root/reference/etl/transformation/cleanse.py:1-3`` — most recent year
per (country, indicator)); here it is max-LSN per (conv_id, turn_idx).

Skew note (hot Zipf conversation keys): the reduce is an aggregation
``groupBy(key).agg(max_by(struct(payload), lsn))``, not a
``row_number()`` window. A ``max_by`` over a struct buffer cannot use
hash aggregation, so Spark plans it as a ``SortAggregate`` pair: a
partial ``partial_max_by`` (map-side combine) below the exchange and a
final ``max_by`` above it, each behind a sort on the group key. The
partial step collapses a hot key to one row per input partition
*before* the shuffle — the classic salted two-phase reduce, done by the
planner. A window, by contrast, shuffles and sorts every event of the
hot key into one partition. When the input is already clustered by
``conv_id`` (the engine's MOR exchange, ``icelite.cluster_by_bucket``:
``repartition(W, conv_id)`` with W a divisor of the bucket count, so each
bucket sits wholly in one partition), both steps run in the same stage
and the reduce adds no exchange (see PLANS.md, "CDC epoch apply").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..schema import KEY_COLS


def reduce_latest(
    events: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str | Column = "lsn",
) -> DataFrame:
    """One row per key: the event with the highest ``order_col``.

    Emits the full event row (op included) so the merge can distinguish
    upserts from tombstones. Plans as a partial + final ``SortAggregate``
    — see the module docstring for the plan and the skew rationale. Also
    the table's resolution operator (order_col="__lsn" over base ∪ delta
    files; a rewrite of those, and a copy-on-write fold of stored ∪ batch
    rows, pass a ``struct`` that breaks an LSN tie toward the earlier
    epoch).
    """
    keys = key_cols or KEY_COLS
    payload = [c for c in events.columns if c not in keys]
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    # max_by(struct(payload), order): argmax comparing ONLY the order
    # key — measured ~17% faster than max(struct(order, ...)), which
    # compares whole rows lexicographically. Ties (duplicate-LSN
    # redeliveries) carry identical payloads, so the arbitrary tie-pick
    # of a bare LSN order cannot change the payload.
    m = F.max_by(_struct_of(payload), order)
    reduced = events.groupBy(*keys).agg(m.alias("_m"))
    return reduced.select(*keys, "_m.*")


def _struct_of(cols: list[str]) -> Column:
    """``struct(cols...)`` as ONE parsed expression, names backtick-quoted:
    the same plan as ``F.struct(*map(F.col, cols))`` at one py4j call
    instead of one per column."""
    quoted = ", ".join("`" + c.replace("`", "``") + "`" for c in cols)
    return F.expr(f"struct({quoted})")


def reduce_batch(events: DataFrame) -> DataFrame:
    """Full reducer: LSN dedup + latest-per-key in ONE shuffle.

    A duplicate-LSN redelivery is byte-identical in every payload column
    (same logical change), so the ``max_by`` aggregation absorbs it:
    whichever copy wins an lsn tie yields the same stored row. A
    separate ``dropDuplicates`` on (key, lsn) first would add a second
    shuffle for no semantic difference — measured as pure loss.
    """
    return reduce_latest(events)
