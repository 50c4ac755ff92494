"""Per-epoch / per-partition lineage and apply-rate metrics (M7).

Two artifacts per applied epoch:

- ``metrics/epoch=<k>.json`` — the apply stats dict (events_in, dedup and
  stale counts, rows applied, affected buckets, apply seconds);
- ``metrics/lineage/epoch=<k>.json`` — per-bucket (per-partition) lineage:
  for every bucket rewritten by the epoch, its data files and row counts.
  Row counts come from parquet footers (zero extra Spark jobs).

Reference analog: the completeness/log-report stats the reference emits
per staging file (AGG-STATS, SURVEY.md §2.4) and the great_expectations
run reports (§5.2).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _bucket_lineage(table, epoch: int, version: int) -> list[dict]:
    """Per-bucket file+row-count lineage for the files this version wrote,
    read from parquet footers (no Spark job)."""
    snap = table.snapshot()
    rows = []
    marker = f"e{epoch:06d}-v{version:06d}"
    merged: dict[str, list[str]] = {}
    for src in (snap["files"], snap.get("deltas", {})):
        for b, files in src.items():
            merged.setdefault(b, []).extend(files)
    for b, files in merged.items():
        new = [f for f in files if marker in f]
        if not new:
            continue
        n_rows = sum(
            pq.ParquetFile(os.path.join(table.root, f)).metadata.num_rows for f in new
        )
        rows.append(
            {"epoch": epoch, "bucket": int(b), "files": new, "rows": n_rows}
        )
    return rows


def unit_name(epoch: int, slice_marker: str | None = None) -> str:
    """Name of one applied unit's artifacts: ``epoch=<k>`` for a whole
    epoch, ``epoch=<k>.<marker>`` for a streaming slice — several slices
    may apply parts of one epoch, and none may overwrite another's."""
    if not slice_marker:
        return f"epoch={epoch}"
    return f"epoch={epoch}." + str(slice_marker).replace(":", "_").replace("/", "_")


def write_epoch_metrics(table, metrics_dir: str, stats: dict) -> None:
    os.makedirs(os.path.join(metrics_dir, "lineage"), exist_ok=True)
    epoch = stats["epoch"]
    name = unit_name(epoch, stats.get("slice"))
    with open(os.path.join(metrics_dir, f"{name}.json"), "w") as f:
        json.dump(stats, f)
    lineage = _bucket_lineage(table, epoch, stats["version"])
    with open(os.path.join(metrics_dir, "lineage", f"{name}.json"), "w") as f:
        json.dump(lineage, f)


def load_metrics(spark: SparkSession, metrics_dir: str) -> DataFrame:
    """All per-epoch apply stats as a DataFrame (metrics table)."""
    paths = [
        os.path.join(metrics_dir, f)
        for f in sorted(os.listdir(metrics_dir))
        if f.startswith("epoch=") and f.endswith(".json")
    ]
    return spark.read.json(spark.sparkContext.parallelize([open(p).read() for p in paths]))


def load_lineage(spark: SparkSession, metrics_dir: str) -> DataFrame:
    """Per-partition lineage rows as a DataFrame."""
    d = os.path.join(metrics_dir, "lineage")
    rows = []
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f)) as fh:
            rows.extend(json.load(fh))
    return spark.createDataFrame(
        [
            (r["epoch"], r["bucket"], r["rows"], r["files"])
            for r in rows
        ],
        "epoch BIGINT, bucket INT, rows BIGINT, files ARRAY<STRING>",
    )
