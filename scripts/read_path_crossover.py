"""Where a driver-resolved read stops beating the Spark relation.

``IceliteTable.read`` resolves a snapshot on the driver (pyarrow read,
max-``__lsn`` resolve, ``LocalRelation``) when its stored rows are under
``icelite.LOCAL_READ_MAX_BYTES`` and Spark's Arrow local-relation
threshold; otherwise it builds the Spark relation over the files. This
script times both paths on MOR tables of growing size (8 buckets, four
epochs, so most buckets hold deltas and the read resolves), in the
perfbench tail's read pattern: through a fresh table handle, a point
lookup (which builds the relation), then a scan aggregate on the kept
relation. It lifts the cap and picks the path with the Spark setting, and
prints one markdown row per table size with the median seconds of each
path, alternating which path runs first. The cap is set below the stored
size where the point lookup's two medians meet.

Run from the repository root:
    python scripts/read_path_crossover.py --work-dir /tmp/xover \\
        --events 5000,25000,35000,45000,75000 --reps 7
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from crba_etl_spark import icelite
from crba_etl_spark.engine import CDCEngine
from crba_etl_spark.gen import StreamSpec, generate_stream
from crba_etl_spark.session import get_spark

THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


def timed_reads(spark, root: str, hot: str) -> tuple[float, float]:
    """Seconds of a point lookup on a fresh handle, then of a scan on the
    relation it kept."""
    table = icelite.IceliteTable(root)
    t0 = time.perf_counter()
    table.read(spark).filter(F.col("conv_id") == hot).collect()
    t1 = time.perf_counter()
    table.read(spark).agg(
        F.count(F.lit(1)), F.sum(F.xxhash64("text").bitwiseAND(0xFFFFFFFF))
    ).collect()
    return t1 - t0, time.perf_counter() - t1


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--events", default="5000,25000,35000,45000,75000")
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    icelite.LOCAL_READ_MAX_BYTES = 1 << 62
    spark = get_spark(master=args.master)
    print("| events | files | on disk MB | decoded MB | point local / spark s | scan local / spark s |")
    print("|---|---|---|---|---|---|")
    for n in map(int, args.events.split(",")):
        stream, root = (os.path.join(args.work_dir, f"{p}{n}") for p in ("s", "t"))
        if not os.path.exists(root):
            generate_stream(stream, StreamSpec(seed=1, n_events=n, n_epochs=4, text_pad=256))
            CDCEngine(spark, root, n_buckets=8, mode="mor").replay(stream)
        paths = icelite.IceliteTable(root).data_files()
        disk = sum(os.path.getsize(p) for p in paths)
        decoded = sum(pq.ParquetFile(p).read().nbytes for p in paths)
        hot = icelite.IceliteTable(root).read(spark).select("conv_id").first()[0]
        times = {"local": [], "spark": []}
        for r in range(args.reps):
            for path in ("local", "spark") if r % 2 == 0 else ("spark", "local"):
                spark.conf.set(THRESHOLD, str(1 << 40) if path == "local" else "0")
                times[path].append(timed_reads(spark, root, hot))
        med = {
            p: [statistics.median(t[i] for t in ts) for i in (0, 1)] for p, ts in times.items()
        }
        print(
            f"| {n} | {len(paths)} | {disk / 2**20:.2f} | {decoded / 2**20:.2f} "
            f"| {med['local'][0]:.3f} / {med['spark'][0]:.3f} "
            f"| {med['local'][1]:.3f} / {med['spark'][1]:.3f} |",
            flush=True,
        )
    spark.conf.unset(THRESHOLD)


if __name__ == "__main__":
    main()
