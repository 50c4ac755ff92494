"""Scan-layout-independent parallelism for compute-bound stages.

The driver testdata tables (and any small ingest file) are single
parquet files with one row group, so a Spark scan yields ONE input
split — and everything Catalyst fuses with the scan (shingling, md5
hashing, signature aggregation, dot products) runs in one task no
matter how many cores the session has. Measured in round 7: the whole
36 s of ``minhash_lsh_candidates`` at sf1.0 was a single core working
through ~14.5M shingle hashes while 31 cores idled.

:func:`spread_compute` decouples a compute-bound stage's parallelism
from the source file layout: if the input relation has fewer partitions
than the session's default parallelism, round-robin repartition it to
that parallelism; otherwise return it unchanged. Call it on the
NARROW projection that feeds the expensive work (ids + the columns the
stage needs), never on a full-width relation, so the exchange moves
kilobytes per row-group of compute.

The partition count is read from the physical PLAN, never by building
the relation's RDD: under AQE, ``df.rdd`` runs every upstream shuffle
stage just to learn the final partition count, and the consumer's
action then runs them again. A plan that ends in a shuffle (or a cached
relation) states its partition count; a plan with no shuffle is a scan
or local data, whose RDD is built from file splits without a job; a
shuffled plan whose count is stated nowhere (e.g. a union) is left
unchanged.

Scale behavior: at real corpus sizes a scan has far more splits than
the cluster has cores, so this is a structural no-op — the conditional
exists precisely so the fix for tiny-file inputs cannot become an
accidental full-corpus shuffle at 100 TB. The partition count comes
from ``defaultParallelism`` (i.e. the cluster's core count), never a
constant tuned to this sandbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _num_partitions(df: DataFrame) -> int:
    """``df``'s partition count without running a Spark job; 0 when the
    plan does not state it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() != "AdaptiveSparkPlan":
        return df.rdd.getNumPartitions()  # no stage upstream to execute
    return plan.inputPlan().outputPartitioning().numPartitions()


def spread_compute(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism iff it
    currently has fewer partitions than that; no-op otherwise (and on
    anything whose partitioning cannot be read from its plan, e.g.
    streaming relations)."""
    spark = df.sparkSession
    p = min_parallelism or spark.sparkContext.defaultParallelism
    try:
        n = _num_partitions(df)
    except Exception:
        return df
    if 0 < n < p:
        return df.repartition(p)
    return df
