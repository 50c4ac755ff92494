"""Regenerate PLANS.md: captured physical plans for the load-bearing
operators, with commentary on what each plan proves at scale. Run from the
repository root:
    python scripts/dump_plans.py PLANS.md
tests/test_plans.py builds the same sections and asserts the invariants
on the LIVE plans (rendering the document into a temporary file), so the
invariants the document describes cannot drift from the code (round-1
lesson: they did, after the max_by switch).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def build_sections(spark) -> list[tuple[str, str, str]]:
    from crba_etl_spark import queries as Q
    from crba_etl_spark.gen import StreamSpec, generate_stream
    from crba_etl_spark.icelite import BUCKET_COL, bucket_expr, cluster_by_bucket
    from crba_etl_spark.operators.dedup import reduce_batch

    sections = []

    # 1. the CDC epoch apply (single-shuffle path) over one generated epoch
    with tempfile.TemporaryDirectory(prefix="plans_stream_") as d:
        generate_stream(d, StreamSpec(seed=1, n_events=2_000, n_epochs=1))
        events = spark.read.parquet(os.path.join(d, "epoch=0"))
        red = reduce_batch(cluster_by_bucket(events, 8))
        delta = red.withColumn(BUCKET_COL, bucket_expr(8))
        sections.append((
            "CDC epoch apply (repartition → reduce → bucketed delta)",
            """What to look for: exactly ONE `Exchange hashpartitioning(conv_id, W)`
(the repartition, `icelite.cluster_by_bucket`: W is the largest divisor
of the N = 8 buckets that fits the task slots, 4 on `local[4]`);
`partial_max_by` + final `max_by` aggregate with NO second exchange
(map-side combine = the Zipf-hot-key defense); the write adds no shuffle
because each bucket sits wholly in one partition.""",
            plan_of(delta),
        ))

    # 2. filter pushdown + column pruning
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1995-01-01").select("l_orderkey")
    sections.append((
        "Predicate pushdown + column pruning",
        """`PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate, ...)]`
reaches the parquet scan and `ReadSchema` carries only the two needed
columns — at 100 TB the scan reads a fraction of the table.""",
        plan_of(q),
    ))

    # 3. minhash LSH candidates
    sections.append((
        "MinHash + banded LSH candidate pairs (text)",
        """All hashing is Catalyst expressions (md5/conv) inside
WholeStageCodegen; candidates come from an equi-join on (band_idx,
band_hash) — uniform keys, no skew; the quadratic Jaccard verification
join runs only on candidates (lsh_verified_pairs).""",
        plan_of(Q.q_minhash_lsh_candidates(spark, SF)),
    ))

    return sections


def write_plans_md(sections, path: str) -> None:
    with open(path, "w") as f:
        f.write(
            "# PLANS — captured physical plans for the load-bearing operators\n\n"
            "Regenerated by `python scripts/dump_plans.py PLANS.md`;\n"
            "tests/test_plans.py asserts the key invariants on the live plans\n"
            "— one exchange in the CDC apply, partial `max_by`, PushedFilters\n"
            "at the scan, no nested-loop joins in any LSH path.\n"
            "(A 2k-event generated epoch and sf0.01 inputs; plan shapes are\n"
            "scale-independent.)\n"
        )
        for title, why, plan in sections:
            f.write(f"\n## {title}\n\n{why}\n\n```\n{plan}\n```\n")


def main() -> None:
    import argparse

    from crba_etl_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out", help="path of the markdown file to write, e.g. PLANS.md")
    args = ap.parse_args()
    spark = get_spark(master="local[4]", app_name="dump-plans")
    write_plans_md(build_sections(spark), args.out)
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
