"""Bucket-aligned exchange width: every bucketed write clusters its rows
with ``icelite.cluster_by_bucket`` — ``repartition(W, conv_id)`` with W
the largest divisor of the bucket count N that fits the task slots — so
one exchange serves the reduce and the write, and each bucket still
lands in exactly one file per write.

The live plans are taken from the frame each path hands to
``IceliteTable.write_merged`` (the partitioned write itself adds no
exchange)."""

import os
import re

import pandas as pd
import pytest

from conftest import make_events
from crba_etl_spark.engine import CDCEngine, list_epochs
from crba_etl_spark.gen import StreamSpec, generate_stream, oracle_final
from crba_etl_spark.icelite import IceliteTable, aligned_width
from crba_etl_spark.operators.merge import merge_epoch

#: expected exchange width per task-slot count, for the bucket counts
#: the engine test drives (32 and 8: the two benchmark tables' shapes at
#: 4 slots; 2: the tail table; 7: prime, so no useful divisor)
EXPECTED_W = {
    4: {2: 2, 8: 4, 32: 4, 7: 7},
    8: {2: 2, 8: 8, 32: 8, 7: 7},
}

_EXCHANGE = re.compile(r"Exchange hashpartitioning\(([^)]*)\)")


def test_aligned_width_is_a_divisor_within_the_slots():
    for slots, by_n in EXPECTED_W.items():
        assert {n: aligned_width(n, slots) for n in by_n} == by_n
    assert aligned_width(12, 4) == 4
    assert aligned_width(10, 4) == 2  # 2 of 4 slots busy: still a divisor
    assert aligned_width(5, 8) == 5  # at least N slots: today's width
    assert aligned_width(64, 64) == 64
    for n in range(1, 65):
        for slots in (1, 2, 3, 4, 6, 8, 16):
            w = aligned_width(n, slots)
            assert w == n or (n % w == 0 and 2 * w >= slots and w <= slots)


@pytest.fixture()
def writes(monkeypatch):
    """Record every write_merged call: the executed plan of the frame it
    writes and the files it produced."""
    calls = []
    orig = IceliteTable.write_merged

    def spy(self, df, epoch, version):
        plan = df._jdf.queryExecution().executedPlan().toString()
        files = orig(self, df, epoch, version)
        calls.append({"plan": plan, "files": files})
        return files

    monkeypatch.setattr(IceliteTable, "write_merged", spy)
    return calls


def _one_exchange_width(plan: str) -> str:
    """The single exchange's partitioning arguments (asserts there is
    exactly one exchange of any kind)."""
    assert plan.count("Exchange") == 1, plan
    (args,) = _EXCHANGE.findall(plan)
    return args


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("s"))
    generate_stream(d, StreamSpec(seed=11, n_events=3000, n_epochs=2))
    return d


@pytest.mark.parametrize("n_buckets", [2, 8, 32, 7])
def test_engine_epoch_plans_one_aligned_exchange(spark, stream, tmpdir_, writes, n_buckets):
    slots = spark.sparkContext.defaultParallelism
    w = EXPECTED_W[slots][n_buckets]
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=n_buckets, mode="mor")
    epochs = list_epochs(stream)
    for k in epochs:
        eng.apply_epoch(spark.read.parquet(os.path.join(stream, f"epoch={k}")), k)
    assert len(writes) == len(epochs)
    for call in writes:
        plan = call["plan"]
        assert re.fullmatch(rf"conv_id#\d+, {w}", _one_exchange_width(plan)), plan
        # the reduce's partial (map-side) and final max_by run in the
        # stage above the one exchange: no exchange between them
        lines = plan.splitlines()
        final = next(i for i, s in enumerate(lines) if "functions=[max_by(" in s)
        partial = next(i for i, s in enumerate(lines) if "partial_max_by" in s)
        exchange = next(i for i, s in enumerate(lines) if "Exchange" in s)
        assert final < partial < exchange
        # one data file per bucket the epoch hit
        assert call["files"] and all(len(v) == 1 for v in call["files"].values())
    got = (
        eng.read_final().orderBy("conv_id", "turn_idx", "ts")
        .toPandas().reset_index(drop=True)
    )
    exp = oracle_final(stream).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def _rows(k, lsn, n_keys=8, text="v"):
    return [
        (lsn, k, "U", f"c{i}", 0, "user", f"{text}{lsn}", None, 0, k)
        for i in range(n_keys)
    ]


def test_compaction_rewrite_plans_one_exchange(spark, tmpdir_, writes):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="mor")
    for k, lsn in enumerate((10, 20)):
        eng.apply_epoch(make_events(spark, _rows(k, lsn)), k)
    before = sorted(eng.read_final().collect())
    del writes[:]
    eng.compact()
    (call,) = writes
    w = aligned_width(8, spark.sparkContext.defaultParallelism)
    assert re.fullmatch(rf"conv_id#\d+, {w}", _one_exchange_width(call["plan"]))
    assert "max_by" in call["plan"]  # the resolve ran, on the one exchange
    assert all(len(v) == 1 for v in call["files"].values())
    assert not any(eng.table.deltas().values())
    assert sorted(eng.read_final().collect()) == before


def test_cow_fold_plans_one_exchange(spark, tmpdir_, writes):
    eng = CDCEngine(spark, os.path.join(tmpdir_, "t"), n_buckets=8, mode="cow")
    eng.apply_epoch(make_events(spark, _rows(0, 10)), 0)
    del writes[:]
    # an already-reduced batch (one row per key), folded directly, so the
    # plan holds only the fold's own exchanges
    merge_epoch(spark, eng.table, make_events(spark, _rows(1, 20, n_keys=12)), 1)
    (call,) = writes
    w = aligned_width(8, spark.sparkContext.defaultParallelism)
    assert re.fullmatch(rf"conv_id#\d+, {w}", _one_exchange_width(call["plan"]))
    assert all(len(v) == 1 for v in call["files"].values())
    final = {r.conv_id: r.text for r in eng.read_final().collect()}
    assert final == {f"c{i}": "v20" for i in range(12)}
