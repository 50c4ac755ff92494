"""connected_components and the incremental merges (operators/graph.py):
the driver union-find over collected candidate-pair edges — chains,
multiple components, singletons from a wider node universe, any id type,
and the incremental full/delta folds."""

import hashlib
import uuid

import pytest

from crba_etl_spark.operators.graph import connected_components


def _cc(spark, edges, nodes=None):
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    n = (
        spark.createDataFrame([(x,) for x in nodes], "node long")
        if nodes is not None
        else None
    )
    out = connected_components(e, nodes=n)
    return {r.node: r.label for r in out.collect()}


def test_chain_and_separate_component(spark):
    # 1-2-3-4 chain (diameter 3) + {10,11}; transitivity must close the
    # chain even though (1,4) was never an edge
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_singletons_from_node_universe(spark):
    got = _cc(spark, [(2, 5)], nodes=[1, 2, 5, 9])
    assert got == {1: 1, 2: 2, 5: 2, 9: 9}


def test_label_is_component_min_regardless_of_edge_direction(spark):
    # min id sits at the dst side of every edge
    got = _cc(spark, [(7, 3), (9, 3)])
    assert got == {3: 3, 7: 3, 9: 3}


def _merge(spark, labels, new_edges, new_nodes=None):
    from crba_etl_spark.operators.graph import merge_components

    lab = spark.createDataFrame(list(labels.items()), "node long, label long")
    e = spark.createDataFrame(new_edges, "id_a long, id_b long")
    n = (
        spark.createDataFrame([(x,) for x in new_nodes], "node long")
        if new_nodes is not None
        else None
    )
    out = merge_components(lab, e, new_nodes=n)
    return {r.node: r.label for r in out.collect()}


def test_merge_components_cross_batch_chain(spark):
    """Round-4 VERDICT #6: new pairs bridging several existing
    components (via a brand-new node) must merge them all to the union
    minimum — and match a full recompute over the union graph."""
    from crba_etl_spark.operators.graph import connected_components

    old_edges = [(1, 2), (5, 6), (10, 11)]
    labels = {1: 1, 2: 1, 5: 5, 6: 5, 10: 10, 11: 10, 20: 20}
    # new node 100 chains components {1,2} and {5,6} together; (11, 100)
    # extends the chain to {10,11}; 30-31 is a brand-new pair
    new_edges = [(2, 100), (100, 6), (11, 100), (30, 31)]
    got = _merge(spark, labels, new_edges, new_nodes=[100, 30, 31, 40])
    e = spark.createDataFrame(
        old_edges + new_edges, "id_a long, id_b long"
    )
    n = spark.createDataFrame(
        [(x,) for x in list(labels) + [100, 30, 31, 40]], "node long"
    )
    full = {r.node: r.label for r in connected_components(e, nodes=n).collect()}
    assert got == full
    assert got[100] == 1 and got[10] == 1 and got[5] == 1  # chain closed
    assert got[20] == 20 and got[40] == 40  # untouched / singleton batch node


def test_merge_components_new_min_from_batch(spark):
    """A new node with a smaller id than every existing label must
    become the merged component's canonical label."""
    got = _merge(spark, {5: 5, 6: 5}, [(0, 6)], new_nodes=[0])
    assert got == {0: 0, 5: 0, 6: 0}


def test_merge_components_no_edges(spark):
    got = _merge(spark, {1: 1, 2: 1}, [], new_nodes=[9])
    assert got == {1: 1, 2: 1, 9: 9}


def _merge_delta(spark, labels, new_edges, new_nodes=None):
    from crba_etl_spark.operators.graph import merge_components_delta

    lab = spark.createDataFrame(list(labels.items()), "node long, label long")
    e = spark.createDataFrame(new_edges, "id_a long, id_b long")
    n = (
        spark.createDataFrame([(x,) for x in new_nodes], "node long")
        if new_nodes is not None
        else None
    )
    out = merge_components_delta(lab, e, new_nodes=n)
    return {r.node: r.label for r in out.collect()}


def test_merge_delta_resolves_to_merge_components(spark):
    """Equivalence contract: labels overridden by the delta (delta wins)
    ≡ merge_components, and the delta contains ONLY changed/new rows."""
    labels = {1: 1, 2: 1, 5: 5, 6: 5, 10: 10, 11: 10, 20: 20}
    new_edges = [(2, 100), (100, 6), (11, 100), (30, 31)]
    new_nodes = [100, 30, 31, 40]
    delta = _merge_delta(spark, labels, new_edges, new_nodes=new_nodes)
    full = _merge(spark, labels, new_edges, new_nodes=new_nodes)
    assert {**labels, **delta} == full
    # untouched rows never appear in the delta
    assert 20 not in delta and 1 not in delta and 2 not in delta
    # relabeled components, new edge-nodes and batch singletons do
    assert delta[5] == 1 and delta[10] == 1 and delta[100] == 1
    assert delta[30] == 30 and delta[31] == 30 and delta[40] == 40


def test_merge_delta_update_batch_never_dissolves_groups(spark):
    """new_nodes may OVERLAP the labeled universe (an UPDATE batch):
    a re-ingested member with no surviving edge must NOT get a
    singleton row that would override its group label at read time."""
    delta = _merge_delta(spark, {3: 3, 7: 3}, [], new_nodes=[7, 9])
    assert delta == {9: 9}  # 7 keeps label 3 (no row), 9 is genuinely new


def test_merge_driver_no_edges_and_string_ids(spark):
    from crba_etl_spark.operators.graph import merge_components_delta

    lab = spark.createDataFrame([("a", "a"), ("b", "a")], "node string, label string")
    e = spark.createDataFrame([], "id_a string, id_b string")
    n = spark.createDataFrame([("b",), ("z",)], "node string")
    delta = {
        r.node: r.label for r in merge_components_delta(lab, e, new_nodes=n).collect()
    }
    assert delta == {"z": "z"}  # known node keeps its group, new one is a singleton


def _closure(edges, universe=()):
    """Pure-Python reference: component minimum of every node, by
    depth-first search over the undirected graph."""
    adj = {x: set() for x in universe}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for s in adj:
        if s in out:
            continue
        comp, stack = {s}, [s]
        while stack:
            for y in adj[stack.pop()] - comp:
                comp.add(y)
                stack.append(y)
        out.update((x, min(comp)) for x in comp)
    return out


def _md5_edges():
    def h(i):
        return int(hashlib.md5(f"edge:{i}".encode()).hexdigest()[:8], 16)

    edges = [(h(i) % 60, h(i + 1000) % 60) for i in range(80)]
    return [(a, b) for a, b in edges if a != b]


#: (id type, edges, node universe or None)
CLOSURE_CASES = {
    # diameter 119: a round-per-hop algorithm needs ~119 rounds
    "long_chain_120": ("long", [(i, i + 1) for i in range(1, 120)], None),
    "star_shaped": ("long", [(5, 1), (7, 1), (9, 1)], None),
    # multi-component graph; 60..69 untouched → singletons
    "md5_random_60_of_70": ("long", _md5_edges(), list(range(70))),
    "string_chain": (
        "string",
        [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")],
        None,
    ),
}


@pytest.mark.parametrize("case", sorted(CLOSURE_CASES))
def test_components_equal_python_closure(spark, case):
    """One contract on any id type and any diameter: labels equal the
    pure-Python closure, computed in at most 2 Spark jobs (the edge/node
    collect and the caller's collect), leaving no persisted RDD behind."""
    id_type, edges, universe = CLOSURE_CASES[case]
    e = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    n = (
        spark.createDataFrame([(x,) for x in universe], f"node {id_type}")
        if universe is not None
        else None
    )
    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        got = {r.node: r.label for r in connected_components(e, nodes=n).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == _closure(edges, universe or ())
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2, jobs
    assert set(sc._jsc.getPersistentRDDs().keySet().toArray()) == persisted
