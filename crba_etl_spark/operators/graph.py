"""Connected components over candidate-pair edges, closed on the driver.

The missing last step of every dedup pipeline: MinHash-LSH produces
near-duplicate PAIRS, but dedup decisions need transitive GROUPS — if
A~B and B~C, one keeper must survive for {A,B,C} even though A~C was
never emitted. Components also scope clustering, per-group sampling
caps and lineage ("these 14 documents are one duplicated article").

One algorithm: Spark collects the distinct non-self edges (and the node
ids, when given) in one pass, and :func:`_driver_union_find` closes
them in Python. Every label is its component's smallest node id — a
deterministic canonical label and the natural keeper id — on any
orderable id type (long, string, ...). On a graph that fits in memory a
single-threaded union-find beats distributed label propagation
(McSherry et al., "Scalability! But at what COST?", HotOS 2015): it
costs one collect however long the chains are, where round-based
propagation costs several Spark jobs per round and one round per hop
of component diameter.

Premise: one call's edges and nodes fit on the driver. The engine's
dedup epoch (band_index.DedupLabels.delta_for_epoch) makes the same
assumption about its batch. A batch too big for the driver is sliced by
epoch — smaller epochs, or ``max_files_per_trigger`` slices in the
streaming tail — each folded into the stored labels with
:func:`merge_components_delta`; there is no distributed fallback.

Reference analog: none — graft mandate (dedup family beyond SURVEY §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


def _driver_union_find(edges: list[tuple]) -> dict:
    """Union-find with union-by-min over collected edges: returns
    {node: component minimum} for every node that is not its
    component's minimum. The root of each tree is always its
    component's smallest member (each union keeps the smaller root)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return {x: find(x) for x in parent}


def _collect(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame | None,
    node_col: str,
) -> tuple[T.DataType, list[tuple], set | None]:
    """ONE collect of the distinct non-self edges and, when ``nodes`` is
    given, its distinct ids (carried through the same collect as
    self-pairs); the edge plan runs once. Returns ``(id type, edges,
    node ids | None)``."""
    pairs = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    if nodes is not None:
        n = F.col(node_col)
        pairs = pairs.union(nodes.select(n.alias("a"), n.alias("b")))
    rows = {(r[0], r[1]) for r in pairs.collect()}
    ids = {a for a, b in rows if a == b} if nodes is not None else None
    return pairs.schema["a"].dataType, [e for e in rows if e[0] != e[1]], ids


def _arrow_table(schema: T.StructType, rows: list[tuple]):
    """Driver rows as a ``pyarrow.Table`` in ``schema``'s Arrow form
    (``to_arrow_schema``: an IntegerType column is int32, LongType
    int64)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def _local_frame(
    spark: SparkSession, schema: T.StructType, rows: list[tuple]
) -> DataFrame:
    """Driver rows as a LocalRelation, shipped through Arrow — no Python
    worker runs (``createDataFrame`` over a list pickles the rows
    through one)."""
    return spark.createDataFrame(_arrow_table(schema, rows))


def _in_list(col: str, values) -> F.Column:
    """``col IN (values...)`` for a driver list of str or int ids as ONE
    SQL expression — one py4j call, where ``F.col(col).isin(values)``
    makes one per literal. Strings are quoted with ``'`` and ``\\``
    escaped (Spark's default escaped string literals); an empty list is
    false."""
    if not values:
        return F.lit(False)
    lits = []
    for v in values:
        if isinstance(v, str):
            lits.append("'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'")
        elif isinstance(v, int) and not isinstance(v, bool):
            lits.append(str(v))
        else:
            raise TypeError(f"_in_list takes str or int ids, not {type(v).__name__}")
    return F.expr(f"`{col}` IN ({', '.join(lits)})")


def _pair_schema(a: str, b: str, a_type: T.DataType, b_type: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(a, a_type), T.StructField(b, b_type)])


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "node",
) -> DataFrame:
    """(node, label) for every node, where ``label`` is the smallest
    node id in the node's connected component; both columns have the
    input's id type.

    ``nodes`` (single-column, named ``node_col``) widens the universe
    beyond edge endpoints so isolated nodes appear as their own
    singleton components; omit it to label edge endpoints only.
    Spark work: the one edge/node collect (:func:`_collect`); the
    returned rows are a local relation built on the driver."""
    id_type, pairs, ids = _collect(edges, src, dst, nodes, node_col)
    _cur, _mapping, rows = _merge_driver(None, pairs, ids)
    return _local_frame(
        edges.sparkSession, _pair_schema("node", "label", id_type, id_type), rows
    )


def _probe_labels(
    lab: DataFrame, ids: set, extra_ids: set | None = None
) -> dict:
    """Current labels of ``ids ∪ extra_ids`` — ONE streamed pass over the
    big labels relation, filtered by the id set as one IN-list
    (:func:`_in_list`). It is the only corpus-touching job of the merge;
    the filter pushes below a resolving aggregate, so only the probed
    nodes' rows shuffle."""
    probe = sorted(ids | (extra_ids or set()))
    if not probe:
        return {}
    return {
        r["node"]: r["label"]
        for r in lab.filter(_in_list("node", probe)).collect()
    }


def _merge_driver(
    lab: DataFrame | None, edges: list[tuple], nn_ids: set | None
) -> tuple[dict, dict, list[tuple]]:
    """Driver half of the incremental merge over a collected edge set:
    ONE labels probe (:func:`_probe_labels`; skipped when ``lab`` is
    None — nothing labeled yet), then union-find of the
    condensed graph in Python over O(|edges| + |batch|) rows. Returns
    ``(cur, mapping, local)``: the probed current labels; old → new
    label for every condensed node that is not its component's
    minimum; and (node, label) rows for the endpoints and new nodes the
    labeling lacks."""
    ends = {x for ab in edges for x in ab}
    cur = _probe_labels(lab, ends, nn_ids) if lab is not None else {}
    # condense: substitute each endpoint by its current label (itself if
    # unlabeled); union-find the condensed graph; labels of condensed
    # minima ARE the union graph's minima (see merge_components)
    mapping = {
        old: new
        for old, new in _driver_union_find(
            [(cur.get(a, a), cur.get(b, b)) for a, b in edges]
        ).items()
        if new != old
    }
    local = [(x, mapping.get(x, x)) for x in sorted(ends) if x not in cur]
    if nn_ids is not None:
        local += [(x, x) for x in sorted(nn_ids) if x not in ends and x not in cur]
    return cur, mapping, local


def _merge_collected(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str,
    dst: str,
    node_col: str,
    label_col: str,
    new_nodes: DataFrame | None,
    delta_only: bool,
) -> DataFrame:
    """The body of :func:`merge_components` (``delta_only=False``) and
    :func:`merge_components_delta`. Spark work: the one edge/node
    collect, one labels probe, and the caller's action over the
    relabel join — everything else is :func:`_merge_driver`."""
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("label")
    )
    spark = lab.sparkSession
    _t, edges, nn_ids = _collect(new_edges, src, dst, new_nodes, node_col)
    _cur, mapping, local_rows = _merge_driver(lab, edges, nn_ids)
    ntype, ltype = lab.schema["node"].dataType, lab.schema["label"].dataType
    local = _local_frame(spark, _pair_schema("node", "label", ntype, ltype), local_rows)
    if not mapping:
        return local if delta_only else lab.unionByName(local)
    mdf = F.broadcast(
        _local_frame(
            spark, _pair_schema("_old", "_new", ltype, ltype), sorted(mapping.items())
        )
    )
    if delta_only:
        # only rows whose label is remapped — every emitted row is a change
        changed = lab.join(mdf, lab["label"] == F.col("_old")).select(
            "node", F.col("_new").alias("label")
        )
        return changed.unionByName(local)
    updated = lab.join(mdf, lab["label"] == F.col("_old"), "left").select(
        "node", F.coalesce("_new", "label").alias("label")
    )
    return updated.unionByName(local)


def merge_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "label",
    new_nodes: DataFrame | None = None,
) -> DataFrame:
    """Fold NEW edges into an EXISTING component labeling without
    recomputing components over the union graph — the incremental step
    a running dedup pipeline needs: per batch it costs one probe of the
    big labels table plus a union-find over a CONDENSED graph whose size
    is O(|new edges|), never O(corpus).

    Requires ``labels`` to be a canonical min-labeling (label = the
    smallest node id of its component — what connected_components
    produces). Because every label is its component's minimum, replacing
    each new edge's endpoints by their labels preserves exactly the
    connectivity the new edges add, and the condensed components' minima
    ARE the union graph's minima. ``new_nodes`` (single column
    ``node_col``, disjoint from the labeled universe — incremental
    ingest batches are) widens the output with singleton rows for batch
    nodes that gained no edge.

    Plan shape: the big ``labels`` relation is touched twice, both
    times streamed — the probe filtered to the touched ids, then the
    relabel against the broadcast old → new mapping — with no shuffle of
    the corpus-sized side. Cross-batch chains (new edges bridging
    several existing components transitively) close inside the
    condensed union-find."""
    return _merge_collected(
        labels, new_edges, src, dst, node_col, label_col, new_nodes, delta_only=False
    )


def merge_components_delta(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "label",
    new_nodes: DataFrame | None = None,
) -> DataFrame:
    """:func:`merge_components`, emitting ONLY the rows that change —
    the stored-state form: a labels table kept as base + per-epoch
    deltas (latest-per-node read, exactly icelite's MOR shape) needs
    O(changed) rows written per batch, not an O(corpus) rewrite.

    Equivalence contract (tested): latest-per-node over
    ``labels ∪ delta`` (delta wins) ≡ ``merge_components(labels,
    new_edges, new_nodes)``. Unlike :func:`merge_components`,
    ``new_nodes`` may OVERLAP the labeled universe (an UPDATE batch
    re-ingests known docs): already-labeled nodes never get a singleton
    row — a group must not dissolve because one member's text was
    revised (groups are monotone under incremental dedup; splitting
    requires a full recompute, by design)."""
    return _merge_collected(
        labels, new_edges, src, dst, node_col, label_col, new_nodes, delta_only=True
    )
