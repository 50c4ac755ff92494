"""Oracle-checked query registry: each operator family as a (PySpark
DataFrame builder, exact DuckDB oracle SQL) pair over the testdata
tables; tests/test_entry_contract.py runs both over the same parquet and
compares them row for row.

Conventions that make the cross-engine value-hash comparison exact:
- every computed column is aliased identically in both engines;
- double sums are computed over DECIMAL casts (exact) and converted to
  double at the end; ratios/similarities are ``round(x, 6)``;
- timestamps in outputs are converted to epoch seconds with *floor*
  semantics on both sides (Spark ``unix_timestamp`` floors; DuckDB uses
  ``floor(epoch(ts))``);
- hashing is md5-based (bit-identical in Spark/DuckDB/Python).
"""

from __future__ import annotations

import functools
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .operators import text_analysis, text_dedup
from .operators.dedup import reduce_latest

# --------------------------------------------------------------------------
# helpers


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ts_s(col) -> F.Column:
    return F.unix_timestamp(col)


_SQL_TS_S = "floor(epoch({c}))::BIGINT"


@functools.cache
def _table_roots() -> tempfile.TemporaryDirectory:
    """One per-process directory for the tables the engine-state queries
    ingest, removed when the interpreter exits: their frames read the
    table lazily, so a root must outlive the builder call."""
    return tempfile.TemporaryDirectory(prefix="crba_query_tables_")


# --------------------------------------------------------------------------
# 1. CDC-shaped operators over the `events` stream table


def q_cdc_latest_per_key(spark, sf_dir):
    """FILT-LATEST / WIN-LATEST (SURVEY §2.2, §2.5): latest event per key —
    the core CDC reducer shape, as a two-phase hash agg."""
    ev = load(spark, sf_dir, "events")
    r = reduce_latest(
        ev.select(
            "user_id",
            _ts_s("ts").alias("ts_s"),
            F.col("event_id").alias("lsn"),
            "event_type",
            "value",
        ),
        key_cols=["user_id"],
        order_col="lsn",
    )
    return r.select(
        "user_id",
        F.col("lsn").alias("last_event_id"),
        F.col("ts_s").alias("last_ts_s"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


SQL_CDC_LATEST_PER_KEY = f"""
WITH ranked AS (
  SELECT user_id, event_id, {_SQL_TS_S.format(c='ts')} AS ts_s, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id AS last_event_id, ts_s AS last_ts_s,
       event_type AS last_event_type, value AS last_value
FROM ranked WHERE rn = 1
"""


def _events_cdc(ev: DataFrame) -> DataFrame:
    """The deterministic events→change-stream mapping shared by the
    replay-reduce and snapshot-diff queries."""
    return ev.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "purchase", "UPSERT")
        .otherwise("U")
        .alias("op"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.col("event_id") % 40).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
            (F.col("event_id") % 4).cast("int") + 1,
        ).alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "click", "browser").alias("tool"),
        F.col("ts"),
    )


def q_cdc_replay_reduce(spark, sf_dir):
    """Flagship shape: map the events table to a change stream over
    transcripts(conv_id, turn_idx, ...) and reduce it to final state —
    the engine's dedup+reduce+tombstone-filter path as one declarative
    plan (the full engine, table commits included, is checked against
    ``gen.oracle_final`` in tests/test_replay_equality.py)."""
    # spread_compute: the reduce's map-side combine (a SortAggregate —
    # struct buffers aren't hashable) otherwise runs inside the ONE scan
    # task a single-row-group events file yields; with ~600k (conv_id,
    # turn_idx) groups the partial agg is the dominant cost and
    # parallelizes ~30% faster than the round-robin exchange costs
    # (measured sf1.0: 4.9s → 3.0s). cdc_latest_per_key is deliberately
    # NOT spread: ~15k user keys collapse 400:1 in the single map task,
    # and spreading measured 4x slower (0.3s → 1.2s).
    from .spread import spread_compute

    cdc = spread_compute(_events_cdc(load(spark, sf_dir, "events")))
    final = reduce_latest(cdc, key_cols=["conv_id", "turn_idx"], order_col="lsn")
    return final.filter(F.col("op") != "D").select(
        "conv_id", "turn_idx", "role", "text", "tool",
        _ts_s("ts").alias("ts_s"), "lsn",
    )


_SQL_CDC_CTE = """cdc AS (
  SELECT event_id AS lsn,
         CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
              WHEN 'purchase' THEN 'UPSERT' ELSE 'U' END AS op,
         'u' || user_id::VARCHAR AS conv_id,
         (event_id % 40)::INT AS turn_idx,
         ['user','assistant','system','tool'][(event_id % 4)::INT + 1] AS role,
         props AS text,
         CASE WHEN event_type = 'click' THEN 'browser' END AS tool,
         ts
  FROM events
)"""

SQL_CDC_REPLAY_REDUCE = f"""
WITH {_SQL_CDC_CTE}, ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM cdc
)
SELECT conv_id, turn_idx, role, text, tool, {_SQL_TS_S.format(c='ts')} AS ts_s, lsn
FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def q_snapshot_diff_events(spark, sf_dir):
    """Cross-run snapshot diff (the reference's final-file comparison,
    SURVEY §3.3): the transcript state as of the half-LSN cutoff vs the
    fully-replayed state, per key — added / dropped / changed with old
    and new values. Expressed with the generic table_diff operator (one
    full-outer equi-join on the key); the icelite time-travel variant
    (snapshot_diff over two retained versions) is pytest-verified."""
    from .operators.diff import table_diff

    cdc = _events_cdc(load(spark, sf_dir, "events"))
    cut = cdc.agg(F.floor(F.max("lsn") / 2).cast("long").alias("c"))
    old_state = (
        reduce_latest(
            cdc.crossJoin(F.broadcast(cut)).filter(F.col("lsn") <= F.col("c")),
            key_cols=["conv_id", "turn_idx"],
            order_col="lsn",
        )
        .filter(F.col("op") != "D")
        .select("conv_id", "turn_idx", "lsn", "text")
    )
    new_state = (
        reduce_latest(cdc, key_cols=["conv_id", "turn_idx"], order_col="lsn")
        .filter(F.col("op") != "D")
        .select("conv_id", "turn_idx", "lsn", "text")
    )
    d = table_diff(
        old_state, new_state, ["conv_id", "turn_idx"], compare_cols=["lsn", "text"]
    )
    return d.select(
        "conv_id", "turn_idx", "status", "old_lsn", "new_lsn", "old_text", "new_text"
    )


SQL_SNAPSHOT_DIFF_EVENTS = f"""
WITH {_SQL_CDC_CTE},
cut AS (SELECT CAST(floor(max(lsn) / 2) AS BIGINT) AS c FROM cdc),
old_r AS (
  SELECT cdc.*, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM cdc, cut WHERE lsn <= c
),
old_s AS (SELECT conv_id, turn_idx, lsn, text FROM old_r WHERE rn = 1 AND op <> 'D'),
new_r AS (
  SELECT cdc.*, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM cdc
),
new_s AS (SELECT conv_id, turn_idx, lsn, text FROM new_r WHERE rn = 1 AND op <> 'D'),
d AS (
  SELECT coalesce(o.conv_id, n.conv_id) AS conv_id,
         coalesce(o.turn_idx, n.turn_idx) AS turn_idx,
         CASE WHEN o.lsn IS NULL THEN 'added'
              WHEN n.lsn IS NULL THEN 'dropped'
              WHEN o.lsn IS DISTINCT FROM n.lsn
                OR o.text IS DISTINCT FROM n.text THEN 'changed'
         END AS status,
         o.lsn AS old_lsn, n.lsn AS new_lsn,
         o.text AS old_text, n.text AS new_text
  FROM old_s o
  FULL OUTER JOIN new_s n ON o.conv_id = n.conv_id AND o.turn_idx = n.turn_idx
)
SELECT * FROM d WHERE status IS NOT NULL
"""


def q_sessionize(spark, sf_dir):
    """Sessionization (30-min inactivity gap) via window lag+cumsum —
    the batch shape of a streaming session window."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        _ts_s(F.col("ts")) - _ts_s(F.lag("ts").over(w)) > 1800
    ).cast("int")
    sess = ev.withColumn("new_sess", F.coalesce(gap, F.lit(1))).withColumn(
        "session_idx", F.sum("new_sess").over(w)
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(_ts_s(F.col("ts"))).alias("start_s"),
        F.max(_ts_s(F.col("ts"))).alias("end_s"),
    )


SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN {_SQL_TS_S.format(c='ts')} -
                   {_SQL_TS_S.format(c="lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)")}
                   > 1800 THEN 1
              WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
              ELSE 0 END AS new_sess
  FROM events
), s AS (
  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id, session_idx, count(*) AS n_events,
       min({_SQL_TS_S.format(c='ts')}) AS start_s,
       max({_SQL_TS_S.format(c='ts')}) AS end_s
FROM s GROUP BY user_id, session_idx
"""


def q_tumbling_hourly(spark, sf_dir):
    """Tumbling-window aggregate (streaming windowed-agg shape, batch)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        _ts_s(F.date_trunc("hour", F.col("ts"))).alias("hour_s"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("value").cast("decimal(18,2)"))).cast("double").alias("sum_value"),
    )


SQL_TUMBLING_HOURLY = f"""
SELECT {_SQL_TS_S.format(c="date_trunc('hour', ts)")} AS hour_s, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_dedup_exact_events(spark, sf_dir):
    """Exact dedup via hash groupBy (SURVEY §2.4 AGG-DISTINCT)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))


SQL_DEDUP_EXACT_EVENTS = (
    "SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2"
)


def q_user_high_watermark(spark, sf_dir):
    """Per-key applied high watermark (per-partition lineage analog)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max("event_id").alias("hw_event_id"), F.count(F.lit(1)).alias("n_events")
    )


SQL_USER_HIGH_WATERMARK = (
    "SELECT user_id, max(event_id) AS hw_event_id, count(*) AS n_events "
    "FROM events GROUP BY 1"
)


# --------------------------------------------------------------------------
# 2. near-duplicate operators over the `documents` table


#: the shingle CTE pair (distinct character 5-grams per document) that
#: every documents oracle builds on
_SQL_SHINGLES = """
  pos AS (
    SELECT doc_id, text,
           unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
    FROM documents
  ),
  sh AS (
    SELECT DISTINCT doc_id, substr(text, i, 5) AS sh FROM pos
  )
"""


def q_ngram_jaccard_exact_baseline(spark, sf_dir):
    """EXACT-BASELINE, deliberately quadratic in posting-list length —
    the recall/verification oracle for the LSH scale path, kept uncapped
    so capped/LSH results can be asserted subsets of it. Never the query
    to grab at scale: use `lsh_verified_pairs` (candidates → verify), or
    call ngram_jaccard_pairs(max_doc_freq=...) to cap hot shingles."""
    return text_dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=0.35
    )


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.35
"""


def q_minhash_signatures(spark, sf_dir):
    return text_dedup.minhash_signatures(load(spark, sf_dir, "documents"))


def _sql_minhash_sig_cte():
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {text_dedup.MINHASH_P}) AS s{k}"
        for k, (a, b) in enumerate(zip(text_dedup.MINHASH_A, text_dedup.MINHASH_B))
    )
    return f"""
  hashed AS (
    SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM sh
  ),
  sig AS (
    SELECT doc_id,
         {mins}
    FROM hashed GROUP BY doc_id
  )
"""


def _sql_minhash_signatures():
    return f"WITH {_SQL_SHINGLES}, {_sql_minhash_sig_cte()} SELECT * FROM sig"


def q_minhash_lsh_candidates(spark, sf_dir):
    return text_dedup.minhash_lsh_candidates(load(spark, sf_dir, "documents"))


def _sql_lsh_ctes():
    """Shared CTE chain: shingles → hashes → MinHash sig → LSH bands →
    candidate pairs (used by the candidates, verify, incremental and
    closure oracles)."""
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(concat_ws(':', s{4*b}, s{4*b+1}, s{4*b+2}, s{4*b+3})) AS band_hash FROM sig"
        for b in range(text_dedup.N_BANDS)
    )
    return f"""{_SQL_SHINGLES}, {_sql_minhash_sig_cte()},
bands AS (
{bands}
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _sql_minhash_lsh():
    return f"WITH {_sql_lsh_ctes()} SELECT id_a, id_b, n_shared_bands FROM cand"


def q_lsh_verified_pairs(spark, sf_dir):
    """The composed scale path for text near-dup: MinHash+LSH generates
    candidates (equi-join on band hashes), exact n-gram Jaccard verifies
    ONLY those pairs — the verification join is bounded by |candidates|,
    never quadratic in posting-list length."""
    docs = load(spark, sf_dir, "documents")
    cand = text_dedup.minhash_lsh_candidates(docs)
    return text_dedup.jaccard_verify_pairs(docs, cand, threshold=0.35)


def _sql_lsh_verified():
    return f"""
WITH {_sql_lsh_ctes()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.35
"""


def _split_existing_new(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The incremental queries' md5 split of the corpus: the 80%
    'existing' slice and the 20% 'new' batch (``split`` in the SQL
    oracle)."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(100),
    )
    return docs.filter(bucket < 80), docs.filter(bucket >= 80)


def q_incremental_near_dup(spark, sf_dir):
    """Incremental dedup — the shape a RUNNING ingestion pipeline needs:
    near-dup candidates of an incoming batch (the 20% 'new' slice of
    `_split_existing_new`) against the already-ingested corpus (the 80%
    'existing' slice). A new×existing banded equi-join, never a
    self-join: in production the existing side's band table is
    precomputed at ingest, so per-batch cost is independent of corpus
    size. Output (new_id, existing_id, n_shared_bands); downstream,
    `jaccard_verify_pairs` + a keeper rule decide drops."""
    docs = load(spark, sf_dir, "documents")
    existing, new = _split_existing_new(docs)
    return text_dedup.incremental_lsh_candidates(new, existing)


def _sql_incremental_near_dup():
    return f"""
WITH {_sql_lsh_ctes()},
split AS (
  SELECT doc_id,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100) AS b
  FROM documents
)
SELECT n.doc_id AS new_id, e.doc_id AS existing_id,
       count(*) AS n_shared_bands
FROM bands n
JOIN split sn ON sn.doc_id = n.doc_id AND sn.b >= 80
JOIN bands e ON n.band_idx = e.band_idx AND n.band_hash = e.band_hash
JOIN split se ON se.doc_id = e.doc_id AND se.b < 80
GROUP BY 1, 2
"""


def q_lsh_index_candidates(spark, sf_dir):
    """Incremental dedup against the ENGINE-MAINTAINED band index
    (round-4 VERDICT #3 — the piece that makes `incremental_near_dup`
    truly O(batch) at 100 TB): the existing 80% slice is ingested into
    an icelite table with its MinHash band table written in the SAME
    atomic snapshot commit (band_index.py, snap["aux"]["lsh_bands"]);
    candidates for the incoming 20% batch then come from one shingle
    pass over the BATCH plus an equi-join against the persisted band
    files — the existing corpus' text is never re-read or re-shingled
    (plan-asserted in tests/test_band_index.py). The oracle recomputes
    both sides from text, so the hash match proves the persisted index
    holds exactly the bands fresh computation yields."""
    from . import band_index

    docs = load(spark, sf_dir, "documents")
    existing, new = _split_existing_new(docs)
    root = tempfile.mkdtemp(prefix="lshidx_", dir=_table_roots().name)
    _table, index = band_index.ingest_documents(spark, root, existing)
    id_type = docs.schema["doc_id"].dataType
    return (
        index.candidates(spark, new)
        .withColumn("existing_id", F.col("existing_id").cast(id_type))
        .select("new_id", "existing_id", "n_shared_bands")
    )


def q_engine_dedup_labels(spark, sf_dir):
    """The COMPLETE incremental dedup pipeline as ENGINE STATE (round-5:
    composition of round-4 VERDICT #3 + #6): the existing 80% slice is
    ingested as epoch 0 and the 20% batch as epoch 1, each commit
    atomically carrying its band-index rows AND its near-dup group-label
    delta (band_index.DedupLabels: index candidates → exact-Jaccard
    verify over bucket-pruned partner text → driver-side union-find fold,
    O(changed) label rows per epoch). The returned labeling is read back
    from the persisted aux artifact; the oracle is the FULL-RECOMPUTE
    recursive-CTE closure over the whole corpus (`dedup_groups`'
    verbatim), so the hash match proves engine-incremental ≡ batch
    recompute — pairs, verification and transitive closure included."""
    from . import band_index

    docs = load(spark, sf_dir, "documents")
    existing, new = _split_existing_new(docs)
    root = tempfile.mkdtemp(prefix="dedupstate_", dir=_table_roots().name)
    table, index = band_index.ingest_documents(
        spark, root, existing, dedup_labels=True
    )
    table, index = band_index.ingest_documents(
        spark, root, new, dedup_labels=True, epoch=1, table=table
    )
    id_type = docs.schema["doc_id"].dataType
    labels = band_index.DedupLabels(table, index).read(spark)
    # the engine's labels are canonical minima under STRING ordering of
    # the (composite, hence string) doc ids; the oracle's closure picks
    # numeric minima. Recanonicalize each group's representative to the
    # numeric min — an injective per-group rename, so any grouping
    # difference (split or merge) still produces mismatching rows.
    reps = labels.groupBy("label").agg(
        F.min(F.col("node").cast(id_type)).alias("group_id")
    )
    return labels.join(reps, "label").select(
        F.col("node").cast(id_type).alias("doc_id"), "group_id"
    )


def q_incremental_dedup_groups(spark, sf_dir):
    """The incremental-components step that completes the incremental
    dedup story (round-4 VERDICT #6): the corpus is already labeled
    (existing 80% slice, same md5 split as `incremental_near_dup`), a
    batch arrives (the 20% slice), its near-dup pairs — new×existing
    candidates PLUS new×new candidates, exact-Jaccard-verified — are
    folded into the existing labeling with
    ``merge_components`` (operators/graph.py): one filtered probe and
    one relabel pass over the big labels table plus a driver union-find
    over a condensed graph of size O(|new pairs|), never a recompute
    over the union.
    The oracle is the FULL-RECOMPUTE closure (`dedup_groups`' recursive
    CTE verbatim), so the hash match proves incremental ≡ recompute —
    including cross-batch chains where a new doc bridges two existing
    components."""
    from .operators.graph import connected_components, merge_components

    docs = load(spark, sf_dir, "documents")
    existing, new = _split_existing_new(docs)
    ex_pairs = text_dedup.jaccard_verify_pairs(
        existing, text_dedup.minhash_lsh_candidates(existing), threshold=0.35
    )
    labels = connected_components(
        ex_pairs, nodes=existing.select(F.col("doc_id").alias("node"))
    )
    cand = text_dedup.incremental_lsh_candidates(new, existing).select(
        F.col("new_id").alias("id_a"), F.col("existing_id").alias("id_b")
    ).union(text_dedup.minhash_lsh_candidates(new).select("id_a", "id_b"))
    new_pairs = text_dedup.jaccard_verify_pairs(docs, cand, threshold=0.35)
    merged = merge_components(
        labels, new_pairs, new_nodes=new.select(F.col("doc_id").alias("node"))
    )
    return merged.select(
        F.col("node").alias("doc_id"), F.col("label").alias("group_id")
    )


def q_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate mining: the character 5-grams shared by the most
    documents (document frequency ≥ 5), top 20 — the signal behind
    boilerplate/template stripping and the `max_doc_freq` posting-list
    cap in the Jaccard join (hot shingles dominate join cost while
    contributing least to similarity). One shingle pass + one
    map-side-combinable agg + top-k; output is O(k) at any corpus
    size."""
    sh = text_dedup.shingles(load(spark, sf_dir, "documents"))
    return (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 5)
        .orderBy(F.desc("df"), "sh")
        .limit(20)
    )


def _sql_boilerplate_ngrams():
    return f"""
WITH {_SQL_SHINGLES}
SELECT sh, count(*) AS df FROM sh
GROUP BY 1 HAVING count(*) >= 5
ORDER BY df DESC, sh LIMIT 20
"""


def q_dedup_groups(spark, sf_dir):
    """Transitive near-duplicate GROUPS — the step that turns pair lists
    into dedup decisions (if A~B and B~C, one keeper must survive for
    {A,B,C} even though A~C was never emitted): LSH candidates →
    exact-Jaccard-verified pairs (≥0.35, the `lsh_verified_pairs`
    composition) → connected components (driver union-find over the
    collected pairs, operators/graph.py). Every document gets
    (doc_id, group_id) with group_id = the component's smallest doc_id
    (deterministic, engine-portable, and the natural keeper id);
    documents with no near-dup edge label themselves. The DuckDB
    oracle replays the exact same pairs and closes them transitively
    with a recursive CTE."""
    from .operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = text_dedup.jaccard_verify_pairs(
        docs, text_dedup.minhash_lsh_candidates(docs), threshold=0.35
    )
    cc = connected_components(
        pairs, nodes=docs.select(F.col("doc_id").alias("node"))
    )
    return cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("group_id")
    )


def _sql_dedup_groups():
    return f"""
WITH RECURSIVE {_sql_lsh_ctes()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.35
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
walk AS (
  SELECT doc_id AS node, doc_id AS root FROM documents
  UNION
  SELECT s.b, w.root FROM walk w JOIN sym s ON s.a = w.node
)
SELECT node AS doc_id, min(root) AS group_id FROM walk GROUP BY 1
"""


def q_token_stats(spark, sf_dir):
    return text_analysis.token_stats(load(spark, sf_dir, "documents"))


SQL_TOKEN_STATS = """
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
       length(text) AS n_chars,
       round(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
             / greatest(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 1), 6)
         AS avg_token_len
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    return text_analysis.fingerprint(load(spark, sf_dir, "documents"))


SQL_FINGERPRINT = f"""
WITH {_SQL_SHINGLES}
SELECT doc_id, min(('0x' || substr(md5(sh), 1, 8))::BIGINT) AS fingerprint
FROM sh GROUP BY 1
"""


# --------------------------------------------------------------------------
# registry


def registry() -> dict[str, tuple]:
    """name → (spark_fn, oracle_sql): every query here paired with its
    exact DuckDB oracle, compared row for row by
    tests/test_entry_contract.py. CDC and windows over the events stream
    first, then the documents' near-dup path (MinHash-LSH, components,
    the engine's band index and labels), then the twins, intermediates
    and labeled quadratic baselines.
    """
    return {
        # --- CDC / temporal -------------------------------------------
        "cdc_latest_per_key": (q_cdc_latest_per_key, SQL_CDC_LATEST_PER_KEY),
        "cdc_replay_reduce": (q_cdc_replay_reduce, SQL_CDC_REPLAY_REDUCE),
        "snapshot_diff_events": (q_snapshot_diff_events, SQL_SNAPSHOT_DIFF_EVENTS),
        "sessionize": (q_sessionize, SQL_SESSIONIZE),
        "tumbling_hourly": (q_tumbling_hourly, SQL_TUMBLING_HOURLY),
        "dedup_exact_events": (q_dedup_exact_events, SQL_DEDUP_EXACT_EVENTS),
        "user_high_watermark": (q_user_high_watermark, SQL_USER_HIGH_WATERMARK),
        # --- documents: near-dup --------------------------------------
        "minhash_lsh_candidates": (q_minhash_lsh_candidates, _sql_minhash_lsh()),
        "dedup_groups": (q_dedup_groups, _sql_dedup_groups()),
        # engine-maintained band index ≡ fresh recompute: same oracle as
        # incremental_near_dup (the index must hold exactly those bands)
        "lsh_index_candidates": (q_lsh_index_candidates, _sql_incremental_near_dup()),
        # engine-maintained incremental labeling ≡ full recompute closure
        "engine_dedup_labels": (q_engine_dedup_labels, _sql_dedup_groups()),
        "boilerplate_ngrams": (q_boilerplate_ngrams, _sql_boilerplate_ngrams()),
        # --- twins / intermediates / labeled baselines ------------------
        # intermediate of dedup_groups, still oracled here
        "lsh_verified_pairs": (q_lsh_verified_pairs, _sql_lsh_verified()),
        # Catalyst twin of functions/vectorized.token_count_vec
        "token_stats": (q_token_stats, SQL_TOKEN_STATS),
        # MinHash-family twin of minhash_lsh_candidates
        "doc_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
        # operator-level form of lsh_index_candidates (same oracle)
        "incremental_near_dup": (q_incremental_near_dup, _sql_incremental_near_dup()),
        # incremental ≡ full recompute: same closure oracle as dedup_groups
        "incremental_dedup_groups": (q_incremental_dedup_groups, _sql_dedup_groups()),
        "minhash_signatures": (q_minhash_signatures, _sql_minhash_signatures()),
        # *_exact_baseline naming = the registry's own warning label: the
        # quadratic form exists only as the recall oracle for the LSH paths
        "ngram_jaccard_exact_baseline": (
            q_ngram_jaccard_exact_baseline,
            SQL_NGRAM_JACCARD_PAIRS,
        ),
    }
