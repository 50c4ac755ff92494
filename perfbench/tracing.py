"""Spans around the engine's layers, taken from the benchmark's own process.

The tracer wraps public functions where the engine looks them up
(``crba_etl_spark.engine`` imports ``apply_delta_epoch`` and
``write_epoch_metrics`` by name; ``IceliteTable`` and the band-index
classes are patched on the class). Each span records its parent, wall
start/end and, for spans that may run Spark jobs, sets a Spark job group
``<span name>#<span id>`` so the event log can attribute jobs and task
metrics to it. Spans stay in memory until :func:`layer_metrics` turns
them into per-layer numbers.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

import numpy as np

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        prev = None
        if jobs:
            prev = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setLocalProperty(GROUP_PROP, f"{name}#{sid}")
        try:
            yield rec
        finally:
            if jobs:
                self.sc.setLocalProperty(GROUP_PROP, prev)
            self._stack.pop()
            rec["t1"] = time.time()

    def wrap(self, owner, attr: str, name: str, jobs: bool = True, before=None, after=None):
        """Replace ``owner.attr`` with a spanned version. ``before(args)``
        runs ahead of the call; ``after(args, result, state)`` gets what
        it returned and may add counters."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            state = before(args) if before is not None else None
            with tracer.span(name, jobs=jobs):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, out, state)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        import crba_etl_spark.engine as engine
        import crba_etl_spark.operators.graph as graph
        from crba_etl_spark.band_index import DedupLabels, LshBandIndex, _parquet_rows
        from crba_etl_spark.engine import CDCEngine
        from crba_etl_spark.icelite import IceliteTable

        counters = self.counters

        def rows_written(key):
            def after(args, files, _state):
                counters[key] += _parquet_rows(args[0].table.root, files)

            return after

        def compact_before(args):
            return set(_referenced_files(args[0]))

        def compact_after(args, _out, before):
            # bytes of the files the compaction wrote: referenced after, not before
            table = args[0]
            new = set(_referenced_files(table)) - before
            counters["icelite.compact.bytes_rewritten"] += sum(
                os.path.getsize(os.path.join(table.root, p)) for p in new
            )

        self.wrap(CDCEngine, "apply_epoch", "engine.apply_epoch")
        self.wrap(engine, "apply_delta_epoch", "operators.merge.apply_delta_epoch")
        self.wrap(engine, "write_epoch_metrics", "metrics.write_epoch_metrics", jobs=False)
        self.wrap(IceliteTable, "write_merged", "icelite.write_merged")
        self.wrap(IceliteTable, "commit_deltas", "icelite.commit_deltas", jobs=False)
        self.wrap(IceliteTable, "snapshot", "icelite.snapshot", jobs=False)
        self.wrap(
            IceliteTable, "compact", "icelite.compact", before=compact_before, after=compact_after
        )
        self.wrap(
            LshBandIndex,
            "write_epoch",
            "band_index.LshBandIndex.write_epoch",
            after=rows_written("band_index.band_rows_written"),
        )
        self.wrap(DedupLabels, "delta_for_epoch", "band_index.DedupLabels.delta_for_epoch")
        self.wrap(
            DedupLabels,
            "write_epoch",
            "band_index.DedupLabels.write_epoch",
            after=rows_written("band_index.label_rows_written"),
        )
        self.wrap(DedupLabels, "compact", "band_index.DedupLabels.compact")
        self.wrap(graph, "merge_components_delta", "operators.graph.merge_components_delta")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


def _referenced_files(table) -> list[str]:
    """Relative paths of every file the live snapshot references. Reads
    the manifest directly, not through the (possibly traced) snapshot()."""
    snap = table.io.read_manifest(table.io.read_current())
    out = []
    for section in (snap["files"], snap.get("deltas", {})):
        for files in section.values():
            out.extend(files)
    for ent in snap.get("aux", {}).values():
        out.extend(ent.get("files", []))
    return out


def referenced_bytes(table) -> int:
    return sum(os.path.getsize(os.path.join(table.root, p)) for p in _referenced_files(table))


# --- event log --------------------------------------------------------------


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs (id -> group, submit/complete ms, stages) and per-job task
    totals parsed from the Spark event log under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        base = os.path.basename(path)
        if not os.path.isfile(path) or base.startswith("appstatus"):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "group": (e.get("Properties") or {}).get(GROUP_PROP),
                "submit": e["Submission Time"] / 1000.0,
                "complete": None,
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["complete"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            t = tasks[jid]
            t["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                t["failures"] += 1
            m = e.get("Task Metrics") or {}
            t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return jobs, tasks


# --- per-layer metrics -------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(
    tracer: Tracer,
    jobs: dict,
    tasks: dict,
    window: tuple[float, float],
    apply_wall_s: float,
    cores: int,
) -> dict[str, float]:
    spans = tracer.spans
    dur = {s["id"]: s["t1"] - s["t0"] for s in spans}
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += dur[s["id"]]
    self_time = {sid: d - child_time[sid] for sid, d in dur.items()}

    def root_of(sid: int, name: str) -> int | None:
        """Nearest ancestor-or-self span called ``name``."""
        while sid is not None:
            if spans[sid]["name"] == name:
                return sid
            sid = spans[sid]["parent"]
        return None

    applies = [s for s in spans if s["name"] == "engine.apply_epoch"]
    in_apply = {s["id"] for s in spans if root_of(s["id"], "engine.apply_epoch") is not None}
    n_epochs = max(len(applies), 1)

    def total(name: str, only_apply: bool = False) -> float:
        return sum(
            dur[s["id"]]
            for s in spans
            if s["name"] == name and (not only_apply or s["id"] in in_apply)
        )

    # jobs -> span id via the job group; keep jobs of the traced pass only
    job_span: dict[int, int] = {}
    for jid, j in jobs.items():
        if not (window[0] <= j["submit"] <= window[1]):
            continue
        g = j["group"] or ""
        sid = int(g.rsplit("#", 1)[1]) if "#" in g else -1
        job_span[jid] = sid

    def job_sum(pred, key: str) -> float:
        return sum(tasks[jid][key] for jid, sid in job_span.items() if pred(sid))

    def is_named(name: str):
        return lambda sid: sid >= 0 and spans[sid]["name"] == name

    wm = is_named("icelite.write_merged")
    apply_jobs = [jid for jid, sid in job_span.items() if sid >= 0 and sid in in_apply]
    driver_s = []
    for a in applies:
        ivs = []
        for jid in apply_jobs:
            j = jobs[jid]
            if root_of(job_span[jid], "engine.apply_epoch") != a["id"]:
                continue
            lo, hi = max(j["submit"], a["t0"]), min(j["complete"] or a["t1"], a["t1"])
            if hi > lo:
                ivs.append((lo, hi))
        driver_s.append(dur[a["id"]] - _union_len(ivs))

    layer_self_in_timed = sum(
        self_time[s["id"]]
        for s in spans
        if s["name"] != "bench.apply" and root_of(s["id"], "bench.apply") is not None
    )
    wall = window[1] - window[0]
    c = tracer.counters
    out = {
        "icelite.write_merged.s": total("icelite.write_merged"),
        "icelite.write_merged.executor_run_s": job_sum(wm, "run_s"),
        "icelite.write_merged.shuffle_write_bytes": job_sum(wm, "shuffle_write_bytes"),
        "icelite.write_merged.spill_bytes": job_sum(wm, "spill_bytes"),
        "icelite.write_merged.tasks": job_sum(wm, "tasks"),
        "operators.merge.apply_delta_epoch.s": total("operators.merge.apply_delta_epoch"),
        "engine.apply_epoch.s_p50": float(np.median([dur[a["id"]] for a in applies])) if applies else 0.0,
        "engine.apply_epoch.driver_s_p50": float(np.median(driver_s)) if driver_s else 0.0,
        "spark.jobs_per_epoch": len(apply_jobs) / n_epochs,
        "icelite.commit_deltas.s": total("icelite.commit_deltas"),
        "icelite.snapshot.calls_per_epoch": sum(
            1 for s in spans if s["name"] == "icelite.snapshot" and s["id"] in in_apply
        )
        / n_epochs,
        "icelite.snapshot.s": total("icelite.snapshot", only_apply=True),
        "metrics.write_epoch_metrics.s": total("metrics.write_epoch_metrics"),
        "icelite.compact.s": total("icelite.compact"),
        "icelite.compact.calls": float(sum(1 for s in spans if s["name"] == "icelite.compact")),
        "icelite.compact.bytes_rewritten": c["icelite.compact.bytes_rewritten"],
        "band_index.LshBandIndex.write_epoch.s": total("band_index.LshBandIndex.write_epoch"),
        "band_index.DedupLabels.delta_for_epoch.s": total("band_index.DedupLabels.delta_for_epoch"),
        "band_index.DedupLabels.write_epoch.s": total("band_index.DedupLabels.write_epoch"),
        "band_index.DedupLabels.compact.s": total("band_index.DedupLabels.compact"),
        "operators.graph.merge_components_delta.s": total("operators.graph.merge_components_delta"),
        "band_index.band_rows_written": c["band_index.band_rows_written"],
        "band_index.label_rows_written": c["band_index.label_rows_written"],
        "spark.cpu_busy_frac": job_sum(lambda sid: True, "run_s") / (wall * cores) if wall > 0 else 0.0,
        "spark.gc_s": job_sum(lambda sid: True, "gc_s"),
        "spark.task_failures": job_sum(lambda sid: True, "failures"),
        "trace.apply_self_cover": layer_self_in_timed / apply_wall_s if apply_wall_s > 0 else 0.0,
    }
    return out
