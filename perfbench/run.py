"""CDC ingest benchmark: drives ``crba_etl_spark`` through its public API.

Run from the repository root::

    python3 perfbench/run.py --workload replay_tail --seed 1 --seconds 24 --trace 0

Workloads, sizes and the pinned sandbox configuration are in
``perfbench/spec.json``. Every call into the engine is timed from
outside; after every pass the final table is checked against the
independent DuckDB oracle (``gen.oracle_final``). ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` runs the workload once untraced and
once traced (fresh JVM with the Spark event log on) and prints the
per-layer metrics plus the tracing overhead. The last line of stdout is
one JSON object; the exit code is 1 if any operation or check failed and
2 if the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORES = 4
T_LAUNCH = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_LAUNCH:6.1f}s] {msg}", file=sys.stderr, flush=True)


# --- inputs ------------------------------------------------------------------


def _stream_spec(phase: dict, seed: int, seconds: int):
    from crba_etl_spark.gen import StreamSpec

    s = dict(phase["stream"])
    if phase["loop"] == "open":
        n_epochs = max(1, int(seconds / phase["interval_s"]))
        s = {
            "n_events": s.pop("events_per_epoch") * n_epochs,
            "n_epochs": n_epochs,
            **s,
        }
    return StreamSpec(seed=seed, **s)


def _hottest_conv(events_dir: str) -> str:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    col = ds.dataset(events_dir, format="parquet").to_table(
        columns=["conv_id"]
    )["conv_id"]
    counts = pc.value_counts(col).to_pylist()
    return min(counts, key=lambda c: (-c["counts"], c["values"]))["values"]


def _input_bytes(events_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(events_dir)
        for f in files
        if f.endswith(".parquet")
    )


def prepare_inputs(cache: str, name: str, phases: list[dict], seed: int, seconds: int) -> dict:
    """Generate each phase's change stream once per (name, stream specs,
    seed, seconds); later runs reuse it."""
    import hashlib

    from crba_etl_spark.engine import list_epochs
    from crba_etl_spark.gen import generate_stream

    specs = [repr(_stream_spec(p, seed, seconds)) for p in phases]
    digest = hashlib.sha1("\n".join(specs).encode()).hexdigest()[:12]
    root = os.path.join(cache, f"{name}-{digest}")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        os.utime(root)
        with open(meta_path) as f:
            return json.load(f)
    tmp = f"{root}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = {}
    for phase in phases:
        d = os.path.join(tmp, phase["name"])
        generate_stream(d, _stream_spec(phase, seed, seconds))
        meta[phase["name"]] = {
            "dir": os.path.join(root, phase["name"]),
            "epochs": list_epochs(d),
            "hot_conv": _hottest_conv(d),
            "input_bytes": _input_bytes(d),
        }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    # bound the cache: keep the most recently used entries only
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache) if ".tmp-" not in e),
        key=os.path.getmtime,
    )
    for old in entries[:-8]:
        shutil.rmtree(old, ignore_errors=True)
    return meta


# --- Spark lifecycle -----------------------------------------------------------


class Sandbox:
    """Fresh driver JVMs with the pinned configuration; one at a time."""

    def __init__(self, spec: dict, run_dir: str, warm: dict):
        self.spec = spec
        self.run_dir = run_dir
        self.warm = warm
        self.spark = None
        self.launches = 0
        self.get_spark_s: list[float] = []

    def launch(self, event_log: str | None = None) -> float:
        """Start a JVM, build the session and an engine; returns the
        seconds that took (one set-up sample)."""
        from crba_etl_spark.engine import CDCEngine
        from crba_etl_spark.session import get_spark

        sb = self.spec["sandbox"]
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.driver.memory": sb["driver_memory"],
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"{sb['driver_java_options']} -Djava.io.tmpdir={tmp}",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                }
            )
        self.launches += 1
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=sb["master"],
            shuffle_partitions=sb["shuffle_partitions"],
            extra_conf=conf,
        )
        t1 = time.perf_counter()
        CDCEngine(self.spark, os.path.join(self.run_dir, f"setup-{self.launches}"))
        t2 = time.perf_counter()
        self.get_spark_s.append(t1 - t0)
        return t2 - t0

    def warm_up(self) -> float:
        """Run the session's first job, replay a tiny stream and read it
        once, so the engine's code paths are loaded and compiled before
        timing; returns seconds."""
        from crba_etl_spark.engine import CDCEngine

        t0 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        root = os.path.join(self.run_dir, f"warm-{self.launches}")
        eng = CDCEngine(self.spark, root, n_buckets=self.spec["warmup_stream"]["n_buckets"])
        eng.replay(self.warm["dir"])
        point_read(eng, self.warm["hot_conv"])
        scan_read(eng)
        shutil.rmtree(root, ignore_errors=True)
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session and wait until its JVM has exited."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def point_read(eng, conv_id: str):
    from pyspark.sql import functions as F

    return eng.read_final().filter(F.col("conv_id") == conv_id).collect()


def scan_read(eng):
    from pyspark.sql import functions as F

    return eng.read_final().agg(
        F.count(F.lit(1)), F.sum(F.xxhash64("text").bitwiseAND(0xFFFFFFFF))
    ).collect()


# --- one pass over a workload ----------------------------------------------------


class Ops:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    @contextlib.contextmanager
    def op(self, what: str):
        """Count one operation; a raised exception marks it failed."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            log(f"FAILED: {what}\n{traceback.format_exc()}")
            raise

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        log(f"FAILED: {what}: {detail}")


def check_final(eng, events_dir: str) -> str | None:
    """Mismatch description, or None when the table equals the oracle."""
    import pandas as pd

    from crba_etl_spark.gen import oracle_final

    exp = oracle_final(events_dir)
    got = eng.read_final().toPandas()[list(exp.columns)]
    keys = ["conv_id", "turn_idx", "ts"]
    try:
        pd.testing.assert_frame_equal(
            got.sort_values(keys).reset_index(drop=True),
            exp.sort_values(keys).reset_index(drop=True),
            check_dtype=False,
        )
    except AssertionError as e:
        return f"final state differs from oracle: {e}"
    return None


def check_labels(spark, eng) -> str | None:
    from pyspark.sql import functions as F

    labels = eng.dedup_labels.read(spark)
    docs = (
        eng.read_final()
        .filter(F.col("text").isNotNull())
        .select(F.concat_ws("#", *eng.table.key_cols()).alias("node"))
    )
    unlabeled = docs.join(labels, "node", "left_anti").count()
    above = labels.filter(F.col("label") > F.col("node")).count()
    if unlabeled or above:
        return f"{unlabeled} live documents without a label, {above} labels above their node"
    return None


def run_pass(sb: Sandbox, wl: dict, inputs: dict, tag: str, ops: Ops, tracer=None) -> dict:
    from crba_etl_spark.engine import CDCEngine

    from tracing import referenced_bytes

    spark = sb.spark
    span = tracer.span if tracer is not None else (lambda name: contextlib.nullcontext())
    r = {
        "rate_events": 0, "rate_wall": 0.0, "apply_wall": 0.0, "busy": 0.0,
        "fresh": [], "point": [], "scan": [], "lag": [0.0], "rate_epochs": [],
        "events_in": 0, "rows_out": 0, "files_per_read": [],
        "table_bytes": 0, "input_bytes": 0,
    }
    r["t_start"] = time.time()
    for phase in wl["phases"]:
        meta = inputs[phase["name"]]
        events_dir = meta["dir"]
        eng = CDCEngine(
            spark, os.path.join(sb.run_dir, tag, phase["name"]), mode="mor", **phase["engine"]
        )
        interval = phase.get("interval_s")
        os.sync()  # the previous phase's table and shuffle files
        log(f"phase {phase['name']} ({tag}) starts")
        t0 = time.perf_counter()
        for i, k in enumerate(meta["epochs"]):
            if interval is not None:
                due = t0 + i * interval
                now = time.perf_counter()
                if now < due:
                    time.sleep(due - now)
            else:
                due = time.perf_counter()
            start = time.perf_counter()
            if interval is not None:
                r["lag"].append(start - due)
            try:
                with ops.op(f"{phase['name']} apply epoch {k}"), span("bench.apply"):
                    st = eng.replay(events_dir, epochs=[k])
                    if st["epochs_applied"] != [k]:
                        raise RuntimeError(f"epoch {k} not applied: {st}")
            except Exception:
                break
            end = time.perf_counter()
            r["apply_wall"] += end - start
            r["busy"] += end - start
            for s in st["per_epoch"]:
                r["events_in"] += s["events_in"]
                r["rows_out"] += s["rows_out"]
            if phase["rate"]:
                r["rate_events"] += st["events_applied"]
                r["rate_wall"] += end - start
                r["rate_epochs"].append(round(end - start, 3))
            if not phase["reads"]:
                continue
            r["fresh"].append(end - due)
            for kind, fn, args in (
                ("point", point_read, (eng, meta["hot_conv"])),
                ("scan", scan_read, (eng,)),
            ) * phase.get("reads_per_commit", 1):
                if tracer is not None:
                    r["files_per_read"].append(len(eng.table.data_files()))
                t = time.perf_counter()
                try:
                    with ops.op(f"{phase['name']} {kind} read after epoch {k}"), span(
                        f"bench.read_{kind}"
                    ):
                        fn(*args)
                except Exception:
                    continue
                dt = time.perf_counter() - t
                r[kind].append(dt)
                r["busy"] += dt
        log(f"phase {phase['name']} ({tag}) applied; checking final state")
        with contextlib.suppress(Exception), ops.op(f"{phase['name']} final state"):
            err = check_final(eng, events_dir)
            if err is None and phase["engine"].get("dedup_labels"):
                err = check_labels(spark, eng)
            if err is not None:
                ops.fail(f"{phase['name']} final state", err)
        r["table_bytes"] += referenced_bytes(eng.table)
        r["input_bytes"] += meta["input_bytes"]
    r["t_end"] = time.time()
    return r


def pct(xs: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else float("nan")


def e2e_metrics(setup: list[float], r: dict) -> dict:
    import statistics

    return {
        "setup_s": statistics.median(setup),
        "apply_events_per_s": r["rate_events"] / r["rate_wall"] if r["rate_wall"] else float("nan"),
        "read_point_s_p50": pct(r["point"], 50),
        "read_scan_s_p50": pct(r["scan"], 50),
        "table_bytes_per_input_byte": r["table_bytes"] / r["input_bytes"],
    }


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


# --- main -------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        log(f"unknown workload {args.workload!r}; have {sorted(spec['workloads'])}")
        return 2
    wl = spec["workloads"][args.workload]

    sys.path.insert(0, REPO)
    try:
        import crba_etl_spark.engine  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {REPO}: {e}")
        return 2

    work = os.path.abspath(spec["sandbox"]["work_dir"])
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    import tempfile

    tempfile.tempdir = None

    cache = os.path.join(work, "inputs")
    os.makedirs(cache, exist_ok=True)
    wspec = spec["warmup_stream"]
    warm = prepare_inputs(
        cache,
        "warmup",
        [{"name": "warm", "loop": "closed", "stream": {k: v for k, v in wspec.items() if k not in ("seed", "n_buckets")}}],
        wspec["seed"],
        0,
    )["warm"]
    inputs = prepare_inputs(cache, args.workload, wl["phases"], args.seed, args.seconds)
    os.sync()

    ops = Ops()
    sb = Sandbox(spec, run_dir, warm)
    metrics: dict[str, float] = {}
    units: dict[str, str] = {}
    try:
        setup = []
        # a traced run reports no setup_s and launches a second JVM for the
        # traced pass anyway, so one set-up keeps it within its time limit
        for i in range(1 if args.trace else spec["sandbox"]["setup_reps"]):
            if i:
                sb.stop()
            setup.append(sb.launch())
        warm_s = sb.warm_up()
        log(f"setup samples: {[round(s, 3) for s in setup]}, warm-up {warm_s:.3f}s")
        plain = run_pass(sb, wl, inputs, "plain", ops)
        if not args.trace:
            metrics = e2e_metrics(setup, plain)
            units = _units("end_to_end")
            counts = {k: len(plain[k]) for k in ("fresh", "point", "scan")}
            log(f"samples per metric family: {counts}; rate phase {plain['rate_events']} events")
            log(f"rate-phase epoch walls: {plain['rate_epochs']}")
            for kind in ("fresh", "point", "scan"):
                log(f"{kind} samples: {[round(x, 3) for x in plain[kind]]}, p75 {pct(plain[kind], 75):.3f}")
        else:
            from tracing import Tracer, layer_metrics, read_event_log

            sb.stop()
            event_log = os.path.join(run_dir, "eventlog")
            sb.launch(event_log=event_log)
            sb.warm_up()
            tracer = Tracer(sb.spark.sparkContext)
            tracer.install()
            try:
                traced = run_pass(sb, wl, inputs, "traced", ops, tracer=tracer)
            finally:
                tracer.uninstall()
            rss_mb = peak_rss_mb(sb.jvm_pid())
            sb.stop()  # flushes the event log
            jobs, tasks = read_event_log(event_log)
            metrics = layer_metrics(
                tracer, jobs, tasks, (traced["t_start"], traced["t_end"]), traced["apply_wall"], CORES
            )
            import statistics

            metrics.update(
                {
                    "session.get_spark.s": statistics.median(sb.get_spark_s),
                    "operators.dedup.keys_out_per_event": traced["rows_out"] / max(traced["events_in"], 1),
                    "icelite.files_per_read": (
                        sum(traced["files_per_read"]) / len(traced["files_per_read"])
                        if traced["files_per_read"]
                        else 0.0
                    ),
                    "loop.start_lag_s_max": max(traced["lag"]),
                    # from the untraced pass: an end-to-end figure, but too
                    # noisy between runs on a shared host to carry a bound
                    "loop.freshness_s_p50": pct(plain["fresh"], 50),
                    "trace.overhead_frac": traced["busy"] / plain["busy"] - 1.0,
                    "driver_peak_rss_mb": rss_mb,
                }
            )
            units = _units("per_layer")
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            tracer.dump(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"))
    except Exception:
        log(f"benchmark aborted:\n{traceback.format_exc()}")
        ops.fail("benchmark", "aborted")
    finally:
        sb.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = ops.failed == 0 and ops.attempted > 0
    for name, value in metrics.items():
        print(f"{args.workload:>14}  {name:<44} {value:>16.6g} {units.get(name, '')}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(ops.attempted, 1),
                "failed": ops.failed if ops.attempted else 1,
                "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
