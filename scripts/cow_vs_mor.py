"""COW-vs-MOR apply-cost study, written as a markdown report.

Replays the identical change stream through both apply modes and records
per-epoch apply seconds and rows rewritten. The point being measured:

- MOR (merge-on-read) apply is O(batch): each epoch appends per-bucket
  delta files; nothing existing is read or rewritten — apply time stays
  flat as the table grows.
- COW (copy-on-write) apply is O(batch + touched-table): the batch is
  folded into every stored row of every affected bucket (max-LSN per
  key over stored ∪ batch) and those buckets are rewritten, so apply
  time grows with accumulated table size whenever the key space keeps
  widening (the transcript workload: new conversations arrive every
  epoch). With Zipf keys most epochs touch most buckets, so
  rows_carried ~ table size.

Crossover guidance (printed into the report): COW pays off only when
epochs are large relative to the table (early bootstrap, full-refresh
loads) or reads vastly outnumber writes and compaction lag is
unacceptable; a sustained 10^10-event tail wants MOR + periodic
compaction. Run: python scripts/cow_vs_mor.py BENCH/COW_VS_MOR.md
(``CROSSOVER_EVENTS``/``CROSSOVER_EPOCHS`` size the stream; ``--work-dir``
puts the stream, the tables and Spark's scratch space in one directory
instead of tmpfs and the temp dir).

Before the timed replays, each mode replays the stream's first epoch
into a scratch table, untimed: the first mode timed in a fresh JVM
otherwise pays the JVM and codegen warm-up in its first epoch.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_EVENTS = int(os.environ.get("CROSSOVER_EVENTS", "4000000"))
N_EPOCHS = int(os.environ.get("CROSSOVER_EPOCHS", "8"))


def main() -> None:
    import argparse

    from crba_etl_spark.engine import CDCEngine
    from crba_etl_spark.gen import StreamSpec, generate_stream
    from crba_etl_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out", help="path of the markdown report, e.g. BENCH/COW_VS_MOR.md")
    ap.add_argument("--work-dir", help="directory for the stream, tables and Spark scratch")
    args = ap.parse_args()
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    base = args.work_dir or shm or tempfile.gettempdir()
    local_dir = args.work_dir or shm
    spark = get_spark(
        app_name="cow-vs-mor",
        master="local[8]",
        shuffle_partitions=16,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "16m",
            **(
                {"spark.local.dir": os.path.join(local_dir, "crba_crossover_local")}
                if local_dir
                else {}
            ),
        },
    )
    stream = os.path.join(
        args.work_dir or tempfile.gettempdir(),
        f"crba_crossover_stream_{N_EVENTS}_{N_EPOCHS}",
    )
    if not os.path.exists(os.path.join(stream, "_DONE")):
        generate_stream(
            stream,
            StreamSpec(seed=7, n_events=N_EVENTS, n_epochs=N_EPOCHS,
                       evolve_epoch=None, text_pad=256),
        )
        open(os.path.join(stream, "_DONE"), "w").write("ok")
        os.sync()

    for mode in ("mor", "cow"):  # untimed warm-up of both apply paths
        root = os.path.join(base, f"crba_crossover_warm_{mode}")
        shutil.rmtree(root, ignore_errors=True)
        CDCEngine(spark, root, n_buckets=16, mode=mode).replay(stream, epochs=[0])
        shutil.rmtree(root, ignore_errors=True)

    results: dict[str, list[dict]] = {}
    finals = {}
    for mode in ("mor", "cow"):
        root = os.path.join(base, f"crba_crossover_{mode}")
        shutil.rmtree(root, ignore_errors=True)
        eng = CDCEngine(spark, root, n_buckets=16, mode=mode)
        res = eng.replay(stream)
        results[mode] = res["per_epoch"]
        finals[mode] = eng.read_final().count()
        shutil.rmtree(root, ignore_errors=True)
    assert finals["mor"] == finals["cow"], finals  # identical final state

    lines = [
        "# COW vs MOR apply cost (identical stream, identical final state)",
        "",
        f"Stream: {N_EVENTS:,} events, {N_EPOCHS} epochs, Zipf keys, "
        f"~290-char texts; local[8]; table+shuffle on {'tmpfs' if base == shm else 'disk'}; "
        "both modes warmed up on epoch 0 first. "
        f"Final visible rows (both modes): {finals['mor']:,}.",
        "",
        "| epoch | MOR apply s | COW apply s | COW rows rewritten | COW/MOR |",
        "|---|---|---|---|---|",
    ]
    for k in range(len(results["mor"])):
        m, c = results["mor"][k], results["cow"][k]
        lines.append(
            f"| {k} | {m['apply_s']:.2f} | {c['apply_s']:.2f} "
            f"| {c['rows_out']:,} | {c['apply_s'] / m['apply_s']:.2f}x |"
        )
    mor_tot = sum(e["apply_s"] for e in results["mor"])
    cow_tot = sum(e["apply_s"] for e in results["cow"])
    lines += [
        "",
        f"Totals: MOR {mor_tot:.1f}s, COW {cow_tot:.1f}s "
        f"({cow_tot / mor_tot:.2f}x).",
        "",
        "Reading: MOR epochs stay ~flat (apply = write the reduced batch as",
        "bucketed deltas — O(batch) regardless of table size) while COW epoch",
        "cost tracks `rows rewritten`, which grows with the accumulated table",
        "because new conversations keep widening the touched-bucket set.",
        "At 10^10 events the table outweighs any epoch by orders of magnitude:",
        "COW degenerates to rewriting the table per epoch; MOR + periodic",
        "compaction (count- or size-tiered triggers, engine.py) is the",
        "sustained-throughput configuration and is therefore the default.",
        "COW remains right for bootstrap loads (epoch >> table) or",
        "read-dominated tables that cannot tolerate resolve-on-read.",
    ]
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
