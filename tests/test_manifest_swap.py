"""Every icelite snapshot write goes through one copy-and-swap primitive:
a writer changes only the manifest fields it owns and every other field
is carried forward — including keys this version of the code does not
know. A writer that listed the fields to carry by hand would silently
drop a field it forgot; this test injects such a field and runs each
writer once over a non-POSIX manifest backend."""

import copy
import os

from conftest import FixedAux, make_events
from crba_etl_spark.icelite import IceliteTable
from crba_etl_spark.operators.dedup import reduce_batch
from crba_etl_spark.operators.merge import apply_delta_epoch, merge_epoch
from crba_etl_spark.schema import TRANSCRIPT
from test_objectstore_io import KVManifestIO

FOREIGN = {"x_unknown_field": {"written_by": "a newer engine", "n": [1, 2]}}
#: fields every write changes
ALWAYS = {"version", "parent", "stats"}


def test_every_writer_carries_unknown_fields(spark, tmpdir_):
    io = KVManifestIO()
    t = IceliteTable.create(os.path.join(tmpdir_, "t"), TRANSCRIPT, n_buckets=4, io=io)
    io.read_manifest(io.read_current()).update(copy.deepcopy(FOREIGN))

    written = []
    orig = io.commit_atomic

    def recording(name, snap, expected_current):
        orig(name, snap, expected_current)
        written.append(copy.deepcopy(snap))

    io.commit_atomic = recording

    def run(owned, fn):
        """Run one writer; check every manifest it wrote against its
        predecessor. Returns the manifests written."""
        before = copy.deepcopy(t.snapshot())
        n = len(written)
        fn()
        new = written[n:]
        assert new, "writer committed nothing"
        prev = before
        for snap in new:
            assert snap["x_unknown_field"] == FOREIGN["x_unknown_field"]
            changed = {
                k for k in prev.keys() | snap.keys() if prev.get(k) != snap.get(k)
            }
            assert changed <= owned | ALWAYS, changed - owned - ALWAYS
            assert snap["version"] == prev["version"] + 1
            assert snap["parent"] == prev["version"]
            prev = snap
        return new

    def apply(epoch, rows, cow=False, **kw):
        fn = merge_epoch if cow else apply_delta_epoch
        st = fn(spark, t, reduce_batch(make_events(spark, rows)), epoch, **kw)
        assert not st["skipped"]

    epoch_fields = {"committed_epochs", "slices", "epoch_files", "aux", "schema"}
    # commit_deltas: an open-epoch slice with an aux artifact
    run(
        {"deltas"} | epoch_fields,
        lambda: apply(
            0,
            [(1, 0, "I", "c1", 0, "user", "hello", None, 0, 0),
             (2, 0, "I", "c2", 0, "user", "hi", None, 0, 1)],
            slice_marker="e0:s0", mark_epoch=False, slice_files=["f0.parquet"],
            aux=FixedAux({"idx": {"files": ["index/idx/a/p.parquet"], "rows_add": 3}}),
        ),
    )
    assert t.snapshot()["epoch_files"] == {"0": ["f0.parquet"]}
    # mark_epoch_committed: promotes the marker, drops the slice bookkeeping
    run({"committed_epochs", "epoch_files"}, lambda: t.mark_epoch_committed(0))
    assert t.snapshot()["epoch_files"] == {} and t.committed_epochs() == {0}
    # commit (COW merge)
    run(
        {"files", "deltas"} | epoch_fields,
        lambda: apply(1, [(3, 1, "U", "c1", 0, "user", "hello v2", None, 0, 2)], cow=True),
    )
    # set_aux
    run(
        {"aux"},
        lambda: t.set_aux("idx", ["index/idx/b/p.parquet"], ["index/idx/a/p.parquet"]),
    )
    assert t.aux()["idx"]["files"] == ["index/idx/b/p.parquet"]
    # compact: one more delta first, so there is something to fold
    apply(2, [(4, 2, "D", "c2", 0, None, None, None, 0, 3)])
    run({"files", "deltas"}, lambda: t.compact(spark))
    # chunked rebucket: progress commits, then the final swap
    snaps = run(
        {"files", "deltas", "n_buckets", "rebucket_progress"},
        lambda: t.rebucket(spark, 8, chunk_old_buckets=2),
    )
    assert len(snaps) == 3
    assert all("rebucket_progress" in s for s in snaps[:-1])
    assert "rebucket_progress" not in snaps[-1] and snaps[-1]["n_buckets"] == 8

    got = {(r.conv_id, r.turn_idx): r.text for r in t.read(spark).collect()}
    assert got == {("c1", 0): "hello v2"}
    assert t.committed_epochs() == {0, 1, 2}
