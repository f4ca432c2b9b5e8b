"""Pointer-flip publication (operators/atomic_dir.py): readers always
resolve to a complete dataset; a crash at any point of a publish
leaves the previous version live (the two-rename swap it replaces had
a no-dataset window and stranded live data in `.old` on crash)."""

import os

import pytest

from reader_spark.operators import atomic_dir as A


def _write_marker(content):
    def fn(vdir):
        os.makedirs(vdir)
        with open(os.path.join(vdir, "part-0.parquet"), "w") as f:
            f.write(content)

    return fn


def _read(path):
    root = A.resolve(path)
    with open(os.path.join(root, "part-0.parquet")) as f:
        return f.read()


def test_publish_flips_and_gcs(tmp_path):
    path = str(tmp_path / "ds")
    A.publish(path, _write_marker("v1"))
    assert _read(path) == "v1"
    v1_root = A.resolve(path)

    A.publish(path, _write_marker("v2"))
    assert _read(path) == "v2"
    # displaced version survives one publish (in-flight readers)
    assert os.path.isdir(v1_root)

    A.publish(path, _write_marker("v3"))
    assert _read(path) == "v3"
    # two publishes later v1 is gone, v2 (previous) retained
    assert not os.path.isdir(v1_root)
    versions = [d for d in os.listdir(path) if d.startswith(".v-")]
    assert len(versions) == 2


def test_crash_during_write_leaves_previous_live(tmp_path):
    path = str(tmp_path / "ds")
    A.publish(path, _write_marker("v1"))

    def crashing(vdir):
        os.makedirs(vdir)
        with open(os.path.join(vdir, "part-0.parquet"), "w") as f:
            f.write("partial")
        raise RuntimeError("died mid-write")

    with pytest.raises(RuntimeError):
        A.publish(path, crashing)
    # the pointer never flipped: readers still see v1, and the next
    # publish GCs the partial version dir
    assert _read(path) == "v1"
    A.publish(path, _write_marker("v2"))
    assert _read(path) == "v2"


def test_bare_layout_migration(tmp_path):
    # legacy dataset: parquet files directly under path
    path = str(tmp_path / "ds")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.parquet"), "w") as f:
        f.write("bare")
    assert A.resolve(path) == path  # bare layout resolves to itself
    assert _read(path) == "bare"

    A.publish(path, _write_marker("v1"))
    assert _read(path) == "v1"
    # the bare files were the displaced version: kept for one flip
    assert os.path.isfile(os.path.join(path, "part-0.parquet"))
    A.publish(path, _write_marker("v2"))
    # ...and GC'd on the next
    assert not os.path.isfile(os.path.join(path, "part-0.parquet"))
    assert _read(path) == "v2"


@pytest.mark.slow  # r13 tier: see pytest.ini
def test_transfer_writer_pointer_flip_roundtrip(spark, tmp_path):
    """The full-rewrite verbs publish via the pointer flip; reads,
    appends and bucketed merges follow the live data root — including
    after compact() converts a bucketed table's layout."""
    from reader_spark.operators.transfer import TransferWriter

    tw = TransferWriter(spark, str(tmp_path))
    b1 = spark.createDataFrame(
        [(1, "a", "c", 1), (2, "b", "c", 2)], "id int, val string, op string, seq int"
    )
    tw.upsert("t", b1, ["id"], "seq")
    assert {(r["id"], r["val"]) for r in tw.read("t").collect()} == {
        (1, "a"), (2, "b"),
    }
    # pointer layout: _CURRENT exists, bare dir holds version dirs
    assert os.path.isfile(os.path.join(str(tmp_path), "t", "_CURRENT"))

    b2 = spark.createDataFrame(
        [(2, "B", "u", 3)], "id int, val string, op string, seq int"
    )
    tw.upsert("t", b2, ["id"], "seq")
    assert {(r["id"], r["val"]) for r in tw.read("t").collect()} == {
        (1, "a"), (2, "B"),
    }

    # bucketed table -> compact converts layout -> further bucketed
    # upserts land in the live root
    c1 = spark.createDataFrame(
        [(i, f"v{i}", "c", i) for i in range(8)],
        "id int, val string, op string, seq int",
    )
    tw.upsert_bucketed("tb", c1, ["id"], "seq", n_buckets=4)
    tw.compact("tb")
    c2 = spark.createDataFrame(
        [(3, "V3", "u", 100)], "id int, val string, op string, seq int"
    )
    tw.upsert_bucketed("tb", c2, ["id"], "seq", n_buckets=4)
    got = {r["id"]: r["val"] for r in tw.read("tb").collect()}
    assert got[3] == "V3" and len(got) == 8


def test_publish_gc_spares_nested_published_dataset(tmp_path):
    """Legacy GC must not destroy an independent pointer-published
    artifact nested under the dataset root (the documented
    `<index>/health` layout): once the parent has a pointer, a
    refit publish used to rmtree ANY non-retained entry — including
    the nested health table, silently destroying it if the recreate
    window was interrupted."""
    idx = str(tmp_path / "idx")
    A.publish(idx, _write_marker("v0"))
    health = os.path.join(idx, "health")
    A.publish(health, _write_marker("h0"))
    # parent publish with a pointer already present -> legacy GC arm
    A.publish(idx, _write_marker("v1"))
    assert _read(idx) == "v1"
    assert _read(health) == "h0"  # nested artifact intact
    # a nested publish that crashed before its FIRST flip (version
    # dir, no pointer yet) is also spared
    crashed = os.path.join(idx, "baseline")
    os.makedirs(os.path.join(crashed, ".v-00000000-deadbeef"))
    with open(os.path.join(crashed, "legacy.parquet"), "w") as f:
        f.write("pre-flip data")
    A.publish(idx, _write_marker("v2"))
    assert os.path.isfile(os.path.join(crashed, "legacy.parquet"))
    # plain legacy residue (no publication state) is still GC'd
    stray = os.path.join(idx, "stray_dir")
    os.makedirs(stray)
    with open(os.path.join(idx, "stray.parquet"), "w") as f:
        f.write("x")
    A.publish(idx, _write_marker("v3"))
    assert not os.path.exists(stray)
    assert not os.path.exists(os.path.join(idx, "stray.parquet"))
    assert _read(health) == "h0"


def test_epoch_marker_publishes_with_the_version(tmp_path):
    """The replay position every maintained artifact gates on: the
    marker lands inside the version dir, so it flips live together
    with the data it describes; absent or empty reads as -1."""
    path = str(tmp_path / "ds")
    assert A.read_epoch(A.resolve(path)) == -1  # nothing published
    root = A.publish(path, _write_marker("v1"))
    assert A.read_epoch(root) == -1  # published without a marker
    with open(os.path.join(root, "_epoch"), "w"):
        pass
    assert A.read_epoch(root) == -1  # empty marker

    def stamped(content, epoch, fail=False):
        def fn(vdir):
            _write_marker(content)(vdir)
            A.write_epoch(vdir, epoch)
            if fail:
                raise RuntimeError("died after writing")

        return fn

    root = A.publish(path, stamped("v2", 3))
    assert os.listdir(path).count("_epoch") == 0
    assert os.path.isfile(os.path.join(root, "_epoch"))
    assert A.read_epoch(A.resolve(path)) == 3
    # the replay gate: an applied epoch skips, a new one stamps, and an
    # un-epoched update carries the stored epoch forward
    assert A.epoch_gate(root, 3) is None
    assert A.epoch_gate(root, 4) == 4
    assert A.epoch_gate(root, None) == 3

    with pytest.raises(RuntimeError):
        A.publish(path, stamped("partial", 4, fail=True))
    assert _read(path) == "v2"
    assert A.read_epoch(A.resolve(path)) == 3
