"""Pointer-file dataset publication: crash-safe full-rewrite swaps.

The naive swap — ``rename(path, old); rename(staging, path)`` — has a
window where readers see NO dataset at all, and a crash between the
two renames strands the live data in the ``.old`` dir. The pointer
flip removes both failure modes: data lives in dot-prefixed version
directories under ``path`` and ``path/_CURRENT`` (a one-line text
file naming the live version) is replaced with ``os.replace`` — a
single atomic filesystem operation — so a reader that calls
``resolve(path)`` always lands on a complete dataset, before, during
and after a publish, and a crash at ANY point leaves the previous
version live.

This is the commit shape the table formats use (Delta/Iceberg flip a
manifest) reduced to a filesystem primitive; on an object store the
pointer file becomes the manifest object (S3 PUT is atomic per key).
Dot/underscore-prefixed children are invisible to Spark's file
listing, so a bare legacy directory that gains version dirs is still
readable as-is until its first pointer flip.

Version dirs carry a monotone sequence number
(``.v-<seq:08d>-<hex>``). A publish keeps the one version it
displaces, for readers that resolved just before the flip.

Single-writer per dataset (same assumption the rename swap made);
readers need no coordination.

Maintained artifacts (sketch tiles, index scalars, health tables)
also keep their replay position here: a `write_fn` stamps its version
dir with `write_epoch`, so the `_epoch` marker and the data it
describes go live together in one pointer flip, and `read_epoch` of
the live data root is the last-applied batch id. `epoch_gate` skips
a `foreachBatch` batch whose id is not above it — the idempotent-sink
half of Structured Streaming's exactly-once.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

CURRENT = "_CURRENT"

_V_RE = re.compile(r"^\.v-(\d{8})-[0-9a-f]+$")


def _seq_of(name: str) -> int | None:
    m = _V_RE.match(name)
    return int(m.group(1)) if m else None


def versions(path: str) -> list[int]:
    """Sequence numbers of the version dirs present on disk (oldest
    first): the live one and the one its publish displaced."""
    if not os.path.isdir(path):
        return []
    out = []
    for entry in os.listdir(path):
        s = _seq_of(entry)
        if s is not None and os.path.isdir(os.path.join(path, entry)):
            out.append(s)
    return sorted(out)


def resolve(path: str) -> str:
    """Data root for reading: the live version dir if `path` is
    pointer-published, else `path` itself (bare legacy layout)."""
    ptr = os.path.join(path, CURRENT)
    if os.path.isfile(ptr):
        with open(ptr) as f:
            name = f.read().strip()
        if name:
            return os.path.join(path, name)
    return path


def _epoch_file(data_root: str) -> str:
    return os.path.join(data_root, "_epoch")


def read_epoch(data_root: str) -> int:
    """Last-applied update epoch of a resolved data root; -1 when the
    marker is absent or empty (never epoched, or a seed)."""
    ep = _epoch_file(data_root)
    if os.path.isfile(ep):
        with open(ep) as f:
            return int(f.read().strip() or -1)
    return -1


def epoch_gate(data_root: str, epoch: int | None) -> int | None:
    """The batch-id gate of an epoched update against the live data
    root: the epoch its publish stamps — `epoch`, or the stored one
    carried forward when the update has none — or None when `epoch`
    is already applied (a replayed batch: skip the update)."""
    stored = read_epoch(data_root)
    if epoch is None:
        return stored
    return None if stored >= epoch else epoch


def write_epoch(version_dir: str, epoch: int | None) -> None:
    """Stamp the version dir a `publish` write_fn is filling with its
    `_epoch` marker (None writes none). The marker goes live with the
    data at the flip; a write_fn that raises leaves the previous data
    AND epoch live."""
    if epoch is not None:
        with open(_epoch_file(version_dir), "w") as f:
            f.write(str(epoch))


def publish(path: str, write_fn) -> str:
    """Publish a full rewrite of the dataset at `path`.

    `write_fn(version_dir)` must write a COMPLETE dataset into the
    (not yet existing) version dir; the pointer then flips atomically.
    The displaced version is retained for in-flight readers that
    resolved just before the flip; every older version, stale pointer
    tmp files and — once the layout has flipped twice — any bare
    legacy root files are garbage-collected. Returns the new data
    root."""
    os.makedirs(path, exist_ok=True)
    prev = None
    ptr = os.path.join(path, CURRENT)
    had_pointer = os.path.isfile(ptr)
    if had_pointer:
        with open(ptr) as f:
            prev = f.read().strip() or None

    existing = versions(path)
    next_seq = (existing[-1] + 1) if existing else 0
    vname = f".v-{next_seq:08d}-" + uuid.uuid4().hex[:8]
    write_fn(os.path.join(path, vname))

    tmp = os.path.join(path, "." + CURRENT + ".tmp-" + uuid.uuid4().hex[:8])
    with open(tmp, "w") as f:
        f.write(vname)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, ptr)  # the commit point

    # -- GC (best-effort; failures leave garbage, never break readers)
    # retained: the new version and the displaced pointer target.
    retain = {vname, prev, CURRENT}
    for entry in os.listdir(path):
        if entry in retain:
            continue
        full = os.path.join(path, entry)
        if entry.startswith(".v-") or entry.startswith("." + CURRENT):
            # superseded versions / stale pointer tmps
            (shutil.rmtree if os.path.isdir(full) else os.remove)(full)
        elif had_pointer:
            # bare legacy data (files or bucket=* dirs) is >= 2
            # publishes old once a pointer predates this publish —
            # no reader can still hold it. A directory that is itself
            # a pointer-published dataset (own _CURRENT, or a version
            # dir from a mid-publish crash) is an independent NESTED
            # artifact (e.g. <index>/health), not legacy residue of
            # THIS dataset — never GC it.
            if os.path.isdir(full) and _is_published_dataset(full):
                continue
            try:
                (shutil.rmtree if os.path.isdir(full) else os.remove)(full)
            except OSError:
                pass
    return os.path.join(path, vname)


def _is_published_dataset(path: str) -> bool:
    """True if `path` carries pointer-publication state of its own —
    a `_CURRENT` pointer file or any `.v-*` version dir (the latter
    covers a nested publish that crashed before its first flip)."""
    try:
        entries = os.listdir(path)
    except OSError:
        return False
    return any(e == CURRENT or _seq_of(e) is not None for e in entries)
