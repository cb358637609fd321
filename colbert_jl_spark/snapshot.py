"""Snapshot commits for every piece of mutable index and dedup state.

A manifest — an index's ``plan.json``, a dedup state's ``state.json`` —
names every data dir a reader reads, and a reader resolves paths only
through the manifest it loaded. Data dirs are immutable once a manifest
names them. Three functions are the whole write protocol (Iceberg's data
files, metadata swap and expire_snapshots, without the jar):

* ``assemble`` turns a staging dir a writer filled with new files into
  the next version ``<stage>.v{k}`` of a stage: every partition of the
  current version it does not replace is carried over by link_or_copy,
  and the new files come in with the staging dir's rename. No dir a manifest names changes.
* ``commit`` writes the new manifest as a tmp file and renames it over
  the old one: the one atomic step. The dirs the new manifest stops
  naming are retired at that moment (their mtime is stamped).
* ``gc`` removes a dir no manifest names once it has been retired for
  ``GRACE_SEC``, so a reader that loaded the previous manifest just before
  a commit can finish its scans. Dirs a crashed writer left behind were
  never named and age from when they were written.

A writer that dies before the manifest rename leaves the old snapshot
whole, and a retry builds the same new one under fresh version names.
A writer that refuses or aborts an update removes what it staged with
``discard`` before it re-raises. One writer at a time is assumed.

``write_parquet`` is the one parquet writer of the engine: every index,
ingest and dedup table is written through it, as zstd parquet.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame

# how long a retired dir outlives the commit that stopped naming it
GRACE_SEC = 300.0

_VERSION = re.compile(r"(?P<stage>.+?)(?:\.v(?P<k>\d+))?(?:\.tmp)?$")


def parse(entry: str) -> tuple[str, int]:
    """(stage, version) of a dir name; the bare stage dir is version 1."""
    m = _VERSION.match(entry)
    return m["stage"], int(m["k"] or 1)


def write_parquet(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Write ``df`` as zstd parquet at ``path``, replacing what is there.
    zstd rather than Spark's default snappy: the varint block payloads and
    the small tf, doclen and position integers are redundant bytes that an
    entropy coder packs and snappy mostly leaves as they are (about a
    fifth of the index bytes on the benchmark corpora). Set per write, not
    per session, so a caller's own writes keep their codec."""
    w = df.write.mode("overwrite").option("compression", "zstd")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def discard(root: str, entries: Iterable[str]) -> None:
    """Remove the dirs ``entries`` (paths relative to ``root``) that an
    aborted or refused writer staged, or a finished build no longer needs.
    No committed manifest names them, so no reader can be scanning them.
    Missing entries are skipped."""
    for e in entries:
        shutil.rmtree(os.path.join(root, e), ignore_errors=True)


def link_or_copy(src: str, dst: str) -> str:
    """Hardlink ``src`` as ``dst``: a new version shares the bytes of every
    file it carries over. Where the filesystem refuses links (object-store
    and FUSE mounts, FAT, paths across devices) the file is copied with its
    metadata instead: the same bytes, at the cost of the copy. An existing
    ``dst`` is an error either way."""
    try:
        os.link(src, dst)
    except FileExistsError:
        raise
    except OSError:
        shutil.copy2(src, dst)
    return dst


def staging(root: str, stage: str) -> str:
    """Path of a fresh staging dir for the next version k of ``stage``:
    ``<stage>.v{k}.tmp``, or ``<stage>.tmp`` for version 1, which
    assembles into the bare ``<stage>`` dir. k is above every version on
    disk (named, retired, or left by a crash), so a name a manifest ever
    named is never reused; only a number whose staging ``discard``
    removed can come back."""
    k = max(
        (parse(e)[1] for e in os.listdir(root) if parse(e)[0] == stage),
        default=0,
    )
    return os.path.join(root, f"{stage}.v{k + 1}.tmp" if k else f"{stage}.tmp")


def assemble(
    root: str, tmp: str, current: str | None = None, replace: Iterable = ()
) -> str:
    """Make the staging dir ``tmp`` (from ``staging``, filled by a writer)
    the immutable version dir it names and return that dir's name.

    Every file of ``current`` (a dir name under ``root``; None for a
    version written whole) is linked into it first, except the
    ``col=value`` partitions whose value is in ``replace`` and the files
    the writer already wrote under the same name (``_SUCCESS``). An empty
    ``replace`` appends the new files to the current version."""
    if current is not None:
        src = os.path.join(root, current)
        dropped = {str(v) for v in replace}
        for dirpath, dirs, files in os.walk(src):
            rel = os.path.relpath(dirpath, src)
            if rel == ".":
                dirs[:] = [d for d in dirs if d.partition("=")[2] not in dropped]
            os.makedirs(os.path.join(tmp, rel), exist_ok=True)
            for f in files:
                dst = os.path.join(tmp, rel, f)
                if not os.path.exists(dst):
                    link_or_copy(os.path.join(dirpath, f), dst)
    new = tmp[: -len(".tmp")]
    os.rename(tmp, new)
    return os.path.basename(new)


def load(root: str, name: str) -> dict | None:
    """The committed manifest ``name`` under ``root``, or None."""
    try:
        with open(os.path.join(root, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def write_json(path: str, obj: dict) -> None:
    """Replace the JSON file ``path`` atomically: tmp write, then rename
    (a reader never sees half a file, and the new inode is the change
    stamp IndexReader.refresh keys on)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def commit(
    root: str,
    name: str,
    manifest: dict,
    stages: tuple,
    named: Callable[[dict | None], set],
    previous: dict | None = None,
) -> None:
    """Make ``manifest`` the committed snapshot ``name`` under ``root``.

    ``named(manifest)`` is the set of dirs a manifest names, ``stages``
    the stage names whose dirs the GC may reclaim, and ``previous`` the
    snapshot being replaced (default: the one on disk). In order: the GC
    (keeping what either snapshot names), the retirement stamp on the
    dirs only ``previous`` names, then the manifest write whose rename is
    the commit. A failure at any step leaves ``previous`` committed."""
    if previous is None:
        previous = load(root, name)
    old, new = (named(previous) if previous else set()), named(manifest)
    gc(root, stages, old | new)
    for d in old - new:
        path = os.path.join(root, d)
        if os.path.isdir(path):
            os.utime(path, None)
    write_json(os.path.join(root, name), manifest)


def gc(root: str, stages: tuple, keep: set) -> None:
    """Remove every version dir of ``stages`` under ``root`` (bare,
    ``.v{k}`` or staging) that is not in ``keep`` and was retired, or
    last written, more than GRACE_SEC ago."""
    now = time.time()
    for entry in os.listdir(root):
        path = os.path.join(root, entry)
        if entry in keep or parse(entry)[0] not in stages or not os.path.isdir(path):
            continue
        if now - os.path.getmtime(path) > GRACE_SEC:
            shutil.rmtree(path)
