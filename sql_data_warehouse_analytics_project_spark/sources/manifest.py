"""Generation-manifest commit protocol for path datasets — the atomic
publish that replaces every "move directories while nobody reads"
maintenance window (reference anchor: the transactional UPSERT/MERGE the
reference gets for free from PostgreSQL, ``sql/dml.py:96-337``; on a
filesystem/object-store warehouse the equivalent is a manifest pointer,
the core idea of Delta/Iceberg table formats, rebuilt here dependency-
free).

Every path dataset has this one layout from its first write::

    root/_MANIFEST.json            <- the ONE mutable file (atomic replace)
    root/_generations/g000001/     <- immutable-once-published data dirs
    root/_generations/g000002/

Both names start with ``_``, which Hadoop/Spark path filters skip, so a
dataset is read only through :func:`resolve` (``writers.read_dataset``
and every engine loader do). A root that holds data but no manifest was
written by older code: :func:`resolve` and :func:`new_generation` raise
for it, and the fix is to delete it and rerun the write.

Protocol invariants:

- **Published data is never rewritten.** A rewrite (compaction, index
  update, overwrite) lands completely under a NEW generation directory,
  then :func:`publish` atomically replaces ``_MANIFEST.json``
  (``os.replace`` — readers of the pointer see the old or the new
  manifest, never a torn one).
- **One retention rule.** After the replace, :func:`publish` deletes
  every generation that neither the new manifest nor the previous one
  references: a reader that resolved the manifest before a publish
  keeps its generation for one more publish (the catalog's rule: the
  published generation plus a tail of one). A generation a crash left
  unpublished is dropped by the next publish.
- **No recovery step.** A crash before the replace leaves the old
  manifest fully live and at worst an unpublished generation directory;
  rerunning the operation writes a fresh generation at the same seq and
  converges (``tests/test_dataset_crash.py`` enumerates the steps).
- **Quiesce contract.** A slice write (``writers.write_partitioned_slice``,
  the streaming sinks' per-(checkpoint, batch) ``k=v`` directories) is
  the one write that adds files to the CURRENT generation. So a rewrite
  of a dataset that takes slices — compaction, retire-compaction, an
  overwrite — runs while no slice write is in flight, with the stream's
  checkpoint past the rewritten batches: a slice written into the old
  generation after the rewrite read it is lost, and a replay of a
  rewritten batch overwrites its slice again (harmless once the rewrite
  keeps the slice layout). A manifest has a single writer per dataset;
  two writers allocating the same ``seq`` are outside the protocol.

A manifest may reference SEVERAL generations at once (``referenced``):
the doc-bucketed BM25 index points each bucket partition at the
generation that last rewrote it, so an incremental update writes only
the affected buckets yet still publishes atomically
(``llm/retrieval.py``).
"""

from __future__ import annotations

import json
import os
import shutil

MANIFEST_NAME = "_MANIFEST.json"
GENERATIONS_DIR = "_generations"


def manifest_path(root: str) -> str:
    return os.path.join(root.rstrip("/"), MANIFEST_NAME)


def generation_dir(root: str, gid: str) -> str:
    return os.path.join(root.rstrip("/"), GENERATIONS_DIR, gid)


def read_manifest(root: str) -> "dict | None":
    """The current manifest, or None when the dataset was never
    published."""
    try:
        with open(manifest_path(root)) as fh:
            return json.load(fh)
    except (FileNotFoundError, NotADirectoryError):
        return None


def resolve(root: str) -> str:
    """The directory readers should scan: the current generation.
    Reading THROUGH this function is what makes publishes invisible to
    readers — resolve once per logical read, then the snapshot is pinned.

    A root that was never published resolves to itself when it is absent
    or holds only ``_``-prefixed entries (a crashed first write), so the
    read fails the way a read of a missing dataset does. A root holding
    data but no manifest raises."""
    m = read_manifest(root)
    if m is not None:
        return generation_dir(root, m["current"])
    root = root.rstrip("/")
    if os.path.isfile(root) or (
        os.path.isdir(root)
        and any(not n.startswith(("_", ".")) for n in os.listdir(root))
    ):
        raise RuntimeError(
            f"{root} holds data but no {MANIFEST_NAME}: it was written by "
            "older code; delete it and rerun the write"
        )
    return root


def new_generation(root: str) -> "tuple[str, str]":
    """Allocate the next generation id and (created) directory. The id
    is seq-monotonic per dataset; nothing becomes visible until
    :func:`publish`."""
    m = read_manifest(root)
    if m is None:
        resolve(root)  # refuse to write beside data older code left
    seq = (int(m["seq"]) if m else 0) + 1
    gid = f"g{seq:06d}"
    gdir = generation_dir(root, gid)
    # a crashed earlier attempt may have left a partial dir at this seq
    shutil.rmtree(gdir, ignore_errors=True)
    os.makedirs(gdir)
    return gid, gdir


def publish(
    root: str,
    gid: str,
    *,
    extra: "dict | None" = None,
    referenced: "list[str] | None" = None,
) -> dict:
    """Atomically point the dataset at generation ``gid``, then apply
    the retention rule (module docstring).

    ``extra`` carries dataset-specific metadata (the BM25 scalars and
    bucket map live here). ``referenced`` lists EVERY generation the new
    manifest still reads from (defaults to ``[gid]``). Returns the
    manifest written."""
    prev = read_manifest(root)
    m = {
        "current": gid,
        "seq": int(gid.lstrip("g")),
        "referenced": sorted(set(referenced or [gid])),
        "extra": extra or {},
    }
    tmp = manifest_path(root) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(m, fh)
    os.replace(tmp, manifest_path(root))
    keep = {*m["referenced"], *(prev["referenced"] if prev else [])}
    gen_root = os.path.join(root.rstrip("/"), GENERATIONS_DIR)
    for name in os.listdir(gen_root):
        if name not in keep:
            shutil.rmtree(os.path.join(gen_root, name), ignore_errors=True)
    return m
