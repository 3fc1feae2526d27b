"""The table's metadata files: layout, atomic commit, and readers.

This module is the ONE owner of the file protocol behind
``SnapshotSink``'s exactly-once commits. Everything else — the sink,
its derived views, the Data Source, maintenance and audit tools —
reads and writes metadata through the functions here, so the cluster
deployment's replacement (a catalog compare-and-swap, as Iceberg does)
touches one module.

Layout under ``<root>/_snapshots/``:

- ``vNNNNNN.json``          one snapshot of the main chain per version,
- ``b-<ref>-vNNNNNN.json``  a branch's own snapshots above its fork,
- ``CURRENT``               plain text: file name of the main head,
- ``BRANCH-<ref>.json``     a branch pointer ``{"head": <file name>,
  "base": <fork version>}``,
- ``TAGS.json``             named refs, ``{name: version}``,
- ``LOCK``                  the cross-process commit mutex (flock).

A commit writes the snapshot file, then swaps the head pointer with
``os.replace`` — THE commit point; a crash before it leaves the old
head live. Every metadata file (snapshots, pointers, tags, manifests,
view pointers) is written the same way by ``write_json`` /
``write_text``: a uniquely named tmp file, then ``os.replace``, so
readers never see a torn file and concurrent writers never share a
tmp file.

Standard library only: ``spark_datasource.register`` pickles this
module by value into Python workers that have no SparkSession, no JVM
and possibly no importable package.

Also here: ``_split_top``, the tiny DDL tokenizer the data source uses
to project the stored schema DDL (``snapshot._ddl`` output) down to a
read surface — full type parsing is never needed (Spark parses the DDL
string we return from ``DataSource.schema()``, and executors read each
parquet file with its own embedded schema).
"""

from __future__ import annotations

import contextlib
import errno
import fcntl
import json
import os
import re
import uuid

KEY = "doc_id"
SEQ = "op_sequence"
CELL = "_cell_seq"
DELETED = "deleted"

MAIN = "main"


# ------------------------------------------------------------ file commit
def read_json(path: str):
    """The parsed file, or ``None`` when it does not exist."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def write_text(path: str, text: str) -> None:
    """Atomically replace ``path`` with ``text``: a uniquely named tmp
    file beside it, then ``os.replace`` (the commit point). On failure
    the old file is untouched and the tmp file removed."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def write_json(path: str, obj) -> None:
    write_text(path, json.dumps(obj))


@contextlib.contextmanager
def table_lock(root: str):
    """CROSS-PROCESS commit mutex (flock on ``_snapshots/LOCK``): a
    threading lock serializes threads of one sink object, but two
    objects/processes over the same root would otherwise interleave
    head-read → pointer-swap and the last swap would silently DROP the
    other commit's entries. flock blocks across file descriptors even
    within one process, so it also covers two objects in one process.
    flock is advisory and not NFS-reliable — an object-store deployment
    replaces this with the catalog's compare-and-swap."""
    fd = os.open(os.path.join(snapshots_dir(root), "LOCK"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


# --------------------------------------------------------------- layout
def snapshots_dir(root: str) -> str:
    return os.path.join(root, "_snapshots")


def snap_name(version: int, ref: str = MAIN) -> str:
    """File name of ``version`` on the ``ref`` chain."""
    if ref == MAIN:
        return f"v{version:06d}.json"
    return f"b-{ref}-v{version:06d}.json"


def snapshot_path(root: str, version: int, ref: str = MAIN) -> str:
    return os.path.join(snapshots_dir(root), snap_name(version, ref))


def _branch_ptr_path(root: str, name: str) -> str:
    return os.path.join(snapshots_dir(root), f"BRANCH-{name}.json")


def _name_version(name: str) -> int | None:
    m = re.search(r"v(\d+)\.json$", name)
    return int(m.group(1)) if m else None


# ------------------------------------------------------------ snapshots
def current_snapshot(root: str, ref: str = MAIN) -> dict | None:
    """Head snapshot of the ``ref`` chain; ``None`` when there is none
    (no commit yet, or no such branch)."""
    if ref == MAIN:
        try:
            with open(os.path.join(snapshots_dir(root), "CURRENT")) as fh:
                name = fh.read().strip()
        except FileNotFoundError:
            return None
    else:
        ptr = read_branch_ptr(root, ref)
        if ptr is None:
            return None
        name = ptr["head"]
    return read_json(os.path.join(snapshots_dir(root), name))


def read_snapshot(root: str, version: int, ref: str = MAIN) -> dict | None:
    """Exactly the ``ref`` chain's file for ``version`` (no fallback to
    main's shared history), or ``None``."""
    return read_json(snapshot_path(root, version, ref))


def load_snapshot(root: str, version: int, ref: str = MAIN) -> dict:
    """One committed snapshot. A branch reads its own chain first;
    versions at or below its fork point fall through to the main
    chain's files (shared history). A missing version below the
    ``expire_snapshots`` floor names the floor."""
    snap = None if ref == MAIN else read_snapshot(root, version, ref)
    if snap is None:
        snap = read_snapshot(root, version)
    if snap is not None:
        return snap
    head = current_snapshot(root, ref)
    floor = 1 if head is None else head.get("snapshot_floor", 1)
    if version < floor:
        raise ValueError(
            f"snapshot v{version} was expired (snapshot_floor="
            f"{floor}); time travel / changelog windows below the "
            "floor are gone — tag versions you need to keep before "
            "expire_snapshots()"
        )
    path = snapshot_path(root, version)
    raise FileNotFoundError(errno.ENOENT, os.strerror(errno.ENOENT), path)


def put_snapshot(root: str, snap: dict, ref: str = MAIN) -> str:
    """Write ``snap`` as a file of the ``ref`` chain WITHOUT moving the
    head; returns its file name for ``set_head``."""
    name = snap_name(snap["version"], ref)
    write_json(os.path.join(snapshots_dir(root), name), snap)
    return name


def set_head(root: str, name: str, ref: str = MAIN) -> None:
    """Swap the ``ref`` head pointer to snapshot file ``name`` — THE
    commit point."""
    if ref == MAIN:
        write_text(os.path.join(snapshots_dir(root), "CURRENT"), name)
        return
    ptr = read_branch_ptr(root, ref)
    if ptr is None:
        raise RuntimeError(f"branch {ref!r} was deleted")
    write_branch_ptr(root, ref, {**ptr, "head": name})


def commit_time(root: str, version: int, ref: str = MAIN) -> float:
    """A committed version's wall-clock time: the recorded
    ``metrics.commit_ts``, falling back to the snapshot file's mtime
    for writer paths that predate the field."""
    ct = load_snapshot(root, version, ref).get("metrics", {}).get("commit_ts")
    if ct is not None:
        return float(ct)
    for r in (ref, MAIN):
        p = snapshot_path(root, version, r)
        if os.path.exists(p):
            return os.path.getmtime(p)
    raise FileNotFoundError(f"no snapshot file for v{version}")


def main_versions(root: str) -> list[int]:
    """Versions of every main-chain snapshot file on disk. Parses the
    WHOLE version field: ``v{v:06d}`` stops zero-padding at 10^6, so a
    fixed-width slice would mis-parse ``v1000000.json``."""
    out = []
    for f in os.listdir(snapshots_dir(root)):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue  # foreign file
    return out


def drop_main_snapshot(root: str, version: int) -> None:
    os.remove(snapshot_path(root, version))


# ------------------------------------------------------------- branches
def read_branch_ptr(root: str, name: str) -> dict | None:
    return read_json(_branch_ptr_path(root, name))


def write_branch_ptr(root: str, name: str, ptr: dict) -> None:
    write_json(_branch_ptr_path(root, name), ptr)


def drop_branch_ptr(root: str, name: str) -> None:
    os.remove(_branch_ptr_path(root, name))


def branches(root: str) -> dict[str, dict]:
    """Live branches: name → ``{"base": fork version, "head": head
    version}``."""
    out = {}
    for f in os.listdir(snapshots_dir(root)):
        m = re.fullmatch(r"BRANCH-(.+)\.json", f)
        if not m:
            continue
        ptr = read_branch_ptr(root, m.group(1))
        if ptr is None:
            continue  # deleted between listdir and read
        head = _name_version(ptr["head"])
        out[m.group(1)] = {
            "base": ptr["base"],
            "head": ptr["base"] if head is None else head,
        }
    return out


def drop_branch_chain(root: str, name: str) -> int:
    """Remove a branch's own snapshot files (not its pointer)."""
    sdir = snapshots_dir(root)
    dropped = 0
    for f in os.listdir(sdir):
        if re.fullmatch(rf"b-{re.escape(name)}-v\d+\.json", f):
            os.remove(os.path.join(sdir, f))
            dropped += 1
    return dropped


# ----------------------------------------------------------------- tags
def _tags_path(root: str) -> str:
    return os.path.join(snapshots_dir(root), "TAGS.json")


def load_tags(root: str) -> dict[str, int]:
    return read_json(_tags_path(root)) or {}


def write_tags(root: str, tags: dict[str, int]) -> None:
    write_json(_tags_path(root), tags)


def is_version_ref(ref) -> bool:
    """A ref that names a version rather than a tag: an int, or a
    numeric string (Data Source options always arrive as strings).
    Tag names matching this are refused, so no tag is ever shadowed."""
    return not isinstance(ref, str) or ref.lstrip("-").isdigit()


def resolve_ref(root: str, ref) -> int:
    """Version refs pass through; other strings resolve via the tag
    table."""
    if is_version_ref(ref):
        return int(ref)
    tags = load_tags(root)
    if ref not in tags:
        raise KeyError(f"no tag {ref!r} (known: {sorted(tags)})")
    return tags[ref]


def pin_tag(root: str, name: str, version: int, monotonic: bool = False) -> None:
    """Point a cursor-style tag at ``version`` under the table lock the
    sink's tag writers hold, so a streaming reader's retention pin can
    never interleave with a concurrent ``tag``/``drop_tag``/``move_tag``
    and silently drop either write. ``monotonic=True`` makes it a no-op
    when the tag already pins an equal-or-newer version — checked
    INSIDE the lock, so two racing pinners can never move the cursor
    backward."""
    with table_lock(root):
        tags = load_tags(root)
        if monotonic and tags.get(name, 0) >= int(version):
            return
        load_snapshot(root, version)  # must exist (raises otherwise)
        tags[name] = int(version)
        write_tags(root, tags)


# ---------------------------------------------------------- window check
# commit markers no forward change event can express: a rollback
# removes rows without tombstones; backfilled and alter-rewritten rows
# keep their op_sequence (silent in the changelog); a purge removes
# rows without a tombstone. Per-case arguments: sinks/replicate.py.
UNSTREAMABLE_OPS = ("rollback_to", "backfill", "purge", "drop_column", "rename_column")


def first_unstreamable(load, frm: int, to: int) -> tuple[int, str] | None:
    """The first ``(version, op)`` in the window ``(frm, to]`` whose
    commit no forward change event can express, or ``None``. ``load``
    maps a version to its snapshot (``SnapshotSink.snapshot`` or
    ``functools.partial(load_snapshot, root)``)."""
    for v in range(frm + 1, to + 1):
        m = load(v).get("metrics", {})
        for op in UNSTREAMABLE_OPS:
            if op in m:
                return v, op
    return None


def refuse_unstreamable_window(root: str, frm: int, to: int) -> None:
    """The Data Source stream's refusal: its consumer cannot follow the
    window, so it fails loudly with recovery guidance rather than
    silently diverging."""
    hit = first_unstreamable(lambda v: load_snapshot(root, v), frm, to)
    if hit is None:
        return
    v, op = hit
    if op in ("drop_column", "rename_column"):
        raise RuntimeError(
            f"upstream {op} at v{v} inside stream window "
            f"({frm}, {to}]: the stream's schema is fixed at "
            "start and rewritten rows keep their op_sequence. "
            "Apply the same alter on the consumer, then restart "
            f"the stream from a fresh checkpoint with "
            f"startingVersion={v}."
        )
    raise RuntimeError(
        f"upstream {op} at v{v} inside stream window "
        f"({frm}, {to}]: no forward change event can express "
        "it (see sinks/replicate.py for the per-case "
        "argument). Reconcile the consumer out of band, then "
        "restart the stream from a fresh checkpoint with "
        f"startingVersion={to}."
    )


# ----------------------------------------------------------- DDL utilities
def _split_top(s: str) -> list[str]:
    """Split on commas not nested inside <> or ()."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]
