"""The one filesystem commit protocol. Every durable write in the package
goes through these primitives, and this module is the only code that
renames, replaces, checks ``_SUCCESS`` or takes the mkdir lock:

- :func:`committed` — the ``_SUCCESS``-marked dirs a reader may see;
- :func:`publish_dir` — sweep, stage, require the marker, claim a name by
  rename (``v=<N>`` generations, ``delta-<seq>[-tag]`` log entries);
- :func:`swap_dir` / :func:`restore` — replace a directory through a
  rename-aside copy, and put that copy back after a crash between the
  two renames;
- :func:`write_atomic` / :func:`read_int` / :func:`advance_int` — small
  record files that are either fully present or absent;
- :func:`lock` — the non-blocking mkdir mutex compaction takes.

Recovery is deterministic redo: a crash between any two of these calls
leaves either the old committed state or the new one, plus debris the
next writer sweeps. The sequence is only checkable because every writer
runs the same one. ``os.rename``/``os.mkdir`` are called through ``os``
so a test can patch them for every caller at once.
"""

from __future__ import annotations

import errno
import os
import shutil
import time
import uuid

# a stage younger than this may belong to a live concurrent writer
STALE_STAGE_SECONDS = 3600.0
# the names publish_dir claims; an unmarked dir under one is debris
CLAIMED = ("v=", "delta-")


def _marked(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def committed(root: str, prefix: str) -> list[str]:
    """Sorted names of the ``_SUCCESS``-marked dirs under ``root`` whose
    name starts with ``prefix`` ([] when ``root`` does not exist)."""
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root)
        if d.startswith(prefix) and _marked(os.path.join(root, d))
    )


def require_success_marker(stage: str) -> None:
    """Every commit here treats ``_SUCCESS`` as the proof of commit:
    unmarked dirs are swept as crash debris and invisible to readers. On
    a cluster that disables Spark's markers
    (``mapreduce.fileoutputcommitter.marksuccessfuljobs`` false — a common
    production setting) every commit would be both unreadable and
    destroyed by the next writer's sweep; fail LOUDLY at the first stage
    write instead."""
    if not _marked(stage):
        shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            "stage write produced no _SUCCESS marker — this table's commit "
            "protocol requires Spark's success markers (set "
            "mapreduce.fileoutputcommitter.marksuccessfuljobs=true); "
            "without them committed data would be invisible to readers "
            "and swept as crash debris by the next writer"
        )


def sweep(root: str, prefixes: tuple[str, ...] = CLAIMED) -> None:
    """Remove crash debris under ``root``: dirs named by ``prefixes``
    without ``_SUCCESS`` at once, ``stage-*`` dirs only past
    :data:`STALE_STAGE_SECONDS` (a live concurrent writer's stage is never
    at risk).

    Unmarked claimed dirs are not left over from older code: they arise
    today. ``shutil.rmtree`` deletes entries in directory-hash order, so a
    crash while compaction or vacuum removes a committed dir can delete
    its ``_SUCCESS`` and leave part files behind. If that dir sits at the
    next claim slot (a log whose only delta was just compacted), every
    rename onto it fails with ``ENOTEMPTY`` while the re-list — which sees
    only committed dirs — computes the same slot again: without this sweep
    the claim loop would never end."""
    now = time.time()
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if d.startswith(prefixes) and not _marked(p):
            shutil.rmtree(p, ignore_errors=True)
        elif d.startswith("stage-"):
            try:
                if now - os.path.getmtime(p) > STALE_STAGE_SECONDS:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass  # racing its owner's commit-rename: leave it


def publish_dir(root: str, write, next_name) -> str | None:
    """Commit a new dir under ``root``: sweep, ``write(stage)`` into a
    private ``stage-<uuid>``, require Spark's marker, then claim
    ``next_name()`` by renaming the stage onto it. POSIX rename onto a
    non-empty directory fails, so the rename IS the claim: a loser
    (``EEXIST``/``ENOTEMPTY``) re-lists through ``next_name()`` and retries
    — each retry implies another writer committed, so the loop ends. Any
    other errno (permissions, a vanished root) removes the stage and
    re-raises rather than spin. ``next_name()`` returns None when the
    caller's tag has already landed; the call is then a no-op. Returns the
    committed path, or None for that no-op."""
    os.makedirs(root, exist_ok=True)
    sweep(root)
    name = next_name()
    if name is None:
        return None
    stage = os.path.join(root, f"stage-{uuid.uuid4().hex}")
    write(stage)
    require_success_marker(stage)
    while name is not None:
        path = os.path.join(root, name)
        try:
            os.rename(stage, path)
            return path
        except OSError as e:
            # errno-based, not exists()-based: the winner could be
            # compacted away before an exists() look
            if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                shutil.rmtree(stage, ignore_errors=True)
                raise
        name = next_name()
    shutil.rmtree(stage, ignore_errors=True)
    return None  # a replay of this very write beat us


def restore(old: str, dst: str) -> None:
    """Crash recovery for :func:`swap_dir`, run before anything clears
    leftovers: a death between its two renames leaves ``dst`` missing and
    ``old`` as the ONLY copy — put it back; with ``dst`` in place ``old``
    is the replaced copy and goes."""
    if os.path.exists(old):
        if os.path.exists(dst):
            shutil.rmtree(old)
        else:
            os.rename(old, dst)


def swap_dir(src: str, dst: str, old: str) -> None:
    """Replace ``dst`` with ``src`` without ever deleting the live copy
    first: ``dst`` → ``old``, ``src`` → ``dst``, drop ``old``. A missing
    ``dst`` is a plain rename."""
    if os.path.exists(dst):
        os.rename(dst, old)
    os.rename(src, dst)
    shutil.rmtree(old, ignore_errors=True)


def write_atomic(path: str, text: str) -> None:
    """Write a small record file so readers see it whole or not at all.
    The temp name is unique and starts with ``.``, so Spark readers and
    inventory listings skip a crashed write's leftover."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def read_int(path: str) -> int:
    """An integer record written by :func:`write_atomic`; 0 when absent."""
    if not os.path.exists(path):
        return 0
    with open(path) as fh:
        return int(fh.read().strip() or 0)


def advance_int(path: str, value: int) -> None:
    """Raise an integer record to ``value``, never lower it. The caller
    holds the record's :func:`lock` — read/compare/replace is not
    otherwise atomic."""
    if value > read_int(path):
        write_atomic(path, str(value))


class LockHeld(RuntimeError):
    """Another process holds the lock."""


class lock:
    """Non-blocking mutual exclusion: an atomic ``os.mkdir`` of
    ``<root>/.__compact_lock__`` — the same put-if-absent primitive the
    rename claim uses. Appends need no lock (the claim serializes them),
    but two concurrent compactions would both rewrite snapshot partitions
    and vacuum each other's inputs, and two floor writers could regress a
    record. A held lock raises :class:`LockHeld` so callers skip the
    cycle (or spin, for a microsecond record write) instead of stalling a
    micro-batch behind another process.

    Crash-staleness: a holder that died leaves the dir behind; a lock
    older than ``stale_seconds`` is broken and re-acquired. Size the
    horizon above the longest plausible hold. The break-then-mkdir pair
    is itself racy between two waiters, but the loser of the mkdir still
    fails and backs off, so mutual exclusion holds; only the *breaking*
    is best-effort."""

    def __init__(self, root: str, stale_seconds: float = 3600.0):
        self.path = os.path.join(root, ".__compact_lock__")
        self.stale = stale_seconds

    def __enter__(self):
        try:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            os.mkdir(self.path)
        except FileExistsError:
            try:
                held_for = time.time() - os.path.getmtime(self.path)
            except OSError:
                held_for = 0.0  # just released: not stale
            if held_for <= self.stale:
                raise LockHeld(
                    f"compaction lock at {self.path} held for "
                    f"{held_for:.0f}s (stale after {self.stale:.0f}s)"
                ) from None
            shutil.rmtree(self.path, ignore_errors=True)
            try:
                os.mkdir(self.path)  # two breakers race: loser backs off
            except FileExistsError:
                raise LockHeld(
                    f"compaction lock at {self.path} re-acquired by "
                    "another process while breaking a stale holder"
                ) from None
        return self

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)
        return False
