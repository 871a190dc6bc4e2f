"""One commit path for maintained artifacts (stdlib only).

Every JSON file the package writes — manifests, sketches, refresh
markers, streaming replay records — goes through :func:`write_json`:
write ``path.__tmp__``, then ``os.replace``, so a crash leaves either the
previous file or the new one, never a truncated one.

Streaming folds guard replays with one integer: Structured Streaming
file-source batch ids are strictly monotone per checkpoint, so
``{"max_applied": N}`` skips a replayed batch exactly as well as a list
of every applied id, with O(1) state on an unbounded stream.
:func:`applied_max` is the one reader of that record and of its older
list forms; :func:`fold_json` folds a batch into an artifact whose
record rides inside the same atomic write.

Ad-hoc folds of batch files (the CLI verbs) have no monotone id: any two
files arrive in any order. They are keyed by :func:`path_digest` and
guarded by membership in an ``applied_paths`` list instead.

Every directory the package rewrites in place — compactions, partition
merges, rollups, SCD2 buckets, index refreshes — is installed by
:func:`swap_dirs`, and this is the only module that renames anything
(SCALING.md rule 37). Staging, displaced directories and the commit
marker live under one hidden directory per root, ``root/_swap`` (or
``_swap.<name>`` for a standalone directory), which Spark's partition
discovery skips like any ``_`` name.
"""

from __future__ import annotations

import errno
import fcntl
import hashlib
import json
import os
import shutil
from collections.abc import Sequence
from typing import Any, Callable
from urllib.parse import quote

META = "__meta__"
SWAP = "_swap"
SWAP_MARKER = "commit.json"


def write_json(path: str, obj: Any) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON (parent dir is
    created when missing)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.__tmp__"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)


def read_json(path: str) -> Any:
    """Parsed contents of ``path``; None when the file is absent."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def applied_max(record: Any) -> int:
    """Highest applied batch id in a replay record (-1 when none).

    Reads the bounded ``{"max_applied": N}`` form, a bare id list (older
    ``_*_commits.json`` and SCD2 ``_applied.json`` files) and
    ``{"applied_batch_ids": [...]}`` (older in-artifact records)."""
    if not record:
        return -1
    if isinstance(record, list):
        return max(record)
    if "max_applied" in record:
        return int(record["max_applied"])
    return max(record.get("applied_batch_ids", []), default=-1)


def path_digest(path: str) -> str:
    """Fold id of a batch file: the md5 hex digest of its resolved path,
    so re-folding the same file is recognised as a replay."""
    return hashlib.md5(os.path.abspath(path).encode()).hexdigest()


def _replayed(meta: dict, batch_id: int | str) -> bool:
    if not isinstance(batch_id, str):
        return batch_id <= applied_max(meta)
    # older CLI folds recorded a digest as its 60-bit prefix under the
    # bounded record: the last file such a fold applied is that max
    return batch_id in meta.get("applied_paths", ()) or meta.get(
        "max_applied"
    ) == int(batch_id[:15], 16)


def fold_json(
    path: str,
    batch_id: int | str | None,
    fold: Callable[[dict | None], dict],
    check: Callable[[dict], None] | None = None,
) -> dict | None:
    """Fold one batch into the JSON artifact at ``path``.

    ``fold(prior)`` gets the stored artifact without its ``__meta__``
    record (None when absent) and returns the new artifact. A replay is
    not folded — the stored artifact is returned — and is either an int
    ``batch_id`` (a stream batch) at or below the recorded max, or a
    :func:`path_digest` str already in the recorded ``applied_paths``.
    Otherwise the result is stamped with the id (``max_applied`` for an
    int, appended to ``applied_paths`` for a digest) and written in one
    :func:`write_json`, so fold and record commit together. With
    ``batch_id=None`` (a one-off fold) an existing record is kept.
    ``check(prior)`` validates a stored artifact before the replay
    decision. Returns the committed artifact without ``__meta__``."""
    prior = read_json(path)
    meta = prior.pop(META, {}) if prior is not None else {}
    if prior is not None and check is not None:
        check(prior)
    if batch_id is not None and _replayed(meta, batch_id):
        return prior
    out = fold(prior)
    record = meta
    if isinstance(batch_id, str):
        record = {**meta, "applied_paths": [*meta.get("applied_paths", []), batch_id]}
    elif batch_id is not None:
        # the bounded stream record replaces older id forms
        record = {"max_applied": batch_id}
        if "applied_paths" in meta:
            record["applied_paths"] = meta["applied_paths"]
    write_json(path, {**out, META: record} if record else out)
    return out


def staged(root: str, *names: str, swap: str = SWAP) -> str:
    """Where a writer stages directory ``names`` of ``root`` for
    :func:`swap_dirs` (``root/<swap>/new/<name>``)."""
    return os.path.join(root, swap, "new", *names)


def _lock(root: str, wait: bool) -> int | None:
    """An exclusive ``flock`` on the directory ``root`` itself, so it
    outlives every swap directory; None when ``wait`` is False and a
    live swap holds it. Closing the returned fd releases it, as does the
    holder's death."""
    fd = os.open(root, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX if wait else fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(fd)
        return None
    return fd


def _roll_forward(root: str, marker: dict, done: list, swap: str) -> None:
    """Install every staged name and displace every dropped one into
    ``<swap>/old``, skipping the steps a crashed run already made."""
    for name in (*marker["install"], *marker["drop"]):
        cur, new = os.path.join(root, name), staged(root, name, swap=swap)
        if name in marker["install"] and not os.path.isdir(new):
            continue  # installed before a crash
        steps = [(cur, os.path.join(root, swap, "old", name))] if os.path.isdir(cur) else []
        if name in marker["install"]:
            steps.append((new, cur))
        for src, dst in steps:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            done.append((src, dst))


def _finish(swap: str) -> None:
    """Retire a committed swap: the marker first, then the staging and
    the displaced directories it no longer needs."""
    try:
        os.remove(os.path.join(swap, SWAP_MARKER))
    except FileNotFoundError:
        pass
    shutil.rmtree(swap, ignore_errors=True)


def recover_swaps(root: str, forward_only: bool = False, swap: str = SWAP) -> None:
    """Finish or discard a swap under ``root`` that a crash left open.

    With the marker present the swap committed: roll it forward (the
    steps are idempotent) under the root's lock. With no marker a writer
    discards the staging; a reader (``forward_only=True``) leaves it
    alone, since it may belong to a writer still staging, and skips a
    swap whose writer is alive (holds the lock). Idle, this is one
    existence check."""
    path = os.path.join(root, swap)
    marker = os.path.join(path, SWAP_MARKER)
    if not os.path.exists(marker):
        if not forward_only:
            shutil.rmtree(path, ignore_errors=True)
        return
    fd = _lock(root, wait=not forward_only)
    if fd is None:
        return  # the live writer finishes its own swap
    try:
        plan = read_json(marker)  # None: finished while we waited
        if plan is not None:
            _roll_forward(root, plan, [], swap)
            _finish(path)
    except OSError:
        if not forward_only:
            raise
    finally:
        os.close(fd)


def swap_dirs(
    root: str, install: Sequence[str], drop: Sequence[str] = (), swap: str = SWAP
) -> None:
    """Replace directories of ``root`` in one commit: each name (a path
    relative to ``root``) in ``install`` by its :func:`staged`
    directory, and remove each name in ``drop``. Stage every directory
    completely first (after a writer's :func:`recover_swaps`); the
    commit point is the marker's one :func:`write_json`. The root's lock
    is held from the marker to the end, so no reader's recovery acts on
    a live swap, and an ``OSError`` on the way can safely reverse the
    renames already made and clear the staging before it propagates."""
    missing = [n for n in install if not os.path.isdir(staged(root, n, swap=swap))]
    if missing:
        raise FileNotFoundError(f"nothing staged for {missing} under {root}")
    path = os.path.join(root, swap)
    marker = {"install": list(install), "drop": list(drop)}
    fd = _lock(root, wait=True)
    try:
        write_json(os.path.join(path, SWAP_MARKER), marker)
        done: list = []
        try:
            _roll_forward(root, marker, done, swap)
        except OSError:
            for src, dst in reversed(done):
                os.rename(dst, src)
            _finish(path)
            raise
        _finish(path)
    finally:
        os.close(fd)


def replace_dir(path: str, write: Callable[[str], Any], root: str | None = None) -> Any:
    """Rewrite the directory ``path`` as a whole: ``write(staging)``
    fills a staging directory, which one :func:`swap_dirs` installs.
    Without ``root`` the swap is the target's own hidden sibling
    ``_swap.<name>`` (``=`` quoted, so Spark skips it), and rewrites of
    sibling directories stay independent. A directory inside a
    maintained artifact passes the artifact's ``root`` instead, so the
    artifact's one recovery covers it. Returns what ``write`` returns."""
    path = os.path.abspath(path)
    if root is None:
        root, name = os.path.split(path)
        swap = f"{SWAP}.{quote(name, safe='')}"
    else:
        root, name, swap = os.path.abspath(root), os.path.relpath(path, root), SWAP
    recover_swaps(root, swap=swap)
    out = write(staged(root, name, swap=swap))
    swap_dirs(root, [name], swap=swap)
    return out


def idempotent_append_dir(stage_dir: str, target_dir: str, batch_id: int) -> None:
    """Promote a STAGED parquet write into ``target_dir`` with
    batch-stamped deterministic file names (atomic ``os.replace`` each).

    This makes an append idempotent, so the ingest loops' replay record
    is exactly-once: a crash can no longer leave half-appended data that
    a replay would duplicate, because a replay re-stages the SAME batch
    (deterministic file count and contents) and re-replaces the SAME
    destination names. Hive-partition subdirs (cell=N/...) are
    preserved; only after every rename succeeds does the caller record
    the batch id.

    Callers stage UNDER THE TARGET ROOT (``_stage_*`` dirs — the leading
    underscore keeps them invisible to Spark readers) so the renames are
    same-filesystem by construction: staging under the checkpoint dir
    would break the common layout of local checkpoint + shared-storage
    index, where every ``os.replace`` raises EXDEV. A
    copy+fsync+replace fallback still guards the unexpected
    cross-device case.
    """

    def _promote(src: str, dst: str) -> None:
        try:
            os.replace(src, dst)
        except OSError as e:
            if e.errno != errno.EXDEV:
                raise
            # Cross-filesystem: copy to a temp name on the DESTINATION
            # fs, fsync, then the final replace is same-fs and atomic.
            tmp = f"{dst}.__tmp__"
            shutil.copyfile(src, tmp)
            with open(tmp, "rb") as f:
                os.fsync(f.fileno())
            os.replace(tmp, dst)
            os.unlink(src)

    for root, _dirs, files in os.walk(stage_dir):
        parts = sorted(f for f in files if f.endswith(".parquet"))
        if not parts:
            continue
        rel = os.path.relpath(root, stage_dir)
        dest = target_dir if rel == "." else os.path.join(target_dir, rel)
        os.makedirs(dest, exist_ok=True)
        for i, fn in enumerate(parts):
            _promote(
                os.path.join(root, fn),
                os.path.join(dest, f"batch{batch_id}_part{i:05d}.parquet"),
            )
