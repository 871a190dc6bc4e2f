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
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any, Callable

META = "__meta__"


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
