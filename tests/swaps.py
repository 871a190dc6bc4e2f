"""Crash states of the directory swap (``commit.swap_dirs``) for the
recovery tests: hand-built ones, and crashes injected into a rename."""

from __future__ import annotations

import os
import shutil

from sentiment_analysis_vector_search_spark.commit import (
    SWAP,
    SWAP_MARKER,
    staged,
    write_json,
)


def stage_copy(root: str, *names: str) -> None:
    """Uncommitted staging: each name staged as a copy of its live
    directory, no marker (a writer still staging, or one that died)."""
    for name in names:
        shutil.copytree(os.path.join(root, name), staged(root, name))


def torn_swap(root: str, install: tuple[str, ...], displaced: tuple[str, ...]) -> None:
    """A swap a crash cut after its commit point: every ``install`` name
    staged (as a copy of its live directory), the marker written, and
    the ``displaced`` names already moved aside."""
    stage_copy(root, *install)
    write_json(os.path.join(root, SWAP, SWAP_MARKER), {"install": list(install), "drop": []})
    os.makedirs(os.path.join(root, SWAP, "old"), exist_ok=True)
    for name in displaced:
        os.rename(os.path.join(root, name), os.path.join(root, SWAP, "old", name))


class Crash(BaseException):
    """A process death: no ``except OSError`` or ``except Exception``
    handler runs."""


def crash_at(monkeypatch, k: int, exc: BaseException | None = None) -> None:
    """Make the ``k``-th ``os.rename`` (0-based) raise ``exc`` (default a
    :class:`Crash`); the renames before it run."""
    real, calls = os.rename, []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == k + 1:
            raise exc or Crash()
        real(src, dst)

    monkeypatch.setattr(os, "rename", rename)
