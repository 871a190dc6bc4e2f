"""commit.py: the package's one commit path for maintained artifacts.

Covers the atomic JSON write, the one reader of every replay-record
form, the fold-with-record primitive, the resume of a streaming loop
from an older list-form record, the directory swap's crash matrix, and
the rules that no other module writes JSON, drives ``foreachBatch`` or
renames anything.
"""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_vector_search_spark import commit
from sentiment_analysis_vector_search_spark.commit import (
    SWAP,
    applied_max,
    fold_json,
    path_digest,
    read_json,
    recover_swaps,
    replace_dir,
    staged,
    swap_dirs,
    write_json,
)
from tests.swaps import Crash, crash_at

PKG = Path(__file__).resolve().parents[1] / "sentiment_analysis_vector_search_spark"


def test_failed_replace_keeps_previous_file(tmp_path, monkeypatch):
    path = str(tmp_path / "art.json")
    write_json(path, {"n": 1})

    def crash(src, dst):
        raise OSError("simulated crash before the rename")

    monkeypatch.setattr(commit.os, "replace", crash)
    with pytest.raises(OSError):
        write_json(path, {"n": 2})
    monkeypatch.undo()
    assert read_json(path) == {"n": 1}


def test_applied_max_reads_every_record_form():
    assert applied_max({"max_applied": 4}) == 4
    assert applied_max([0, 3, 1]) == 3  # list-form _*_commits.json / _applied.json
    assert applied_max({"applied_batch_ids": [2, 5]}) == 5
    for empty in (None, [], {}, {"applied_batch_ids": []}):
        assert applied_max(empty) == -1


def test_fold_json_replay_never_calls_fold(tmp_path):
    path = str(tmp_path / "sketch.json")

    def add(k):
        return lambda prior: {"n": (prior or {"n": 0})["n"] + k}

    def boom(prior):
        raise AssertionError("fold called for a replayed batch")

    assert fold_json(path, 0, add(1)) == {"n": 1}
    assert fold_json(path, 1, add(2)) == {"n": 3}
    for replay in (0, 1):
        assert fold_json(path, replay, boom) == {"n": 3}
    assert read_json(path) == {"n": 3, "__meta__": {"max_applied": 1}}

    # an older in-artifact list record guards the same way
    write_json(path, {"n": 5, "__meta__": {"applied_batch_ids": [0, 3]}})
    assert fold_json(path, 3, boom) == {"n": 5}
    assert fold_json(path, 4, add(1)) == {"n": 6}
    assert read_json(path)["__meta__"] == {"max_applied": 4}

    # a one-off fold (no batch id) keeps the stored record
    assert fold_json(path, None, add(1)) == {"n": 7}
    assert read_json(path)["__meta__"] == {"max_applied": 4}


def test_fold_json_digest_ids_apply_each_file_once(tmp_path):
    """Path digests are folded in any order, each exactly once; a stream
    id and digests keep separate records in one artifact; the 60-bit
    prefix an older CLI fold left as the max still reads as applied."""
    path = str(tmp_path / "art.json")

    def add(n):
        return lambda prior: {"n": (prior or {"n": 0})["n"] + n}

    a, b = sorted((path_digest(str(tmp_path / f)) for f in ("a", "b")), reverse=True)
    assert fold_json(path, a, add(1)) == {"n": 1}
    assert fold_json(path, b, add(2)) == {"n": 3}  # b < a: still folded
    assert fold_json(path, a, add(10)) == {"n": 3}  # replay: no-op
    assert fold_json(path, 5, add(4)) == {"n": 7}
    assert fold_json(path, b, add(10)) == {"n": 7}
    assert read_json(path)["__meta__"] == {"max_applied": 5, "applied_paths": [a, b]}

    older = str(tmp_path / "older.json")
    write_json(older, {"n": 1, "__meta__": {"max_applied": int(a[:15], 16)}})
    assert fold_json(older, a, add(10)) == {"n": 1}
    assert fold_json(older, b, add(2)) == {"n": 3}


def test_cli_folds_count_a_second_file_with_a_lower_path_id(
    spark, tmp_path, capsys
):
    """hotkeys, cmsfreq and checksum --manifest-dir fold a second batch
    file even when its path id sorts below the first one's; re-running
    a file stays a no-op."""
    import json

    import pandas as pd

    from sentiment_analysis_vector_search_spark.__main__ import main

    # one basename, so the checksum verb folds both into one manifest;
    # folded in descending order of the 60-bit path id
    paths = [str(tmp_path / f"shard{i}" / "docs.parquet") for i in range(2)]
    paths.sort(key=lambda p: int(path_digest(p)[:15], 16), reverse=True)
    for p, src in zip(paths, ("x", "y")):
        os.makedirs(os.path.dirname(p))
        pd.DataFrame({"doc_id": [1, 2, 3], "source": [src] * 3}).to_parquet(p)
    stats, manifest = str(tmp_path / "stats"), str(tmp_path / "manifest")

    def run(*argv):
        assert main(list(argv)) == 0
        return json.loads(capsys.readouterr().out)

    for p in (*paths, paths[0]):
        hot = run("hotkeys", "docs", "source", p, stats)
        cms = run("cmsfreq", "docs", "source", p, stats, "--keys", "x,y")
        chk = run("checksum", p, "--manifest-dir", manifest)
    assert hot["n_rows"] == 6 and hot["hot"] == {"x": 3, "y": 3}
    assert cms["estimates"] == {"x": 3, "y": 3}
    assert chk["n_rows"] == 6


def test_stream_resumes_from_list_form_record(spark, sf_dir, tmp_path, monkeypatch):
    """A checkpoint whose loop record is an older id list resumes without
    replaying a recorded batch, even when Spark re-runs that batch."""
    from sentiment_analysis_vector_search_spark.operators import similarity
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_ivf_ingest,
    )

    full_dir = str(tmp_path / "ivf_full")
    similarity.build_ivf_index(spark, sf_dir, full_dir)
    idx = str(tmp_path / "ivf_stream")
    shutil.copytree(f"{full_dir}/codebook", f"{idx}/codebook")
    src_dir, ck = str(tmp_path / "emb_src"), str(tmp_path / "ck")
    stage = str(tmp_path / "_emb")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") % 2 == 0
    ).coalesce(1).write.parquet(stage)
    os.makedirs(src_dir)
    part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
    shutil.copy(os.path.join(stage, part), os.path.join(src_dir, "embeddings_a.parquet"))

    stream_ivf_ingest(spark, src_dir, idx, ck)
    n_rows = spark.read.parquet(f"{idx}/assignments").count()
    record = os.path.join(ck, "_ivf_commits.json")
    assert read_json(record) == {"max_applied": 0}

    write_json(record, [0])  # the older list form
    for name in ("0", ".0.crc"):
        if os.path.exists(os.path.join(ck, "commits", name)):
            os.remove(os.path.join(ck, "commits", name))

    def boom(*args, **kwargs):
        raise AssertionError("recorded batch re-applied")

    monkeypatch.setattr(similarity, "ivf_index_add", boom)
    stream_ivf_ingest(spark, src_dir, idx, ck)
    assert os.path.exists(os.path.join(ck, "commits", "0"))  # Spark re-ran it
    assert spark.read.parquet(f"{idx}/assignments").count() == n_rows


def _calls(attr: str, owner: str | None = None) -> list[tuple[str, str | None, int]]:
    """(module, innermost enclosing def, line) of every call of ``attr``
    in the package — ``x.attr(`` or a bare ``attr(`` — optionally only
    the ``owner.attr(`` form."""
    out = []

    def called(func) -> bool:
        if isinstance(func, ast.Name):
            return owner is None and func.id == attr
        return (
            isinstance(func, ast.Attribute)
            and func.attr == attr
            and (
                owner is None
                or isinstance(func.value, ast.Name)
                and func.value.id == owner
            )
        )

    def visit(node, fn, rel):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name, rel)
                continue
            if isinstance(child, ast.Call) and called(child.func):
                out.append((rel, fn, child.lineno))
            visit(child, fn, rel)

    for path in sorted(PKG.rglob("*.py")):
        visit(ast.parse(path.read_text()), None, path.relative_to(PKG).as_posix())
    return out


def test_only_commit_renames():
    """Every rename in the package is a commit.py step (the JSON replace,
    the swap, the batch-stamped promote), so the replace-a-directory
    decision cannot drift back into the modules that rewrite data."""
    renames = [
        c
        for attr in ("rename", "replace")
        for c in _calls(attr, owner="os")
        if c[0] != "commit.py"
    ]
    assert not renames, f"os.rename/os.replace outside commit.py: {renames}"


def test_only_commit_writes_json_and_only_drain_runs_foreachbatch():
    """Every JSON file goes through commit.write_json (atomic), and every
    streaming maintenance loop through file_sink._drain."""
    dumps = [c for c in _calls("dump", owner="json") if c[0] != "commit.py"]
    assert not dumps, f"json.dump outside commit.py: {dumps}"
    drains = [
        c
        for c in _calls("foreachBatch")
        if c[:2] != ("streaming/file_sink.py", "_drain")
    ]
    assert not drains, f"foreachBatch outside file_sink._drain: {drains}"


def test_one_sketch_fold_and_one_sketch_stream():
    """The maintained sketches have one fold and one stream loop: in
    stats.py and operators/dq.py only ``fold_sketch`` calls fold_json,
    and in streaming/file_sink.py one function builds the sketch
    streams."""
    folds = [
        c
        for c in _calls("fold_json")
        if c[0] in ("stats.py", "operators/dq.py") and c[1] != "fold_sketch"
    ]
    assert not folds, f"fold_json outside stats.fold_sketch: {folds}"
    tree = ast.parse((PKG / "streaming" / "file_sink.py").read_text())
    builders = {
        fn.name
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        and any(
            isinstance(n, ast.Name) and n.id == "fold_sketch"
            or isinstance(n, ast.alias) and n.name == "fold_sketch"
            for n in ast.walk(fn)
        )
    }
    assert builders == {"stream_sketch_maintenance"}, builders


def test_cli_fold_verbs_rerun_on_one_file_is_a_noop(spark, tmp_path, capsys):
    """Every fold verb guards its batch file by its path id when no
    --batch-id is given: a second run on the same file leaves n_rows
    (and the CMS estimates) as the first run left them."""
    import json

    import pandas as pd

    from sentiment_analysis_vector_search_spark.__main__ import main

    path = str(tmp_path / "batch" / "events.parquet")
    os.makedirs(os.path.dirname(path))
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "source": ["x", "x", "y", "z"],
            "value": [1.0, 2.0, 15.0, 30.0],
        }
    ).to_parquet(path)
    stats, manifest = str(tmp_path / "stats"), str(tmp_path / "manifest")
    verbs = {
        "analyze-incremental": (
            ["analyze-incremental", "events", path, stats],
            lambda out: out["doc_id"]["n_rows"],
        ),
        "hist": (["hist", "events", "value", path, stats], lambda out: out["n_rows"]),
        "hist --group-col": (
            ["hist", "events", "value", path, stats, "--group-col", "source"],
            lambda out: out["n_rows"],
        ),
        "hotkeys": (
            ["hotkeys", "events", "source", path, stats],
            lambda out: out["n_rows"],
        ),
        "cmsfreq": (
            ["cmsfreq", "events", "source", path, stats, "--keys", "x,y"],
            lambda out: out["estimates"],
        ),
        "sample": (
            ["sample", "events", "doc_id", "value", path, stats],
            lambda out: out["n_sample"],
        ),
        "checksum": (
            ["checksum", path, "--manifest-dir", manifest, "--round", "2"],
            lambda out: out["n_rows"],
        ),
    }
    for verb, (argv, counted) in verbs.items():
        seen = []
        for _ in range(2):
            assert main(list(argv)) == 0
            out = capsys.readouterr().out
            seen.append(counted(json.loads(out[out.index("{"):])))
        assert seen[0] == seen[1], (verb, seen)


# ---------------------------------------------------------------------------
# The directory swap's crash matrix: plain files in directories. The swap
# installs a (replacing a live a), installs b (new) and drops c, which is
# four renames: a -> old, new a -> a, new b -> b, c -> old. A Crash stands
# for a process death at a rename.
# ---------------------------------------------------------------------------

_N_RENAMES = 4


def _files(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p) as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _by_dir(files: dict[str, str]) -> dict[str, dict[str, str]]:
    out: dict[str, dict[str, str]] = {}
    for rel, text in files.items():
        top, _, rest = rel.partition(os.sep)
        out.setdefault(top, {})[rest] = text
    return out


def _put(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _stage_swap(root: str) -> None:
    """A live table (a, c, keep) and a complete staging for a and b."""
    for name in ("a", "c", "keep"):
        _put(os.path.join(root, name, "part-0"), f"old {name}")
    _put(os.path.join(root, "a", "part-1"), "old a, second file")
    _put(staged(root, "a", "part-0"), "new a")
    _put(staged(root, "b", "part-0"), "new b")


_BEFORE = {
    "a/part-0": "old a",
    "a/part-1": "old a, second file",
    "c/part-0": "old c",
    "keep/part-0": "old keep",
}
_AFTER = {"a/part-0": "new a", "b/part-0": "new b", "keep/part-0": "old keep"}


def test_swap_installs_and_drops_in_one_commit(tmp_path):
    root = str(tmp_path / "t")
    _stage_swap(root)
    swap_dirs(root, ["a", "b"], ["c"])
    assert _files(root) == _AFTER
    with pytest.raises(FileNotFoundError, match="nothing staged"):
        swap_dirs(root, ["z"])
    assert _files(root) == _AFTER


def test_swap_crash_before_marker_writer_rolls_back_reader_waits(tmp_path):
    root = str(tmp_path / "t")
    _stage_swap(root)  # staged, marker never written
    staging = _files(os.path.join(root, SWAP))
    recover_swaps(root, forward_only=True)
    assert _files(os.path.join(root, SWAP)) == staging
    recover_swaps(root)
    assert _files(root) == _BEFORE
    assert not os.path.exists(os.path.join(root, SWAP))


@pytest.mark.parametrize("forward_only", [False, True])
@pytest.mark.parametrize("step", range(_N_RENAMES))
def test_swap_crash_after_marker_rolls_forward(tmp_path, monkeypatch, step, forward_only):
    root = str(tmp_path / "t")
    _stage_swap(root)
    crash_at(monkeypatch, step)
    with pytest.raises(Crash):
        swap_dirs(root, ["a", "b"], ["c"])
    monkeypatch.undo()
    # every live directory is whole: all old or all new, never mixed
    live = _by_dir({k: v for k, v in _files(root).items() if not k.startswith(SWAP)})
    for name, files in live.items():
        assert files in (_by_dir(_BEFORE).get(name), _by_dir(_AFTER).get(name)), name
    recover_swaps(root, forward_only=forward_only)
    assert _files(root) == _AFTER
    recover_swaps(root)  # idempotent once finished
    assert _files(root) == _AFTER


def test_swap_leftover_after_success_is_cleared(tmp_path):
    root = str(tmp_path / "t")
    _stage_swap(root)
    swap_dirs(root, ["a", "b"], ["c"])
    # a crash after the marker was removed, before the staging was
    _put(os.path.join(root, SWAP, "old", "a", "part-0"), "old a")
    _put(staged(root, "_SUCCESS"), "")
    recover_swaps(root, forward_only=True)
    assert os.path.isdir(os.path.join(root, SWAP))
    recover_swaps(root)
    assert _files(root) == _AFTER


@pytest.mark.parametrize("step", range(_N_RENAMES))
def test_swap_oserror_in_writer_rolls_back_in_full(tmp_path, monkeypatch, step):
    root = str(tmp_path / "t")
    _stage_swap(root)
    crash_at(monkeypatch, step, OSError("simulated rename failure"))
    with pytest.raises(OSError, match="simulated"):
        swap_dirs(root, ["a", "b"], ["c"])
    monkeypatch.undo()
    assert _files(root) == _BEFORE
    assert not os.path.exists(os.path.join(root, SWAP))


@pytest.mark.parametrize("step", range(_N_RENAMES))
def test_swap_reader_recovery_leaves_a_live_writer_alone(tmp_path, monkeypatch, step):
    """A query open's recovery that runs while the writer is between
    its renames neither takes a step of its own nor retires the swap:
    the writer finishes, and every directory is whole."""
    root = str(tmp_path / "t")
    _stage_swap(root)
    real, calls = os.rename, []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == step + 1:
            recover_swaps(root, forward_only=True)  # another process's open
        real(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    swap_dirs(root, ["a", "b"], ["c"])
    monkeypatch.undo()
    assert len(calls) == _N_RENAMES
    assert _files(root) == _AFTER


def test_replace_dir_siblings_swap_independently(tmp_path):
    """Two sibling directories rewritten with interleaved staging: the
    inner rewrite's recovery and swap leave the outer one's staging
    alone, and the swap directories hold no ``=``, which Spark would
    read as a partition."""
    parent = str(tmp_path)
    for name in ("day=1", "day=2"):
        _put(os.path.join(parent, name, "part-0"), f"old {name}")

    def write(name: str, inner=None):
        def fill(staging: str) -> None:
            assert "=" not in os.path.relpath(staging, parent).split(os.sep)[0]
            _put(os.path.join(staging, "part-0"), f"new {name}")
            if inner is not None:
                inner()

        return fill

    replace_dir(
        os.path.join(parent, "day=1"),
        write("day=1", lambda: replace_dir(os.path.join(parent, "day=2"), write("day=2"))),
    )
    assert _files(parent) == {"day=1/part-0": "new day=1", "day=2/part-0": "new day=2"}
