"""Unit tests of the benchmark's own code (no Spark needed):
``python3 -m pytest perfbench -q -p no:cacheprovider``."""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from spans import self_times  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _make(out: str, seed: int, workload: str) -> None:
    gen.generate(out, seed, workload)
    if workload == "serve":
        for b in (0, 1):
            gen.ingest_batch(out, seed, b)
            gen.requests(out, seed, b)


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_same_bytes_other_seed_differs(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _make(a, 7, workload)
    _make(b, 7, workload)
    _make(c, 8, workload)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    assert set(da) == set(dc)
    assert all(da[f] != dc[f] for f in da)


def test_planted_duplicates_are_near_copies(tmp_path):
    import pyarrow.parquet as pq

    paths = gen.generate(str(tmp_path), 3, "serve")
    corpus = dict(
        zip(*pq.read_table(os.path.join(paths["sf_dir"], "documents.parquet"), columns=["doc_id", "text"])
            .to_pydict().values())
    )
    b = gen.ingest_batch(str(tmp_path), 3, 1)
    new = dict(zip(*pq.read_table(b["docs"], columns=["doc_id", "text"]).to_pydict().values()))
    planted = pq.read_table(b["planted"]).to_pylist()
    assert len(planted) == b["n_dup"] > 0
    for p in planted:
        src, dup = corpus[p["src_doc_id"]].split(), new[p["new_doc_id"]].split()
        assert src[:-1] == dup[:-1] and src[-1] != dup[-1]


def test_unit_zero_starts_with_the_default_bm25_words(tmp_path):
    import pyarrow.parquet as pq

    gen.generate(str(tmp_path), 3, "serve")
    reqs = pq.read_table(gen.requests(str(tmp_path), 3, 0)).to_pylist()
    assert len(reqs) == 2 * gen.SIZES["serve"]["request_pairs"]
    assert [r["kind"] for r in reqs[:2]] == ["bm25", "knn"]
    assert tuple(reqs[0]["words"]) == gen.DEFAULT_BM25_WORDS


def test_benchmark_json_lists_the_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["end_to_end"] == END_TO_END
    assert bench["per_layer"] == PER_LAYER
    assert len({m["name"] for m in PER_LAYER}) == len(PER_LAYER) <= 128
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(gen.SIZES)


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(1.5)
