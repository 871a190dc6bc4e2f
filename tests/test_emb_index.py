"""Persisted embedding sign-LSH index: check ≡ batch cross-pairs,
add ≡ rebuild, band-width mismatch refusal.

The corpus is synthesized with PLANTED duplicates (vec and its exact
copy at id+1001) — an identical vector shares every sign bit, so every
band collides and the near-dup pairs exist at ANY band width, keeping
the fixture meaningful under the scale-safe 8-bit default (where the
tiny sf0.001 corpus yields no organic collisions).
"""

import pytest
from pyspark.sql import functions as F


def _vectors(spark, n=240, dim=64, n_dups=30):
    import numpy as np

    rng = np.random.default_rng(42)
    base = rng.normal(size=(n, dim))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(n)]
    # planted exact dups: id -> id + 1001 (even base id pairs with an
    # odd dup id and vice versa, so even/odd splits always cross)
    rows += [
        (int(i + 1001), [float(x) for x in base[i]]) for i in range(n_dups)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, v array<double>")


def _pairs(df):
    return {(r.vec_a, r.vec_b, r.cosine) for r in df.collect()}


def test_emb_index_check_equals_batch_cross_pairs(spark, tmp_path):
    from sentiment_analysis_vector_search_spark.operators.dedup import (
        emb_candidate_pairs,
    )
    from sentiment_analysis_vector_search_spark.operators.dedup_index import (
        build_emb_index,
        emb_index_check,
    )

    vecs = _vectors(spark)
    even = vecs.where(F.col("vec_id") % 2 == 0)
    odd = vecs.where(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "emb_idx")
    build_emb_index(spark, even, idx)

    got = _pairs(emb_index_check(spark, odd, idx).drop("new_vec_id"))
    batch = emb_candidate_pairs(vecs)
    cross = (
        ((F.col("vec_a") % 2 == 0) & (F.col("vec_b") % 2 == 1))
        | ((F.col("vec_a") % 2 == 1) & (F.col("vec_b") % 2 == 0))
    )
    want = _pairs(batch.where(cross))
    assert want, "fixture must contain cross-half near-dup pairs"
    assert got == want
    # keyed (no-broadcast) path returns the identical pairs
    got_keyed = _pairs(
        emb_index_check(spark, odd, idx, broadcast_max_bytes=0).drop(
            "new_vec_id"
        )
    )
    assert got_keyed == want


def test_emb_index_add_equals_rebuild(spark, tmp_path):
    """Seed with first third, add second third; checking the last third
    must equal a fresh index built from the first two thirds."""
    from sentiment_analysis_vector_search_spark.operators.dedup_index import (
        build_emb_index,
        emb_index_add,
        emb_index_check,
    )

    vecs = _vectors(spark)
    parts = [vecs.where(F.col("vec_id") % 3 == i) for i in range(3)]
    inc = str(tmp_path / "inc")
    build_emb_index(spark, parts[0], inc)
    emb_index_add(spark, parts[1], inc)
    full = str(tmp_path / "full")
    build_emb_index(spark, parts[0].unionByName(parts[1]), full)

    probe = parts[2]
    got_inc = _pairs(emb_index_check(spark, probe, inc))
    got_full = _pairs(emb_index_check(spark, probe, full))
    assert got_inc == got_full and got_inc


def test_emb_index_width_mismatch_refused(spark, tmp_path):
    import json
    import os

    from sentiment_analysis_vector_search_spark.operators.dedup_index import (
        build_emb_index,
        emb_index_check,
    )

    vecs = _vectors(spark, n=40, n_dups=5)
    idx = str(tmp_path / "emb_idx")
    build_emb_index(spark, vecs, idx)
    with open(os.path.join(idx, "manifest.json")) as f:
        m = json.load(f)
    m["band_bits"] = m["band_bits"] + 1
    with open(os.path.join(idx, "manifest.json"), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="band"):
        emb_index_check(spark, vecs, idx)
