"""bench.py times every headline query one way and records its layers."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod
import bench

NAMES = ["q1_pricing_summary", "q19_disjunctive_filter"]


def test_time_queries_records_reps_and_layers(spark, sf_dir):
    reps = 2
    timings, spread, raw, layers, suite = bench._time_queries(
        spark, entrymod.queries(), NAMES, sf_dir, reps
    )
    assert set(timings) == set(raw) == set(layers) == set(NAMES)
    for name in NAMES:
        assert len(raw[name]) == reps
        lay = layers[name]
        assert len(lay["construct_s"]) == len(lay["exec_s"]) == reps
        # construct + exec are the two halves of the timed rep
        for run, c, e in zip(raw[name], lay["construct_s"], lay["exec_s"]):
            assert abs(c + e - run) <= 0.001
        assert lay["jobs"] >= 1 and lay["tasks"] >= 1
        assert lay["plan_s"] >= 0 and lay["gc_s"] >= 0
        assert lay["shuffle_bytes"] >= 0 and lay["spill_bytes"] >= 0
    assert suite["layer_collect_s"] > 0 and suite["jvm_gc_s"] >= 0


def test_headline_names_are_registered():
    queries = entrymod.queries()
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert [n for n in bench.HEADLINE if n not in queries] == []


def test_bench_has_one_rep_protocol():
    with open(bench.__file__) as f:
        src = f.read()
    found = re.findall(
        r"System\.gc|_deep_settle|_jvm_settle|_ITERATIVE|_GC_SETTLE|"
        r"_PER_REP_SETTLE|_RETRY_MAX|settle_sets|calib",
        src,
    )
    assert found == []
