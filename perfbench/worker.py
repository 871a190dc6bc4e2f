"""One benchmark run, in the fresh process ``run.py`` starts.

Order: engine import and Spark session, seeded inputs, the workload's
set-up, the fixed warm-up, then timed units until ``--seconds`` of unit
time is measured (each unit's own inputs are prepared just before its
timing starts). The result is written as JSON to
``--result``; spans (traced runs only) to ``--spans``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from metrics import BUILDS, CURATION, END_TO_END, PER_LAYER  # noqa: E402
from spans import GcReader, Tracer, layer_metrics  # noqa: E402
from workloads import WORKLOADS, CheckFailed  # noqa: E402

# Timed units run until this many are measured and --seconds have passed.
MIN_TIMED = 1


def _log(msg: str) -> None:
    t = time.time() - float(os.environ["PERFBENCH_T0"])
    print(f"[perfbench {t:6.1f}s] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    a = ap.parse_args()
    t_start = float(os.environ["PERFBENCH_T0"])

    spec = importlib.util.find_spec("sentiment_analysis_vector_search_spark")
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        _log("the engine package is not in this checkout")
        return 2

    t = time.perf_counter()
    from sentiment_analysis_vector_search_spark.session import get_spark

    spark = get_spark()
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    from sentiment_analysis_vector_search_spark.registry import QUERIES, load_all_modules

    load_all_modules()
    load_s = time.perf_counter() - t
    _log(f"session {get_spark_s:.2f} s, modules {load_s:.2f} s")

    ctx = SimpleNamespace(
        spark=spark,
        queries=QUERIES,
        run_dir=a.run_dir,
        seed=a.seed,
        tr=Tracer(spark, enabled=bool(a.trace)),
        inputs=gen.generate(os.path.join(a.run_dir, "inputs"), a.seed, a.workload),
    )
    gc = GcReader(spark)
    wl = WORKLOADS[a.workload](ctx)

    attempted = failed = 0
    times: list[float] = []
    gcs: list[dict] = []
    overheads: list[float] = []
    setup_s = None
    try:
        wl.setup()
        _log("set-up done")
        # the fixed, untimed warm-up: it takes the cold-JVM cost (class
        # loading, code generation, JIT) off the timed units
        attempted += 1
        t = time.perf_counter()
        wl.warmup()
        _log(f"warm-up: {time.perf_counter() - t:.3f} s")
        ctx.tr.collect()
        u = 0
        while len(times) < MIN_TIMED or sum(times) < a.seconds:
            wl.prepare(u)
            if setup_s is None:
                setup_s = time.time() - t_start
            g0, o0 = gc.read(), ctx.tr.overhead_s
            ctx.tr.unit = u
            attempted += 1
            t = time.perf_counter()
            wl.unit(u)
            dt = time.perf_counter() - t
            g1 = gc.read()
            try:
                wl.verify(u)
            except CheckFailed as e:
                failed += 1
                _log(f"unit {u}: check failed: {e}")
            ctx.tr.collect()
            _log(f"unit {u}: {dt:.3f} s")
            times.append(dt)
            gcs.append({k: g1[k] - g0[k] for k in ("gc_s", "gc_count")} | {"heap_used_bytes": g1["heap_used_bytes"]})
            overheads.append(ctx.tr.overhead_s - o0)
            u += 1
    except CheckFailed as e:
        failed += 1
        _log(f"check failed: {e}")
    except Exception:  # noqa: BLE001 - any engine error fails the run
        traceback.print_exc()
        failed += 1

    ok = failed == 0 and len(times) >= MIN_TIMED
    metrics: dict[str, float] = {}
    if ok:
        p50 = statistics.median(times)
        e2e = {"setup_s": setup_s, "unit_p50_s": p50, "docs_per_s": wl.unit_docs / p50}
        if a.trace:
            timed_units = set(range(len(times)))
            layers = layer_metrics(ctx.tr.spans, timed_units)
            layers.update(
                {
                    "session.get_spark_s": get_spark_s,
                    "registry.load_all_modules_s": load_s,
                    "trace.unit_p50_s": p50,
                    "trace.overhead_s": statistics.median(overheads),
                }
            )
            for k in ("gc_s", "gc_count", "heap_used_bytes"):
                layers[f"jvm.{k}"] = statistics.median(g[k] for g in gcs)
            for k, v in wl.stats.items():
                layers[k] = statistics.median(v) if v else 0.0
            if "run_analysis_job.self_s" in layers:
                layers["jobs.overhead_s"] = layers["run_analysis_job.self_s"]
            built = layer_metrics(ctx.tr.spans, {None})
            for b in BUILDS:
                layers[f"{b}.call_s"] = built.get(f"{b}.call_s", 0)
            # jobs the dedup operators start while constructing (lineage cuts)
            cuts = dict.fromkeys(timed_units, 0)
            for sp in ctx.tr.spans:
                if sp["unit"] in cuts and sp["phase"] == "construct" and sp["name"] in CURATION:
                    cuts[sp["unit"]] += sp.get("jobs", 0)
            layers["catalog.cut_jobs"] = statistics.median(cuts.values())
            metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]} for m in PER_LAYER}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in END_TO_END}
        _log(f"timed units: {len(times)}, unit seconds: {[round(x, 3) for x in times]}")
    if a.trace:
        ctx.tr.dump(a.spans)
    result = {"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(a.result, "w") as f:
        json.dump(result, f)
    # no spark.stop(): run.py kills the process group, JVM included
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
