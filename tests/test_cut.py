"""catalog.cut: the package's one lineage-cut primitive.

Covers the storage rule (localCheckpoint by default, a reliable
checkpoint into SPARK_GRAFT_RELIABLE_CK_DIR when set, re-pointed when the
variable changes), the rule that no other module calls Spark's checkpoint
API, and retry determinism of the id-pinning cuts under both storage
rules.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

from sentiment_analysis_vector_search_spark import catalog
from sentiment_analysis_vector_search_spark.catalog import cut

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "sentiment_analysis_vector_search_spark"


def _has_files(d) -> bool:
    return any(files for _root, _dirs, files in os.walk(d))


def test_cut_reliable_checkpoint_follows_env_dir(spark, tmp_path, monkeypatch):
    """Unset: a localCheckpoint, rows unchanged. Set: a reliable checkpoint
    written under that dir — and a second, different value in the same
    session re-points the checkpoint dir instead of being ignored."""
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    want = sorted(df.collect())

    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CK_DIR", raising=False)
    assert sorted(cut(df, eager=True).collect()) == want

    for name in ("reliable_a", "reliable_b"):
        ckdir = tmp_path / name
        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CK_DIR", str(ckdir))
        assert sorted(cut(df, eager=True).collect()) == want
        assert _has_files(ckdir), f"no reliable checkpoint files under {ckdir}"


def test_only_catalog_calls_checkpoint():
    """Every lineage cut goes through catalog.cut, so the storage rule
    (and the reliable-checkpoint setting) reaches all of them."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "catalog.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, f"direct checkpoint calls outside catalog.cut: {offenders}"
    assert not hasattr(catalog, "corpus_cut")


_RETRY_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
marker_dir = sys.argv[2]
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from sentiment_analysis_vector_search_spark.functions.ranks import dist_ntile
from sentiment_analysis_vector_search_spark.sinks import zorder_by


def frame(inject):
    @F.udf("long")
    def value(i):
        ctx = TaskContext.get()
        if inject and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            open(os.path.join(marker_dir, f"fail-{ctx.stageId()}"), "w").close()
            raise RuntimeError("injected first-attempt failure")
        return (i * 7919) % 37

    return spark.range(0, 200, 1, 4).withColumn("v", value("id"))


def run(inject):
    nt = dist_ntile(frame(inject), "v", "id", 7, "nt", keep_value=True)
    z = zorder_by(frame(inject), ["v", "id"], bits=8)
    return {
        "ntile": sorted(tuple(r) for r in nt.collect()),
        "zorder": [tuple(r) for r in z.collect()],
    }


out = {}
for rule, ckdir in (("local", None), ("reliable", os.path.join(marker_dir, "ck"))):
    if ckdir:
        os.environ["SPARK_GRAFT_RELIABLE_CK_DIR"] = ckdir
    out[rule] = {"clean": run(False), "injected": run(True)}
out["failures"] = len([f for f in os.listdir(marker_dir) if f.startswith("fail-")])
print("RESULT " + json.dumps(out))
"""


def test_cut_retry_determinism(tmp_path):
    """A first-attempt task failure upstream of the id-pinning cuts
    (dist_ntile's partitioned frame, zorder_by's _zid) must not change a
    row, under the default and the reliable storage rule."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_RELIABLE_CK_DIR"}
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(REPO), str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["failures"] > 0, "the injected failure never fired"
    for rule in ("local", "reliable"):
        clean, injected = out[rule]["clean"], out[rule]["injected"]
        assert len(clean["ntile"]) == 200 and len(clean["zorder"]) == 200
        assert injected == clean, rule
    assert out["local"]["clean"] == out["reliable"]["clean"]
    assert _has_files(tmp_path / "ck"), "the reliable rule wrote no checkpoint"
