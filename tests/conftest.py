from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sentiment_analysis_vector_search_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _drop_tmp_corpus_memos(request):
    """Drop what a test's tmp corpora left in the session's table memo
    (``catalog.refresh`` of each), so a memoized shingle relation and its
    local checkpoint do not outlive the test that made the corpus."""
    names = request.fixturenames
    if "tmp_path" not in names or "spark" not in names:
        yield
        return
    from sentiment_analysis_vector_search_spark import catalog

    spark = request.getfixturevalue("spark")
    root = str(request.getfixturevalue("tmp_path"))
    yield
    per = catalog._TABLE_MEMO.get(spark) or {}
    for d in {k[0] for k in per if k[0] == root or k[0].startswith(root + os.sep)}:
        catalog.refresh(spark, d)
