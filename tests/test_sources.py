import json

import pytest
from pyspark.sql import functions as F

from tests.parity import assert_parity


def test_source_html_extract_parity(spark, sf_dir):
    assert_parity(spark, "source_html_extract", sf_dir)


def test_read_documents_formats_roundtrip(spark, sf_dir, tmp_path):
    from sentiment_analysis_vector_search_spark.sources import read_documents

    ref = read_documents(spark, f"{sf_dir}/documents.parquet").orderBy("doc_id")
    rows = [r.asDict() for r in ref.collect()]

    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    ref.write.option("header", True).option("escape", '"').csv(csv_dir)
    ref.write.json(json_dir)

    got_csv = read_documents(spark, csv_dir, "csv").orderBy("doc_id").collect()
    got_json = read_documents(spark, json_dir, "json").orderBy("doc_id").collect()
    assert [r.asDict() for r in got_csv] == rows
    assert [r.asDict() for r in got_json] == rows

    orc_dir = str(tmp_path / "orc")
    ref.write.orc(orc_dir)
    got_orc = read_documents(spark, orc_dir, "orc").orderBy("doc_id").collect()
    assert [r.asDict() for r in got_orc] == rows


def test_read_documents_text_lines(spark, tmp_path):
    from sentiment_analysis_vector_search_spark.sources import read_documents

    p = tmp_path / "corpus.txt"
    p.write_text("alpha beta gamma\nsecond line of text\n")
    df = read_documents(spark, str(p), "text")
    rows = df.orderBy("text").collect()
    assert [r["text"] for r in rows] == ["alpha beta gamma", "second line of text"]
    assert all(r["source"] == "corpus.txt" and r["n_chars"] == len(r["text"]) for r in rows)
    assert len({r["doc_id"] for r in rows}) == 2


def test_read_html_dir(spark, tmp_path):
    from sentiment_analysis_vector_search_spark.sources import read_html_dir

    (tmp_path / "page1.html").write_text(
        "<html><head><style>body {font: 12px}</style>"
        "<script>ignore this entirely; it is long</script></head>"
        "<body><p>The first paragraph block with enough characters.</p>"
        "<p>tiny</p>"
        "<div>A second &amp; final block &lt;with entities&gt; included.</div>"
        "</body></html>"
    )
    (tmp_path / "page2.html").write_text(
        "<body><h1>Headline that is long enough to keep</h1><p>short</p></body>"
    )
    blocks = read_html_dir(spark, str(tmp_path)).collect()
    texts = sorted(r["block_text"] for r in blocks)
    assert texts == [
        "A second & final block <with entities> included.",
        "Headline that is long enough to keep",
        "The first paragraph block with enough characters.",
    ]
    # script/style content never leaks into blocks
    assert not any("ignore" in t or "font" in t for t in texts)
    # provenance: blocks carry their page filename
    srcs = {r["source"] for r in blocks}
    assert srcs == {"page1.html", "page2.html"}


def test_fetch_page_is_stubbed():
    from sentiment_analysis_vector_search_spark.sources import fetch_page

    with pytest.raises(NotImplementedError):
        fetch_page("https://example.com")


def test_cli_list_run_oracle(sf_dir):
    """The __main__ CLI surface: list filters by prefix, run executes an
    operator end-to-end as JSON lines, oracle prints the SQL contract."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "sentiment_analysis_vector_search_spark", *args],
            capture_output=True,
            text=True,
            cwd=root,
            env=env,
            timeout=300,
        )

    r = cli("list", "dedup")
    assert r.returncode == 0
    names = r.stdout.split()
    assert "dedup_exact" in names and all(n.startswith("dedup") for n in names)

    r = cli("oracle", "dedup_exact")
    assert r.returncode == 0 and "md5(text)" in r.stdout

    r = cli("run", "dedup_exact", "--sf-dir", sf_dir, "--limit", "3", "--json")
    assert r.returncode == 0, r.stderr[-800:]
    rows = [json.loads(ln) for ln in r.stdout.strip().splitlines() if ln.startswith("{")]
    assert len(rows) == 3 and all("doc_id" in row for row in rows)

    r = cli("run", "no_such_query")
    assert r.returncode == 2


def test_cli_rollup_and_incremental_stats(spark, sf_dir, tmp_path):
    """The r8 CLI verbs: rollup build → answer (JSON rows equal a direct
    aggregate), analyze-incremental folds a batch into persisted stats."""
    import json
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "sentiment_analysis_vector_search_spark", *args],
            capture_output=True,
            text=True,
            cwd=root,
            env=env,
            timeout=300,
        )

    src = str(tmp_path / "facts")
    facts = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    facts.write.parquet(src)
    mv = str(tmp_path / "mv")
    r = cli(
        "rollup", "build", mv,
        "--source", src,
        "--dims", "l_returnflag,l_linestatus",
        "--measures", "qty=l_quantity",
    )
    assert r.returncode == 0, r.stderr[-800:]
    r = cli(
        "rollup", "answer", mv,
        "--group-by", "l_returnflag",
        "--wants", "sum:qty,count:*",
    )
    assert r.returncode == 0, r.stderr[-800:]
    rows = {
        row["l_returnflag"]: row
        for row in (json.loads(ln) for ln in r.stdout.strip().splitlines() if ln.startswith("{"))
    }
    want = {
        w["l_returnflag"]: w
        for w in facts.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(30,10)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("count_rows"),
        )
        .collect()
    }
    assert rows.keys() == want.keys()
    for k in want:
        assert rows[k]["count_rows"] == want[k]["count_rows"]
        assert abs(rows[k]["sum_qty"] - want[k]["sum_qty"]) < 1e-6

    sd = str(tmp_path / "stats")
    r = cli("analyze-incremental", "lineitem", src, sd)
    assert r.returncode == 0, r.stderr[-800:]
    got = json.loads(r.stdout)
    assert got["l_quantity"]["n_rows"] == facts.count()
    assert os.path.exists(os.path.join(sd, "lineitem.json"))


def test_sqlite_comments_roundtrip(spark, sf_dir, tmp_path):
    """read_sqlite round-trip (r8 verdict 'What's missing' #2): the
    reference's comment_blocks store reads back into the documents
    schema with the reference's score/length filter pushed into the
    SQLite query."""
    import sqlite3

    from pyspark.sql import functions as F

    from sentiment_analysis_vector_search_spark.sources import DOCUMENTS_SCHEMA
    from sentiment_analysis_vector_search_spark.sources.sqlite_store import (
        read_sqlite_comments,
        write_sqlite_comments,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    db = str(tmp_path / "comments.db")
    n = write_sqlite_comments(docs, db)
    assert n == 100

    got = read_sqlite_comments(spark, db, min_score=0.0, min_length=0)
    assert [f.name for f in got.schema.fields] == [
        f.name for f in DOCUMENTS_SCHEMA.fields
    ]
    want = {
        (r["text"], r["source"], r["n_chars"])
        for r in docs.select("text", "source", "n_chars").collect()
    }
    have = {
        (r["text"], r["source"], r["n_chars"])
        for r in got.select("text", "source", "n_chars").collect()
    }
    assert have == want

    # the reference's filter semantics: short blocks drop IN the store
    conn = sqlite3.connect(db)
    conn.execute(
        "INSERT INTO comment_blocks VALUES ('tiny', 0.9, 4, 1, 'x.html')"
    )
    conn.execute(
        "INSERT INTO comment_blocks VALUES "
        "('long enough but low score aaaaaaaaaaaaaaaaaaaaaaaaaaaa', 0.1, 52, 1, 'x.html')"
    )
    conn.commit()
    conn.close()
    filt = read_sqlite_comments(spark, db)  # defaults: score>=0.3, len>=30
    assert filt.where(F.col("text") == "tiny").count() == 0
    assert filt.where(F.col("text").startswith("long enough")).count() == 0
    assert filt.count() == sum(
        1 for r in docs.select("n_chars").collect() if r[0] >= 30
    )


def test_cli_sqlite_verb(spark, sf_dir, tmp_path, capsys):
    import json

    from sentiment_analysis_vector_search_spark.__main__ import main
    from sentiment_analysis_vector_search_spark.sources.sqlite_store import (
        write_sqlite_comments,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    db = str(tmp_path / "c.db")
    write_sqlite_comments(docs, db)
    out = str(tmp_path / "out")
    rc = main(["sqlite", db, out, "--min-score", "0", "--min-length", "0"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["documents"] == 40
    back = spark.read.parquet(out)
    assert {r["text"] for r in back.select("text").collect()} == {
        r["text"] for r in docs.select("text").collect()
    }


def test_cli_hotkeys_and_sample_verbs(spark, sf_dir, tmp_path, capsys):
    """The hotkeys/sample CLI verbs fold a batch into the persisted
    sketch/sample and print a JSON summary a shell pipeline can read."""
    import json

    from sentiment_analysis_vector_search_spark.__main__ import main

    stats_dir = str(tmp_path / "stats")
    batch = f"{sf_dir}/documents.parquet"

    assert main(["hotkeys", "documents", "source", batch, stats_dir]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["n_rows"] > 0 and out["hot"]  # every source is a survivor
    # fold counts are <= true counts (MG lower bound)
    import pandas as pd

    docs = pd.read_parquet(batch)
    for src, c in out["hot"].items():
        assert c <= int((docs.source == src).sum())

    # replaying the SAME batch file must be a no-op: the verb derives a
    # stable batch id from the path, and MG folding is additive (r9
    # advice — an accidental re-run silently double-counted before)
    assert main(["hotkeys", "documents", "source", batch, stats_dir]) == 0
    again = json.loads(capsys.readouterr().out)
    assert again["hot"] == out["hot"] and again["n_rows"] == out["n_rows"]

    assert main(
        ["sample", "documents", "doc_id", "n_chars", batch, stats_dir]
    ) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["n_sample"] > 0
    q50 = out["quantiles"]["0.5"]
    assert docs.n_chars.min() <= q50 <= docs.n_chars.max()


def test_sqlite_parallel_reader_equals_serial(spark, sf_dir, tmp_path):
    """read_sqlite_comments_parallel (rowid-range mapInPandas tasks, one
    read-only connection per task) returns exactly the serial reader's
    rows — same store, same filters, n_ranges > #rows included (empty
    ranges must contribute nothing)."""
    from sentiment_analysis_vector_search_spark.sources.sqlite_store import (
        read_sqlite_comments,
        read_sqlite_comments_parallel,
        write_sqlite_comments,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    db = str(tmp_path / "store.db")
    write_sqlite_comments(docs, db)

    def key(df):
        return sorted(
            (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
            for r in df.collect()
        )

    serial = read_sqlite_comments(spark, db, min_score=0.0, min_length=0)
    for n_ranges in (4, 1000):
        par = read_sqlite_comments_parallel(
            spark, db, min_score=0.0, min_length=0, n_ranges=n_ranges
        )
        assert key(par) == key(serial)
    # reference default filters agree too
    assert key(read_sqlite_comments_parallel(spark, db)) == key(
        read_sqlite_comments(spark, db)
    )
    # the scan is distributed: more than one task produced rows
    par = read_sqlite_comments_parallel(
        spark, db, min_score=0.0, min_length=0, n_ranges=8
    )
    from pyspark.sql import functions as F2

    n_parts = (
        par.select(F2.spark_partition_id().alias("p"))
        .where(F2.col("p") >= 0)
        .distinct()
        .count()
    )
    assert n_parts > 1


def test_cli_lint_verb(sf_dir, capsys):
    """`lint` runs the fleet-wide plan anti-pattern sweep from the CLI
    (clean prefix → rc 0 with counts; unknown prefix → zero checked)."""
    import json

    from sentiment_analysis_vector_search_spark.__main__ import main

    rc = main(["lint", "q_events_cms_freq", "--sf-dir", sf_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["checked"] == 1 and out["clean"] == 1
    rc = main(["lint", "no_such_prefix", "--sf-dir", sf_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["checked"] == 0


def test_cli_joinest_verb(spark, sf_dir, tmp_path, capsys):
    """`joinest`: join-size estimate + chooser verdict from PERSISTED
    stats only — cross-named key columns, strategy flips with the
    broadcast budget, missing stats error out cleanly."""
    import json

    from sentiment_analysis_vector_search_spark.__main__ import main
    from sentiment_analysis_vector_search_spark.stats import fold_sketch

    sd = str(tmp_path / "stats")
    fold_sketch(
        "analyze", sd, "orders", spark.read.parquet(f"{sf_dir}/orders.parquet")
    )
    fold_sketch(
        "analyze", sd, "lineitem", spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    )
    rc = main(
        ["joinest", "orders", "lineitem", "o_orderkey", sd,
         "--big-key-col", "l_orderkey"]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    true = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert 0.8 * true <= out["estimated_join_rows"] <= 1.2 * true
    assert out["strategy"] == "broadcast"
    # tiny budget -> the same stats flip the verdict off broadcast
    rc = main(
        ["joinest", "orders", "lineitem", "o_orderkey", sd,
         "--big-key-col", "l_orderkey", "--broadcast-max-bytes", "1000"]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["strategy"] != "broadcast"
    # absent stats -> rc 2
    assert main(["joinest", "nope", "lineitem", "x", sd]) == 2
