

def test_table_checksum_properties(spark, sf_dir, tmp_path):
    """The checksum is order/partitioning-insensitive (repartitioned
    table gives the identical value), detects a single-row change, and
    shard checksums merge additively mod 2^60."""
    import os

    import pandas as pd

    import sentiment_analysis_vector_search_spark.operators.dq as dq
    from sentiment_analysis_vector_search_spark.operators.dq import (
        _CHK_MOD,
        dq_table_checksum,
    )

    base = dq_table_checksum(spark, sf_dir).collect()[0]

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    # identical rows, shuffled order, different file layout
    d1 = str(tmp_path / "shuffled")
    os.makedirs(d1)
    docs.sample(frac=1.0, random_state=7).to_parquet(
        os.path.join(d1, "documents.parquet"), index=False
    )
    got = dq_table_checksum(spark, d1).collect()[0]
    assert (got["n_rows"], got["checksum"]) == (base["n_rows"], base["checksum"])

    # one flipped character -> different checksum
    d2 = str(tmp_path / "tampered")
    os.makedirs(d2)
    t = docs.copy()
    t.loc[t.index[0], "text"] = (t.loc[t.index[0], "text"] or "") + "x"
    t.to_parquet(os.path.join(d2, "documents.parquet"), index=False)
    bad = dq_table_checksum(spark, d2).collect()[0]
    assert bad["checksum"] != base["checksum"]

    # shard mergeability: checksums of two halves add mod 2^60
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(da), os.makedirs(db)
    docs.iloc[: len(docs) // 2].to_parquet(
        os.path.join(da, "documents.parquet"), index=False
    )
    docs.iloc[len(docs) // 2 :].to_parquet(
        os.path.join(db, "documents.parquet"), index=False
    )
    ca = dq_table_checksum(spark, da).collect()[0]["checksum"]
    cb = dq_table_checksum(spark, db).collect()[0]["checksum"]
    assert (ca + cb) % _CHK_MOD == base["checksum"]


def test_table_checksum_parity(spark, sf_dir):
    from tests.parity import assert_parity

    assert_parity(spark, "dq_table_checksum", sf_dir)


def test_checksum_encoding_is_injective(spark, tmp_path):
    """r10 advice (low): NULL text vs empty text must differ, and a
    field-separator character inside a value must not alias field
    boundaries (length-prefixed v1 encoding)."""
    import os

    import pandas as pd

    from sentiment_analysis_vector_search_spark.operators.dq import (
        dq_table_checksum,
    )

    def mk(tag, rows):
        d = str(tmp_path / tag)
        os.makedirs(d)
        pd.DataFrame(rows).to_parquet(
            os.path.join(d, "documents.parquet"), index=False
        )
        return d

    cols = {"lang": "en", "source": "s", "n_chars": 1}
    null_text = mk("nt", [{"doc_id": 1, "text": None, **cols}])
    empty_text = mk("et", [{"doc_id": 1, "text": "", **cols}])
    a = dq_table_checksum(spark, null_text).collect()[0]["checksum"]
    b = dq_table_checksum(spark, empty_text).collect()[0]["checksum"]
    assert a != b

    # separator aliasing: text "x\x1fen" with lang "y" vs text "x" with
    # lang "\x1fen"-ish shapes collapse under naive joining; length
    # prefixes keep them apart
    c1 = mk("s1", [{"doc_id": 1, "text": "x\x1fen", "lang": "y",
                    "source": "s", "n_chars": 1}])
    c2 = mk("s2", [{"doc_id": 1, "text": "x", "lang": "en\x1fy",
                    "source": "s", "n_chars": 1}])
    assert (
        dq_table_checksum(spark, c1).collect()[0]["checksum"]
        != dq_table_checksum(spark, c2).collect()[0]["checksum"]
    )
    # sentinel aliasing: a literal one-char \x1e string != NULL
    c3 = mk("s3", [{"doc_id": 1, "text": "t", "lang": "\x1e",
                    "source": "s", "n_chars": 1}])
    c4 = mk("s4", [{"doc_id": 1, "text": "t", "lang": None,
                    "source": "s", "n_chars": 1}])
    assert (
        dq_table_checksum(spark, c3).collect()[0]["checksum"]
        != dq_table_checksum(spark, c4).collect()[0]["checksum"]
    )


def test_cli_checksum_and_incremental_manifest(spark, sf_dir, tmp_path, capsys):
    """CLI one-shot == the graded query on documents; the generic path
    refuses float columns without --round and accepts with it; the
    per-shard manifest fold equals the one-shot and replays are no-ops."""
    import json
    import os

    import pandas as pd
    import pytest

    from sentiment_analysis_vector_search_spark.__main__ import main
    from sentiment_analysis_vector_search_spark.operators.dq import (
        dq_table_checksum,
        table_checksum,
    )
    from sentiment_analysis_vector_search_spark.stats import fold_sketch

    def incremental_checksum(man, name, df, batch_id):
        art = fold_sketch("checksum", man, name, df, batch_id=batch_id)
        return {k: art[k] for k in ("table_name", "n_rows", "checksum")}

    base = dq_table_checksum(spark, sf_dir).collect()[0]
    rc = main(["checksum", sf_dir, "--table", "documents"])
    assert rc == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got == {
        "table_name": "documents",
        "n_rows": base["n_rows"],
        "checksum": base["checksum"],
    }

    # generic table: orders has a double column -> refused, then --round
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    with pytest.raises(ValueError, match="float"):
        table_checksum(orders, "orders").collect()
    r1 = table_checksum(orders, "orders", round_doubles=2).collect()[0]
    rc = main(["checksum", os.path.join(sf_dir, "orders.parquet"), "--round", "2"])
    assert rc == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["n_rows"] == r1["n_rows"] and got["checksum"] == r1["checksum"]

    # manifest fold: two shards == one-shot; same batch_id replay no-op
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(da), os.makedirs(db)
    docs.iloc[: len(docs) // 2].to_parquet(
        os.path.join(da, "documents.parquet"), index=False
    )
    docs.iloc[len(docs) // 2:].to_parquet(
        os.path.join(db, "documents.parquet"), index=False
    )
    man = str(tmp_path / "man")
    incremental_checksum(
        man, "documents", spark.read.parquet(da), batch_id=0
    )
    out = incremental_checksum(
        man, "documents", spark.read.parquet(db), batch_id=1
    )
    assert out["n_rows"] == base["n_rows"]
    assert out["checksum"] == base["checksum"]
    replay = incremental_checksum(
        man, "documents", spark.read.parquet(db), batch_id=1
    )
    assert replay == out


def test_checksum_empty_table_and_bounded_record(spark, sf_dir, tmp_path):
    """Zero-row inputs checksum to (0, 0) instead of crashing on the
    NULL modular sum (r11 advice, medium), the empty fold is additive
    identity, the manifest record is the bounded {"max_applied": N}
    form, and legacy list records still replay-guard (r11 advice, low)."""
    import json
    import os

    from sentiment_analysis_vector_search_spark.operators.dq import table_checksum
    from sentiment_analysis_vector_search_spark.stats import fold_sketch

    def incremental_checksum(man, name, df, batch_id):
        art = fold_sketch("checksum", man, name, df, batch_id=batch_id)
        return {k: art[k] for k in ("table_name", "n_rows", "checksum")}

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    empty = docs.where("doc_id < 0")
    row = table_checksum(empty, "documents").collect()[0]
    assert (row["n_rows"], row["checksum"]) == (0, 0)

    man = str(tmp_path / "man")
    base = incremental_checksum(man, "documents", docs, batch_id=0)
    # empty fold: no crash, additive identity
    out = incremental_checksum(man, "documents", empty, batch_id=1)
    assert out == {"table_name": "documents",
                   "n_rows": base["n_rows"], "checksum": base["checksum"]}
    path = os.path.join(man, "documents__checksum.json")
    with open(path) as f:
        rec = json.load(f)["__meta__"]
    assert rec == {"max_applied": 1}
    # any batch id <= max_applied skips (monotone file-source ids)
    replay = incremental_checksum(man, "documents", docs, batch_id=0)
    assert replay["checksum"] == base["checksum"]
    # legacy manifests with the old growing list still guard replays
    with open(path) as f:
        old = json.load(f)
    old["__meta__"] = {"applied_batch_ids": [0, 1]}
    with open(path, "w") as f:
        json.dump(old, f)
    legacy = incremental_checksum(man, "documents", docs, batch_id=1)
    assert legacy["checksum"] == base["checksum"]
