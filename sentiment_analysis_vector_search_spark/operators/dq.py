"""Data-quality expectations: the declarative check suite a lake runs on
every ingest (the Great-Expectations / dbt-test pattern, in-engine).

``dq_expectations`` evaluates a fixed rule set over the warehouse tables
and returns one row per check: (table_name, check_name, metric, bound,
passed). Rule classes covered:

- primary-key uniqueness (orders.o_orderkey; composite lineitem key),
- null fractions on load-bearing columns,
- referential integrity (orders.o_custkey ⊆ customer.c_custkey,
  lineitem.l_orderkey ⊆ orders.o_orderkey) measured as orphan counts,
- domain ranges (price positive, quantity in [1, 50], order dates inside
  the corpus window, discount in [0, 0.1]).

Scale notes: every check is a partial-agg-friendly aggregate or an
anti-join orphan count with the smaller key side broadcast where the
dimension is small; checks against the same table share one scan via a
single multi-aggregate where possible. The report is O(#checks) rows —
the gate artifact a pipeline writes next to each snapshot commit. All
metrics are exact counts/ratios (round 6) — no sampling, no
transcendentals, so the DuckDB oracle hash-matches.

Note: on the synthetic corpus the `lineitem.pk_unique` check FAILS by
design of the data (the generator reuses (l_orderkey, l_linenumber)
pairs — sf0.001: 6000 rows, 4599 distinct keys). The report states it;
a report row with passed=false is the operator doing its job, and the
pytest pins exactly this expected finding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register

_DQ_ORACLE = """
WITH o AS (
  SELECT count(*) AS n, count(DISTINCT o_orderkey) AS dk,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
         sum(CASE WHEN o_orderdate < timestamp '1992-01-01'
                    OR o_orderdate >= timestamp '2002-01-01'
               THEN 1 ELSE 0 END) AS bad_date
  FROM orders
), l AS (
  SELECT count(*) AS n,
         count(DISTINCT l_orderkey * 16 + l_linenumber) AS dk,
         sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
           AS bad_qty,
         sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
           AS bad_disc
  FROM lineitem
), orph_c AS (
  SELECT count(*) AS n FROM orders
  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
), orph_o AS (
  SELECT count(DISTINCT l_orderkey) AS n FROM lineitem
  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
), d AS (
  SELECT count(*) AS n,
         sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
           AS empty_text,
         count(DISTINCT doc_id) AS dk
  FROM documents
)
SELECT * FROM (
  SELECT 'orders' AS table_name, 'pk_unique' AS check_name,
         cast(o.n - o.dk as double) AS metric, 0.0 AS bound,
         o.n = o.dk AS passed FROM o
  UNION ALL
  SELECT 'orders', 'custkey_null_fraction',
         round(o.null_cust * 1.0 / o.n, 6), 0.0, o.null_cust = 0 FROM o
  UNION ALL
  SELECT 'orders', 'totalprice_positive',
         cast(o.bad_price as double), 0.0, o.bad_price = 0 FROM o
  UNION ALL
  SELECT 'orders', 'orderdate_in_window',
         cast(o.bad_date as double), 0.0, o.bad_date = 0 FROM o
  UNION ALL
  SELECT 'orders', 'custkey_referential',
         cast(orph_c.n as double), 0.0, orph_c.n = 0 FROM orph_c
  UNION ALL
  SELECT 'lineitem', 'pk_unique',
         cast(l.n - l.dk as double), 0.0, l.n = l.dk FROM l
  UNION ALL
  SELECT 'lineitem', 'quantity_in_range',
         cast(l.bad_qty as double), 0.0, l.bad_qty = 0 FROM l
  UNION ALL
  SELECT 'lineitem', 'discount_in_range',
         cast(l.bad_disc as double), 0.0, l.bad_disc = 0 FROM l
  UNION ALL
  SELECT 'lineitem', 'orderkey_referential',
         cast(orph_o.n as double), 0.0, orph_o.n = 0 FROM orph_o
  UNION ALL
  SELECT 'documents', 'doc_id_unique',
         cast(d.n - d.dk as double), 0.0, d.n = d.dk FROM d
  UNION ALL
  SELECT 'documents', 'empty_text_fraction',
         round(d.empty_text * 1.0 / d.n, 6), 0.05,
         d.empty_text * 1.0 / d.n <= 0.05 FROM d
)
"""


def _row(table_name: str, check: str, metric, bound: float, passed) -> F.Column:
    return F.struct(
        F.lit(table_name).alias("table_name"),
        F.lit(check).alias("check_name"),
        metric.cast("double").alias("metric"),
        F.lit(bound).cast("double").alias("bound"),
        passed.alias("passed"),
    )


@register("dq_expectations", oracle=_DQ_ORACLE)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    customer = table(spark, sf_dir, "customer")
    documents = table(spark, sf_dir, "documents")

    # one scan per table: all same-table metrics in one multi-aggregate
    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("dk"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("null_cust"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("bad_price"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2002-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("bad_date"),
    )
    li = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(
            F.col("l_orderkey") * 16 + F.col("l_linenumber")
        ).alias("dk"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)
        ).alias("bad_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0)
        ).alias("bad_disc"),
    )
    # referential orphans: anti-join with the key side broadcast when it is
    # the dimension (customer); fact-fact (lineitem vs orders) stays keyed.
    orph_c = orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n"))
    orph_o = (
        lineitem.select("l_orderkey")
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.countDistinct("l_orderkey").alias("n"))
    )
    d = documents.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("text").isNull() | (F.col("text") == ""), 1).otherwise(0)
        ).alias("empty_text"),
        F.countDistinct("doc_id").alias("dk"),
    )

    checks_o = o.select(
        F.explode(
            F.array(
                _row("orders", "pk_unique", F.col("n") - F.col("dk"), 0.0, F.col("n") == F.col("dk")),
                _row("orders", "custkey_null_fraction", F.round(F.col("null_cust") * F.lit(1.0) / F.col("n"), 6), 0.0, F.col("null_cust") == 0),
                _row("orders", "totalprice_positive", F.col("bad_price"), 0.0, F.col("bad_price") == 0),
                _row("orders", "orderdate_in_window", F.col("bad_date"), 0.0, F.col("bad_date") == 0),
            )
        ).alias("c")
    )
    checks_l = li.select(
        F.explode(
            F.array(
                _row("lineitem", "pk_unique", F.col("n") - F.col("dk"), 0.0, F.col("n") == F.col("dk")),
                _row("lineitem", "quantity_in_range", F.col("bad_qty"), 0.0, F.col("bad_qty") == 0),
                _row("lineitem", "discount_in_range", F.col("bad_disc"), 0.0, F.col("bad_disc") == 0),
            )
        ).alias("c")
    )
    checks_rc = orph_c.select(
        _row("orders", "custkey_referential", F.col("n"), 0.0, F.col("n") == 0).alias("c")
    )
    checks_ro = orph_o.select(
        _row("lineitem", "orderkey_referential", F.col("n"), 0.0, F.col("n") == 0).alias("c")
    )
    checks_d = d.select(
        F.explode(
            F.array(
                _row("documents", "doc_id_unique", F.col("n") - F.col("dk"), 0.0, F.col("n") == F.col("dk")),
                _row(
                    "documents",
                    "empty_text_fraction",
                    F.round(F.col("empty_text") * F.lit(1.0) / F.col("n"), 6),
                    0.05,
                    F.col("empty_text") * F.lit(1.0) / F.col("n") <= 0.05,
                ),
            )
        ).alias("c")
    )
    out = checks_o
    for part in (checks_l, checks_rc, checks_ro, checks_d):
        out = out.unionByName(part)
    return out.select("c.*")


# ---------------------------------------------------------------------------
# dq_table_checksum — order-insensitive, partitioning-insensitive table
# checksum: the migration-validation primitive (exactly what a user
# switching engines runs on both sides to prove the tables carry the
# same rows). Each row canonicalizes to a separator-joined string of
# its columns, hashes through the engine-portable md5_long, and the
# digest is the modular SUM of row hashes — commutative, so ANY
# partitioning/ordering/retry produces the identical value, and
# mergeable (shard checksums add mod 2^60).
#
# Scale shape: one scan, one partial-agg-combinable sum — the cheapest
# possible full-table pass. The sum rides decimal(38,0) (60-bit row
# hashes overflow int64 after ~16 rows; decimal38 holds to ~1e20 rows)
# and reduces mod 2^60 at the end. Only exactly-castable column types
# join the canonical string (bigint/string here); doubles would need a
# canonical formatting contract first.
# ---------------------------------------------------------------------------

_CHK_MOD = 1 << 60

# Canonical row encoding v1 (r10 advice, low — the old encoding was
# lossy: text coalesced NULL to '' so NULL-text and empty-text rows
# hashed identically, and a \x1f inside any value aliased the field
# separator). v1 is injective over the supported domain:
#   int-ish  -> decimal string, NULL -> chr(30)
#   string   -> length-prefixed "len:value", NULL -> chr(30)
# Length prefixes make the fields self-delimiting, so a separator or
# sentinel CHARACTER inside a value cannot alias the encoding (the
# 1-char string "\x1e" encodes as "1:\x1e" != the NULL sentinel), and
# chr(31) between fields is purely cosmetic. Both engines count length
# in code points. Two tables share a checksum iff their row multisets
# are identical under this encoding.


def chk_field_sql(name: str, kind: str) -> str:
    """One field's canonical-encoding SQL — parses on BOTH engines."""
    if kind == "int":
        return f"coalesce(cast({name} as varchar(64)), chr(30))"
    if kind == "string":
        return (
            f"CASE WHEN {name} IS NULL THEN chr(30) "
            f"ELSE cast(length({name}) as varchar(64)) || ':' || {name} END"
        )
    raise ValueError(f"unsupported checksum field kind: {kind}")


def chk_canon_sql(fields: list[tuple[str, str]]) -> str:
    parts = ", ".join(chk_field_sql(n, k) for n, k in fields)
    return f"concat_ws(chr(31), {parts})"


_DOC_CHK_FIELDS: list[tuple[str, str]] = [
    ("doc_id", "int"),
    ("text", "string"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "int"),
]


def _chk_oracle() -> str:
    from ..functions.hashing import sql_md5_long

    canon = chk_canon_sql(_DOC_CHK_FIELDS)
    return f"""
SELECT 'documents' AS table_name,
       count(*) AS n_rows,
       cast(coalesce(sum({sql_md5_long(f"'chk:' || {canon}")}) % {_CHK_MOD}, 0)
         as bigint) AS checksum
FROM documents
"""


def checksum_agg(df: DataFrame, fields: list[tuple[str, str]]) -> DataFrame:
    """(n_rows, checksum) over a DataFrame: modular decimal(38,0) sum of
    per-row md5 digests of the v1 canonical encoding — commutative and
    mergeable (shard checksums add mod 2^60), so any partitioning,
    ordering, or retry produces the identical value. Shared by the
    graded query, the CLI ``checksum`` verb, and the ``"checksum"``
    manifest sketch (``stats.SKETCHES``)."""
    from ..functions.hashing import md5_long

    canon = F.expr(chk_canon_sql(fields))
    digest = md5_long(F.concat(F.lit("chk:"), canon))
    # coalesce: sum() over ZERO rows is NULL (both engines), so an empty
    # table/batch must checksum to 0, not crash the int() of the
    # manifest fold or the CLI one-shot. The empty multiset's digest is
    # the additive identity — folding an empty shard is a no-op by
    # construction.
    return df.select(digest.alias("d")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            f"cast(coalesce(sum(cast(d as decimal(38,0))) % {_CHK_MOD}, 0)"
            " as bigint)"
        ).alias("checksum"),
    )


def checksum_fields_for(df: DataFrame, round_doubles: int | None = None
                        ) -> tuple[DataFrame, list[tuple[str, str]]]:
    """Map an arbitrary DataFrame onto the v1 encoding: integral /
    boolean / date columns encode as int-ish (their casts are exact and
    engine-stable), strings length-prefix, timestamps become exact epoch
    micros, and doubles are REFUSED unless ``round_doubles`` opts into a
    documented lossy 6-dp-style quantization (a float's shortest repr is
    not formatted identically across engines, so exactness would be a
    false promise). Returns the projected df + field spec."""
    from pyspark.sql import types as T

    cols: list = []
    fields: list[tuple[str, str]] = []
    for f in df.schema.fields:
        if isinstance(
            f.dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.BooleanType, T.DateType, T.DecimalType),
        ):
            cols.append(F.col(f.name).cast("string").alias(f.name))
            fields.append((f.name, "int"))
        elif isinstance(f.dataType, T.StringType):
            cols.append(F.col(f.name))
            fields.append((f.name, "string"))
        elif isinstance(f.dataType, T.TimestampType):
            cols.append(F.unix_micros(F.col(f.name)).alias(f.name))
            fields.append((f.name, "int"))
        elif isinstance(f.dataType, T.TimestampNTZType):
            # NTZ renders timezone-independently; the ISO string has no
            # separator characters, so int-kind encoding is safe
            cols.append(F.col(f.name).cast("string").alias(f.name))
            fields.append((f.name, "int"))
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            if round_doubles is None:
                raise ValueError(
                    f"column {f.name} is {f.dataType.simpleString()}: float "
                    "formatting is not engine-portable — pass --round N for "
                    "a documented lossy quantization, or project it away"
                )
            cols.append(
                F.round(F.col(f.name), round_doubles)
                .cast(f"decimal(38,{round_doubles})")
                .cast("string")
                .alias(f.name)
            )
            fields.append((f.name, "string"))
        else:
            raise ValueError(
                f"column {f.name}: no canonical encoding for "
                f"{f.dataType.simpleString()} — project it away first"
            )
    return df.select(*cols), fields


def table_checksum(
    df: DataFrame, table_name: str, round_doubles: int | None = None
) -> DataFrame:
    """Checksum ANY supported table/DataFrame (the CLI ``checksum`` verb
    and the migration-validation entry point)."""
    proj, fields = checksum_fields_for(df, round_doubles)
    return checksum_agg(proj, fields).select(
        F.lit(table_name).alias("table_name"), "n_rows", "checksum"
    )


@register("dq_table_checksum", oracle=_chk_oracle())
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/partitioning-insensitive documents-table checksum: modular
    sum of per-row md5 digests of the injective v1 canonical encoding —
    equal across engines iff the tables hold identical row multisets."""
    docs = table(spark, sf_dir, "documents")
    return checksum_agg(docs, _DOC_CHK_FIELDS).select(
        F.lit("documents").alias("table_name"), "n_rows", "checksum"
    )
