"""Numerically stable, engine-portable aggregate helpers.

Double-precision sums are order-dependent; a Spark partial-agg tree and a
single-threaded oracle will disagree in the low bits. We therefore aggregate
through exact decimals: cast each addend to DECIMAL(30,10) (deterministic
per-row rounding), sum exactly, and cast the final value back to double.
Both engines then produce bit-identical results regardless of partitioning —
exactly what you need at 1000 executors where addition order is arbitrary.

Engine-parity subtlety (the reason for the varchar bridges in the SQL
forms): Spark's double→decimal cast goes through the SHORTEST DECIMAL REPR
(BigDecimal.valueOf) and rounds HALF_UP at the target scale, and its
decimal→double cast is correctly rounded. DuckDB's native casts do neither:
double→decimal TRUNCATES the binary expansion (570959.82 →
570959.8199999999) and decimal→double double-rounds via int128→double→÷10^s
(1 ULP off once |sum|·10^10 exceeds 2^53). Routing both casts through
varchar reproduces Spark exactly: double→varchar is shortest-repr,
varchar→decimal rounds half-away-from-zero at scale (= Java HALF_UP), and
varchar→double is a correctly-rounded parse.

The bridges say ``varchar(64)`` (not bare ``varchar``) so the same string
parses on BOTH engines: Spark rejects unsized VARCHAR
([DATATYPE_MISSING_SIZE]) but accepts varchar(n) and treats it as plain
string in casts; DuckDB ignores the length. 64 chars covers any
decimal(30,10) repr. This matters for q_sql_text_api, where one shared SQL
string is executed by spark.sql() AND the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30,10)"

# ---------------------------------------------------------------------------
# stable_ln — engine-invariant natural log (r10 verdict #1).
#
# Engine-native ln is NOT correctly rounded: Spark's F.log is Java
# Math.log (<=1 ulp), DuckDB's ln() is the host libm — they can disagree
# in the last ulp, and a last-ulp disagreement at a 6-dp rounding
# boundary (or a rank tie) flips a hashed cell on hosts whose libm/JIT
# differ. That is exactly how sample_weighted failed the r10 driver
# grade while hash-matching in two other environments.
#
# The fix: compute ln ourselves from operations that ARE correctly
# rounded by IEEE 754 (+ - * / on doubles) plus EXACT integer steps, as
# one fixed expression DAG emitted to both engines. Identical inputs
# through identical correctly-rounded operations give bit-identical
# doubles on every engine and host — engine-invariance by construction,
# at any data scale.
#
#   ln(a / 2^d), integer 1 <= a < 2^52:
#     e  = bitlen(a) - 1          (length(bin(a)) - 1 — exact, both engines)
#     p  = 1 << e                 (exact bigint)
#     z  = (a - p) / (a + p)      (exact ints -> one rounded divide; |z| < 1/3)
#     atanh series, Horner over z^2 with literal coefficients 1/(2j+1):
#     s  = c19; s = s*z2 + c18; ...; s = s*z2 + 1
#     ln = (e - d)*LN2 + (2*z)*s
#
# 20 terms put the truncation error (~(1/9)^20) far below double
# roundoff; accuracy is within ~2 ulp of true ln (pytest-pinned against
# decimal.Decimal.ln at 50 digits), and bit-identical Spark vs DuckDB vs
# the pure-Python reference (pytest, 5k+ values). The emitted text uses
# only syntax both engines parse (bin, length, <<, casts, arithmetic),
# so ONE generated string serves Spark (via F.expr / spark.sql) and the
# DuckDB oracle. Keep the argument a SIMPLE column reference or short
# integer expression — stage complex arguments into a named column
# first, the text inlines the argument many times.
# ---------------------------------------------------------------------------

LN2 = 0.6931471805599453  # shortest repr of the binary64 nearest ln 2
_LN_K = 20
_LN_COEF = [1.0 / (2 * j + 1) for j in range(_LN_K)]


def sql_stable_ln(a: str, d: int = 0) -> str:
    """ln((a) / 2^d) for an integer expression ``1 <= a < 2^52`` as a
    fixed IEEE-op DAG whose text parses identically on Spark and DuckDB.

    For a rational argument p/q use ``sql_stable_ln(p) -
    sql_stable_ln(q)`` (both engines then compute fl(ln_p - ln_q) on
    bit-identical operands). ``d`` folds a power-of-two denominator into
    the range reduction: ln(a / 2^d)."""
    e = f"(length(bin(cast({a} as bigint))) - 1)"
    p = f"(cast(1 as bigint) << {e})"
    z = (
        f"(cast(cast({a} as bigint) - {p} as double)"
        f" / cast(cast({a} as bigint) + {p} as double))"
    )
    z2 = f"({z} * {z})"
    s = repr(_LN_COEF[_LN_K - 1])
    for j in range(_LN_K - 2, -1, -1):
        s = f"({s} * {z2} + {_LN_COEF[j]!r})"
    return f"(cast({e} - {d} as double) * {LN2!r} + (2.0 * {z}) * {s})"


def stable_ln(a: str, d: int = 0) -> Column:
    """Spark Column form of :func:`sql_stable_ln` (same generated text)."""
    return F.expr(sql_stable_ln(a, d))


# ---------------------------------------------------------------------------
# Staged emission (r11 verdict #2). sql_stable_ln inlines its argument
# into every Horner term — 8,440 chars for a simple column argument —
# and that TEXT size is pure Catalyst parse/analysis cost: the driver
# bench showed bm25_retrieve 0.75s -> 4.4s (x6) and tok_bigram_pmi x2.3
# once their scoring expressions carried two-to-five inlined calls.
# Oversized exprs also risk codegen falling back to interpreted eval
# (JVM 64KB method limit) — a per-row hazard on fact-grain columns.
#
# stable_ln_stages emits the IDENTICAL op DAG as three short named
# intermediate columns (e, z, z2 — each computed once) plus a final
# Horner over the short names (~1 KB total instead of ~8.4 KB per call).
# Naming an intermediate does not change its IEEE value, so staged and
# inline forms are bit-identical (pytest-pinned in test_stable_ln.py);
# oracles can keep the inline sql_stable_ln text (DuckDB parse cost is
# irrelevant) while Spark plans use the staged columns. Spark >= 3.3's
# CollapseProject refuses to inline a non-cheap alias referenced more
# than once (SPARK-36718), so the staging survives optimization: z2
# feeds 20 Horner terms but is evaluated once per row.
# ---------------------------------------------------------------------------


def stable_ln_stages(
    a: str, d: int = 0, prefix: str = "_sln"
) -> tuple[list[tuple[str, str]], str]:
    """Staged twin of :func:`sql_stable_ln`: returns
    ``([(col_name, expr_text), ...], final_expr_text)`` where the final
    text references only the short stage names. Same op sequence, same
    bits; ~8x smaller generated text."""
    e, z, z2 = f"{prefix}_e", f"{prefix}_z", f"{prefix}_z2"
    p = f"(cast(1 as bigint) << {e})"
    stages = [
        (e, f"(length(bin(cast({a} as bigint))) - 1)"),
        (
            z,
            f"(cast(cast({a} as bigint) - {p} as double)"
            f" / cast(cast({a} as bigint) + {p} as double))",
        ),
        (z2, f"({z} * {z})"),
    ]
    s = repr(_LN_COEF[_LN_K - 1])
    for j in range(_LN_K - 2, -1, -1):
        s = f"({s} * {z2} + {_LN_COEF[j]!r})"
    final = f"(cast({e} - {d} as double) * {LN2!r} + (2.0 * {z}) * {s})"
    return stages, final


def with_stable_ln(df, a: str, out: str, d: int = 0):
    """Append column ``out`` = stable_ln(a, d) to ``df`` via staged
    intermediates (named after ``out`` so multiple calls on one relation
    never collide), dropping the intermediates afterwards. Bit-identical
    to ``F.expr(sql_stable_ln(a, d))`` — see module note above."""
    stages, final = stable_ln_stages(a, d, prefix=f"_{out}")
    for name, text in stages:
        df = df.withColumn(name, F.expr(text))
    return df.withColumn(out, F.expr(final)).drop(*[n for n, _ in stages])


def py_stable_ln(a: int, d: int = 0) -> float:
    """Pure-Python reference: the identical operation sequence in host
    IEEE doubles. Tests pin Spark == DuckDB == this, bit for bit."""
    e = a.bit_length() - 1
    p = 1 << e
    z = float(a - p) / float(a + p)
    z2 = z * z
    s = _LN_COEF[_LN_K - 1]
    for j in range(_LN_K - 2, -1, -1):
        s = s * z2 + _LN_COEF[j]
    return float(e - d) * LN2 + (2.0 * z) * s


def dsum(col: Column) -> Column:
    """Order-independent sum of a double expression."""
    return F.sum(col.cast(DEC)).cast("double")


def spark_dsum_sql(expr: str) -> str:
    """``dsum`` of a Spark SQL expression, as Spark SQL text for
    ``F.expr`` (the Spark dialect; ``sql_dsum`` below is the DuckDB
    oracle's)."""
    return f"cast(sum(cast({expr} as {DEC})) as double)"


def davg(col: Column) -> Column:
    """Order-independent mean: exact decimal sum, then one double division."""
    return F.round(dsum(col) / F.count(F.lit(1)), 6)


def sql_vardec(expr: str) -> str:
    """DuckDB double→DECIMAL(30,10) with Spark's rounding semantics."""
    return f"cast(cast(({expr}) as varchar(64)) as {DEC})"


def sql_dec2double(expr: str) -> str:
    """DuckDB decimal→double, correctly rounded like Spark's cast."""
    return f"cast(cast(({expr}) as varchar(64)) as double)"


def sql_dsum(expr: str, alias: str) -> str:
    return f"{sql_dec2double(f'sum({sql_vardec(expr)})')} as {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"round({sql_dec2double(f'sum({sql_vardec(expr)})')} / count(*), 6)"
        f" as {alias}"
    )
