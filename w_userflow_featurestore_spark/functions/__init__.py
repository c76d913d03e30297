"""Column-level building blocks shared by all operators.

Everything here returns Catalyst ``Column`` expressions built purely from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen friendly. The
reference uses the same handful of idioms inline everywhere (guarded
ratios, when-chains, round placement); centralizing them keeps the quirky
semantics (SURVEY.md §7.4) in exactly one place. ``sql_ident`` and
``sql_str`` quote caller strings for the SQL fragments that
expression helpers across the operators take.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier; an embedded backtick
    is doubled, so no column name can end the quoting early."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value) -> str:
    """``str(value)`` as a single-quoted Spark SQL string literal. The
    parser reads backslash escapes, so ``\\`` and ``'`` are both
    backslash-escaped: the parsed literal is exactly the caller's text."""
    text = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{text}'"


def bp(num: str, den: str) -> Column:
    """floor(num * 10000 / den) as BIGINT: exact basis points of two SQL
    fragments, the product in DECIMAL(38,0) so it cannot wrap."""
    return F.expr(f"CAST((CAST({num} AS DECIMAL(38,0)) * 10000)"
                  f" DIV ({den}) AS BIGINT)")


def whole_bits(num: str, den: str) -> Column:
    """floor(log2(num / den)) as INT for positive SQL fragments with
    ``num >= den``, and 0 when ``num < den``: the bit length of
    ``num DIV den`` minus one. Exact integer arithmetic (the binary
    string's length, never a floating-point log whose last ulp differs
    between engines); a DECIMAL(38,0) quotient must fit a BIGINT."""
    return F.expr(f"length(bin(CAST(({num}) DIV ({den}) AS BIGINT))) - 1")


def fround(col: Column, scale: int = 2) -> Column:
    """Deterministic cross-engine rounding: floor(x*10^s + 0.5)/10^s.

    Built from IEEE-exact primitives (multiply, add, floor) that Spark and
    DuckDB implement identically, unlike native round() — Spark rounds the
    shortest-decimal representation (HALF_UP via BigDecimal) while DuckDB
    rounds the binary value, so round(36167.215, 2) differs between them.
    Semantics: round-half-toward-+inf.
    """
    p = float(10 ** scale)
    return F.floor(col * p + F.lit(0.5)) / p


def scaled_long(col: Column, scale: int = 2) -> Column:
    """Fixed-decimal value -> exact integer: floor(x*10^s + 0.5) as BIGINT.
    Turns 2-decimal doubles into cents so sums are EXACT integers —
    immune to floating-point summation-order differences between Spark's
    partial aggregation and any single-threaded oracle."""
    p = float(10 ** scale)
    return F.floor(col * p + F.lit(0.5)).cast("long")


def exact_sum(col: Column, scale: int = 2, out_scale: int = 2) -> Column:
    """Order-independent sum of fixed-decimal data via integer scaling."""
    p = float(10 ** scale)
    return fround(F.sum(scaled_long(col, scale)) / p, out_scale)


def exact_avg(col: Column, scale: int = 2, out_scale: int = 2) -> Column:
    """Order-independent average of fixed-decimal data; NULL on empty input
    (matching avg() semantics). Division sequence (sum/10^s)/n is mirrored
    verbatim in the DuckDB oracle SQL."""
    p = float(10 ** scale)
    n = F.count(col)
    return F.when(n > 0, fround(F.sum(scaled_long(col, scale)) / p / n, out_scale))


def safe_div(num: Column, den: Column, default=None) -> Column:
    """Division guarded by ``when(den > 0)`` — the reference's ubiquitous
    guard pattern (e.g. reference gold_country_daily_metrics.py:74-76).
    NULL (or ``default``) when the denominator is not positive."""
    out = F.when(den > 0, num / den)
    if default is not None:
        out = out.otherwise(F.lit(default))
    return out


def rate(num: Column, den: Column, scale: int = 2) -> Column:
    """round(num/den, scale) with the zero-denominator guard — matches the
    reference's rate/ratio derivations (gold_user_daily_metrics.py:64-67)."""
    return fround(safe_div(num, den), scale)


def presence_flag(event_type: Column, value: str) -> Column:
    """0/1 'seen X' flag aggregand: max(when(type==X,1).otherwise(0)) —
    reference silver_user_session_events.py:119-122 (seen_enter etc.)."""
    return F.max(F.when(event_type == value, 1).otherwise(0))


def bucket_count(col: Column, lo: float, hi: float | None) -> Column:
    """Conditional histogram bucket: sum(when(lo <= col < hi, 1)).
    ``hi=None`` means the closed last bucket (>= lo) — the reference's
    5-bucket scroll histogram keeps its last bucket closed
    (gold_webtoon_episode_daily_metrics.py:78-82)."""
    cond = col >= lo if hi is None else (col >= lo) & (col < hi)
    return F.coalesce(F.sum(F.when(cond, 1)), F.lit(0))


def epoch_ms(ts: Column) -> Column:
    """Milliseconds since epoch as BIGINT. Used instead of unix_timestamp
    (seconds) so Spark and the DuckDB oracle (epoch_ms) agree exactly on
    sub-second timestamps."""
    return F.unix_millis(ts)


def clamp_nonneg(col: Column) -> Column:
    """greatest(col, 0) — the reference clamps negative intervals/counts
    (gold_user_daily_metrics.py:74,90)."""
    return F.greatest(col, F.lit(0))


def count_distinct_when(cond: Column, col: Column) -> Column:
    """Conditional distinct count: countDistinct(when(cond, col)) — NULLs
    (rows failing cond) are excluded from the distinct set, matching
    DuckDB's COUNT(DISTINCT CASE WHEN ... END)
    (reference gold_webtoon_daily_metrics.py:60-62)."""
    return F.count_distinct(F.when(cond, col))
