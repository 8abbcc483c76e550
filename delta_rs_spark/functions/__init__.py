"""Reusable JVM-side expression helpers.

The reference has no scalar-function surface of its own (SURVEY.md §2.F:
delegated entirely to embedding engines); this package holds the exact
decimal-sum helpers the certified relational queries are written with.
Everything here stays inside Catalyst — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["sum_dec", "sum_dec_sql"]


def sum_dec(col, alias: str, scale: int = 6) -> Column:
    """Order-insensitive double sum: quantize to DECIMAL(25,scale), sum
    exactly, cast back — bit-identical across partitionings and engines.

    The quantization contract is ``CAST(x AS DECIMAL(25,scale))``, i.e.
    HALF_UP on the shortest decimal representation of the double
    (``BigDecimal.valueOf``). The direct cast pays a per-row
    Double.toString + BigDecimal parse; the hot path here computes the
    same unscaled long as ``floor(x*10^s + 0.5)`` in pure double codegen
    and routes through the exact cast only when the two could disagree:

    - the rounded value sits inside a guard band around a half boundary
      (|y - D*10^s| <= 1.5 ulp(y) for D = shortest-repr(x), so a band of
      max(1e-9, |y|*1e-12) is ~1000x wider than any possible divergence);
    - non-finite / NULL inputs (cast yields NULL; floor would not);
    - |y| > 1e15: keeps the unscaled long exact in double space AND
      keeps the long->decimal re-scale overflow-free.

    The per-row addend stays DECIMAL(25,scale) and the sum stays decimal
    (never a raw long sum: unscaled longs overflow int64 at large scale
    factors; the decimal(35,scale) sum buffer does not), so output values
    and dtypes are bit-identical to the direct-cast form.
    """
    p10 = 10**scale
    y = col * F.lit(float(p10))
    frac = y - F.floor(y)
    band = F.greatest(F.lit(1e-9), F.abs(y) * F.lit(1e-12))
    ambiguous = (
        col.isNull()
        | F.isnan(col)
        | (F.abs(y) > F.lit(1e15))
        | (F.abs(frac - F.lit(0.5)) < band)
    )
    fast_u = F.floor(y + F.lit(0.5))
    if scale > 0:
        # 10^-scale as an exact decimal literal: unscaled 1 at the target
        # scale; the multiply re-scales the long without a string parse.
        # |fast_u| <= 1e15 (the ambiguous bound), so neither the
        # decimal(19,0) nor the final precision-25 cast can overflow.
        tiny = F.expr(f"CAST(0.{'0' * (scale - 1)}1 AS DECIMAL({scale},{scale}))")
        fast_q = (fast_u.cast("decimal(19,0)") * tiny).cast(f"decimal(25,{scale})")
    else:
        fast_q = fast_u.cast("decimal(25,0)")
    # ambiguous rows take the direct cast verbatim — including its NULL on
    # non-finite input and on |x| >= 10^(25-scale) overflow
    quant = F.when(ambiguous, col.cast(f"decimal(25,{scale})")).otherwise(fast_q)
    return F.sum(quant).cast("double").alias(alias)


def sum_dec_sql(expr: str, alias: str, scale: int = 6) -> str:
    """SQL-text twin of :func:`sum_dec` for single-statement query builders.

    Produces the SAME expression tree as ``sum_dec`` (pinned by
    ``tests/test_functions.py`` against the analyzed plan of the Column
    form), but as one SQL string: a query assembled as a single
    ``spark.sql(...)`` call pays ONE parse+analysis instead of one Catalyst
    analysis per chained DataFrame call — measured ~10x cheaper DataFrame
    construction for the headline relational queries. ``expr`` is the SQL
    text of the input expression; write literal arithmetic in the Column
    form's rendered order (e.g. ``l_tax + 1``, not ``1 + l_tax``) when
    plan-text parity matters.
    """
    p10 = float(10**scale)
    # (expr) is wrapped everywhere it feeds arithmetic: an additive input
    # like 'a + b' would otherwise render '(a + b * p10)' and silently bind
    # as a + (b*p10) (ADVICE r11). Redundant parens are dropped by the
    # parser, so the analyzed tree — and plan-text parity with the Column
    # form — is unchanged for existing call sites.
    y = f"(({expr}) * {p10})"
    frac = f"({y} - FLOOR({y}))"
    band = f"greatest(1.0E-9, abs({y}) * 1.0E-12)"
    ambiguous = (
        f"((({expr}) IS NULL OR isnan({expr}))"
        f" OR abs({y}) > 1.0E15"
        f" OR abs({frac} - 0.5) < {band})"
    )
    if scale > 0:
        tiny = "0." + "0" * (scale - 1) + "1"
        fast = (
            f"CAST(CAST(FLOOR({y} + 0.5) AS DECIMAL(19,0))"
            f" * CAST({tiny} AS DECIMAL({scale},{scale}))"
            f" AS DECIMAL(25,{scale}))"
        )
    else:
        fast = f"CAST(FLOOR({y} + 0.5) AS DECIMAL(25,0))"
    quant = (
        f"CASE WHEN {ambiguous} THEN CAST({expr} AS DECIMAL(25,{scale}))"
        f" ELSE {fast} END"
    )
    return f"CAST(SUM({quant}) AS DOUBLE) AS {alias}"
