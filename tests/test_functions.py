"""Tests for the public expression helpers (delta_rs_spark.functions)."""

import pytest
from pyspark.sql import functions as F

from delta_rs_spark import functions as dfn


def test_sum_dec_matches_exact(spark):
    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], "x DOUBLE")
    r = df.agg(dfn.sum_dec(F.col("x"), "s")).collect()[0]
    assert r.s == pytest.approx(0.6, abs=1e-9)


def test_sum_dec_equals_direct_decimal_cast_adversarially(spark):
    """sum_dec's fast long-space quantization must be bit-identical to the
    contract form CAST(SUM(CAST(x AS DECIMAL(25,s))) AS DOUBLE) — including
    exact halves (positive and negative), float-half traps (2.675, 1.005),
    NaN/Inf/NULL (cast yields NULL), and values past the 1e15 fast-path
    ceiling. Values overflowing DECIMAL(25,s) itself THROW under the
    session's ANSI mode in both forms (ambiguous rows run the verbatim
    direct cast), so they stay below 10^(25-6) here."""
    import random

    random.seed(7)
    vals = [round(k + 0.005, 6) for k in range(-40, 40)]
    vals += [k + 0.0000005 for k in range(-40, 40)]
    vals += [k / 7.0 for k in range(-500, 500)]
    vals += [random.uniform(-1e6, 1e6) for _ in range(5000)]
    vals += [random.uniform(-1e16, 1e16) for _ in range(1000)]
    vals += [random.uniform(-9e18, 9e18) for _ in range(200)]
    vals += [float("nan"), float("inf"), float("-inf"), None, 0.0, -0.0]
    vals += [2.675, -2.675, 1.005, -1.005, 0.125, -0.125]
    df = spark.createDataFrame([(v,) for v in vals], "x DOUBLE")
    for scale in (0, 2, 6):
        ref = df.agg(
            F.sum(F.col("x").cast(f"decimal(25,{scale})")).cast("double").alias("v")
        ).collect()[0]["v"]
        got = df.agg(dfn.sum_dec(F.col("x"), "v", scale)).collect()[0]["v"]
        assert got == ref, f"scale={scale}: {got!r} != {ref!r}"


def test_sum_dec_sql_lockstep_with_column_form(spark):
    """sum_dec_sql (the single-statement SQL twin used by the headline
    builders) must produce the SAME analyzed expression as the Column form —
    pinned on the optimized-plan text so the two can never drift apart
    silently. Checked for a bare column and a composite arithmetic input at
    every scale the catalog uses."""
    df = spark.createDataFrame([(1.5, 0.1)], "x DOUBLE, y DOUBLE")

    def optimized(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    import re

    def norm(t):
        return re.sub(r"#\d+", "#X", t)

    for expr_sql, col in [
        ("x", F.col("x")),
        ("x * (1 - y)", F.col("x") * (1 - F.col("y"))),
        # additive input: covers the precedence class where an
        # unparenthesized interpolation would bind as x + (y * 10^s)
        # (ADVICE r11) — the lockstep pin now fails if the wrap regresses
        ("x + y", F.col("x") + F.col("y")),
    ]:
        for scale in (0, 2, 6):
            a = df.agg(dfn.sum_dec(col, "v", scale))
            b = df.agg(F.expr(dfn.sum_dec_sql(expr_sql, "v", scale)))
            assert norm(optimized(a)) == norm(optimized(b)), (expr_sql, scale)


def test_avro_truncated_container_raises():
    import io

    from delta_rs_spark.uniform import avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "path", "type": "string"},
                   {"name": "n", "type": "long"}],
    }
    buf = io.BytesIO()
    avro.write_datum(buf, schema, {"path": "some/file.parquet", "n": 7})
    good = buf.getvalue()
    assert avro.read_datum(io.BytesIO(good), schema)["path"] == "some/file.parquet"
    for cut in (1, 5, len(good) - 1):
        with pytest.raises(EOFError):
            avro.read_datum(io.BytesIO(good[:cut]), schema)
