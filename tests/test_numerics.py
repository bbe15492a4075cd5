"""Log-space probability arithmetic vs NumPy logaddexp, and the
fixed-point finishes: each Spark helper agrees with its DuckDB twin, and
only functions/numerics.py writes them out."""

from __future__ import annotations

import math
import pathlib
import re

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F


def test_log_add_exp_matches_numpy(spark):
    from bigdata_infra_cs489_spark.functions.numerics import log_add_exp

    cases = [
        (-1.0, -2.0),
        (-700.0, -700.5),  # exp underflows in linear float64
        (-1e5, -1e5 + 1),
        (float("-inf"), -3.0),
        (-3.0, float("-inf")),
        (float("-inf"), float("-inf")),
        (0.0, 0.0),
    ]
    df = spark.createDataFrame(cases, "a double, b double")
    got = [r["r"] for r in df.select(log_add_exp(F.col("a"), F.col("b")).alias("r")).collect()]
    want = [np.logaddexp(a, b) for a, b in cases]
    for g, w in zip(got, want):
        if math.isinf(w):
            assert math.isinf(g) and g < 0
        else:
            assert g == pytest.approx(w, rel=1e-12)


def test_sum_log_probs_matches_numpy(spark):
    from bigdata_infra_cs489_spark.functions.numerics import sum_log_probs

    rng = np.random.default_rng(7)
    rows = [
        [float(x) for x in rng.uniform(-800, -700, size=8)],
        [float(x) for x in rng.uniform(-5, 0, size=5)],
        [float("-inf")] * 3,
        [-1000.0],
    ]
    df = spark.createDataFrame([(v,) for v in rows], "v array<double>")
    got = [r["r"] for r in df.select(sum_log_probs(F.col("v")).alias("r")).collect()]
    for g, vals in zip(got, rows):
        w = np.logaddexp.reduce(np.array(vals))
        if math.isinf(w):
            assert math.isinf(g) and g < 0
        else:
            assert g == pytest.approx(float(w), rel=1e-12)


def test_underflow_regime_where_linear_space_fails(spark):
    """The motivating case: linear-space float64 rounds e^-800 to 0, the
    log-space aggregate keeps full precision."""
    from bigdata_infra_cs489_spark.functions.numerics import sum_log_probs

    df = spark.createDataFrame([([-800.0, -800.0],)], "v array<double>")
    linear = df.select(
        F.log(
            F.aggregate("v", F.lit(0.0), lambda acc, x: acc + F.exp(x))
        ).alias("r")
    ).collect()[0]["r"]
    stable = df.select(sum_log_probs(F.col("v")).alias("r")).collect()[0]["r"]
    assert linear is None or math.isinf(linear)  # log(0) -> null/-inf: broken
    assert stable == pytest.approx(-800.0 + math.log(2), rel=1e-12)


def test_null_and_empty_edges(spark):
    """NULL operands propagate NULL (least/greatest would otherwise skip
    them and fabricate x + ln 2); an empty array sums to -inf."""
    import math

    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.functions.numerics import (
        log_add_exp,
        sum_log_probs,
    )

    df = spark.range(1)
    null_d = F.lit(None).cast("double")
    r = df.select(
        log_add_exp(F.lit(0.0), null_d).alias("a"),
        log_add_exp(null_d, F.lit(-3.0)).alias("b"),
        sum_log_probs(F.array().cast("array<double>")).alias("c"),
    ).collect()[0]
    assert r["a"] is None and r["b"] is None
    assert math.isinf(r["c"]) and r["c"] < 0


# (num, den) grid for ppm: zero denominators, exact half-ppm ties, and
# counts whose num * 10^6 is near 10^18
_PPM_GRID = [
    (0, 0),
    (7, 0),
    (0, 5),
    (1, 2_000_000),
    (3, 2_000_000),
    (1, 3),
    (2, 3),
    (5, 5),
    (999_999, 1_000_000),
    (10**12, 3),
    (2**40 + 1, 2**41),
    (123_456_789_012, 987_654_321),
]


def _duck_rows(sql_expr: str, rows: list[tuple], ddl: str) -> list:
    """``sql_expr`` evaluated by DuckDB over ``rows``, in row order."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE g ({ddl})")
        con.executemany(f"INSERT INTO g VALUES ({', '.join('?' * len(rows[0]))})", rows)
        res = con.execute(f"SELECT {sql_expr} FROM g ORDER BY i").fetchall()
        return [r[0] for r in res]
    finally:
        con.close()


def test_ppm_matches_duck_twin(spark):
    from bigdata_infra_cs489_spark.functions.numerics import duck_ppm, ppm

    rows = [(i, n, d) for i, (n, d) in enumerate(_PPM_GRID)]
    want = [(n * 1_000_000 + d // 2) // max(d, 1) for n, d in _PPM_GRID]
    got = [
        r[0]
        for r in spark.createDataFrame(rows, "i int, num bigint, den bigint")
        .orderBy("i")
        .select(ppm("num", "den"))
        .collect()
    ]
    duck = _duck_rows(duck_ppm("num", "den"), rows, "i INT, num BIGINT, den BIGINT")
    assert got == want
    assert duck == want
    assert want[3:5] == [1, 2]  # half-ppm ties round up


@pytest.mark.parametrize("scale", [4, 6])
def test_floor_round_matches_duck_twin(spark, scale):
    from bigdata_infra_cs489_spark.functions.numerics import (
        duck_floor_round,
        floor_round,
    )

    tie = 2 * 10**scale  # (2k + 1) / tie sits on a .5-at-scale boundary
    pairs = [(1, tie), (3, tie), (-1, tie), (-5, tie), (12345, tie)]
    pairs += [(-218876, 56 * 10**6), (1, 3), (2, 3), (7, 8), (0, 1)]
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    s = 10**scale
    want = [math.floor(a / b * s + 0.5) / s for a, b in pairs]
    got = [
        r[0]
        for r in spark.createDataFrame(rows, "i int, a bigint, b bigint")
        .orderBy("i")
        .select(floor_round(F.col("a") / F.col("b"), scale))
        .collect()
    ]
    duck = _duck_rows(
        duck_floor_round("a / b", scale), rows, "i INT, a BIGINT, b BIGINT"
    )
    assert got == want
    assert duck == want


_PKG = pathlib.Path(__file__).resolve().parent.parent / "bigdata_infra_cs489_spark"


def test_fixed_point_finish_is_written_once():
    """The ppm and floor-round finishes are spelled out only in
    functions/numerics.py; every operator and oracle site calls it."""
    # (den) div 2) div greatest( / // 2) // greatest(, den nesting <= 2
    den = r"(?:[^()]|\((?:[^()]|\([^()]*\))*\))*?"
    ppm_form = re.compile(
        rf"\* 1000000L? \+ {den} (?:div|//) 2\) (?:div|//) greatest\("
    )
    for sub in ("operators", "streaming", "plans"):
        for f in sorted((_PKG / sub).glob("*.py")):
            flat = f.read_text().replace("\\n", " ")
            flat = re.sub(r"\"\s*\n\s*f?\"", "", flat)  # join literal pieces
            flat = re.sub(r"\s+", " ", flat)
            assert not ppm_form.search(flat), f.name
    catalog = (_PKG / "plans" / "catalog.py").read_text()
    assert "* 1000000 + 0.5) / 1000000" not in catalog
    assert "* 10000 + 0.5) / 10000" not in catalog
