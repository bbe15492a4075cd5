"""Cross-engine numerics: log-space probability arithmetic and the
fixed-point finishes both engines share.

Log space (SURVEY A7/F7). The reference stores PageRank mass as float32
log-probabilities and sums them with ``sumLogProbs(a,b) = max +
log1p(exp(min-max))`` (RunPersonalizedPageRankBasic.java:617-629) because
float32 linear space underflows on tiny masses. The rebuild's default is
linear-space float64 (operators/graph.py; ~15 significant digits make
underflow unreachable at realistic graph scales, verified against the
NumPy oracle). ``log_add_exp`` / ``sum_log_probs`` exist for the regime
where that stops holding — probabilities below ~1e-300, e.g. products of
millions of per-token likelihoods — and for parity with the reference's
operator inventory. The aggregate uses the max-shift trick so partial
results never leave log space.

Fixed-point finishes. Every registered query is hash-checked against a
DuckDB oracle, which holds only if both engines finish ratios the same
way: round half up, in the same IEEE-754 operations, with a guarded
denominator. This module is the one owner of that rule, the Spark column
and its DuckDB SQL twin side by side (as functions/hashing.py does for
the stable hash):

- ``floor_round`` / ``duck_floor_round``: a double ratio at fixed scale,
  ``floor(x * 10^scale + 0.5) / 10^scale``;
- ``ppm`` / ``duck_ppm``: an exact integer ratio in parts per million,
  rounded integer division with no float step,
  ``(num * 10^6 + den div 2) div greatest(den, 1)``.

All are built-in column expressions (codegen'd, no Python in the hot
path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NEG_INF = float("-inf")  # log(0): the reference's initial mass for non-sources


def log_add_exp(a: Column, b: Column) -> Column:
    """log(e^a + e^b), stable for very negative a/b — the reference's
    sumLogProbs. Handles the -inf identity (log 0 + x = x) explicitly,
    since exp(-inf - -inf) would be NaN. NULL operands propagate NULL:
    least/greatest SKIP nulls, so without the explicit guard a NULL next
    to x would fabricate x + log(2)."""
    lo, hi = F.least(a, b), F.greatest(a, b)
    return F.when(a.isNull() | b.isNull(), F.lit(None).cast("double")).when(
        lo == F.lit(NEG_INF), hi
    ).otherwise(hi + F.log1p(F.exp(lo - hi)))


def sum_log_probs(values: Column) -> Column:
    """Fold log_add_exp over an array<double> of log-probabilities:
    log(Σ e^v). Max-shifted so intermediate exps can't overflow/underflow:
    m + log(Σ e^(v-m)) with m = max(values). An empty array is log of an
    empty sum = -inf (array_max([]) is NULL, which would otherwise leak
    NULL through the guard)."""
    m = F.array_max(values)
    shifted_sum = F.aggregate(
        values,
        F.lit(0.0),
        lambda acc, v: acc + F.exp(v - m),
    )
    return (
        F.when(F.size(values) == 0, F.lit(NEG_INF))
        .when(m == F.lit(NEG_INF), F.lit(NEG_INF))
        .otherwise(m + F.log(shifted_sum))
    )


def floor_round(x: Column, scale: int) -> Column:
    """Tie-stable fixed-point finish: floor(x * 10^scale + 0.5) / 10^scale.

    Replaces engine-native round(x, scale) in every oracle-facing finish
    whose argument is an EXACT integer (or half-integer) ratio: such
    ratios land exactly on .5-at-scale boundaries (7 real docs at sf1 in
    the round-12 campaign, e.g. -218876/56 = -3908.5 micro), where Spark
    and DuckDB round() break decimal ties differently. This form is the
    same two IEEE-754 ops (multiply, add) plus floor on BOTH engines, so
    the result is bit-identical by construction; the convention at exact
    ties is round-half-UP (toward +inf), mirrored in the DuckDB twin
    ``duck_floor_round``."""
    s = F.lit(float(10**scale))
    return F.floor(x * s + F.lit(0.5)) / s


def duck_floor_round(expr: str, scale: int = 6) -> str:
    """DuckDB twin of ``floor_round`` over the SQL text ``expr``."""
    s = 10**scale
    return f"floor(({expr}) * {s} + 0.5) / {s}"


def ppm(num: str, den: str) -> Column:
    """Exact integer ratio num/den in parts per million, rounded half up:
    (num * 10^6 + den div 2) div greatest(den, 1). Integer arithmetic
    throughout (a double division plus floor could flip at a
    representation boundary); a zero denominator yields num * 10^6.
    ``num`` and ``den`` are bigint SQL expressions."""
    return F.expr(
        f"CAST((({num}) * 1000000L + ({den}) div 2)"
        f" div greatest({den}, 1L) AS BIGINT)"
    )


def duck_ppm(num: str, den: str) -> str:
    """DuckDB twin of ``ppm``."""
    return (
        f"CAST((({num}) * 1000000 + ({den}) // 2)"
        f" // greatest({den}, 1) AS BIGINT)"
    )
