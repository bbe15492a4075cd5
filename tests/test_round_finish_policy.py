"""Mechanized tie-class policy: no integer-ratio round() finish may
(re)enter the oracle catalog.

The round-12 sf1 campaign proved that round(x, N) over an EXACT integer
(or half-integer) ratio diverges cross-engine at exact .5-at-scale ties
(DSIR: 7 real docs at sf1); round 13 migrated every such finish to the
floor-micro form (functions/numerics.py::floor_round and its DuckDB
twin duck_floor_round — floor(x*10^N + 0.5)/10^N, identical IEEE ops on
both engines). This test pins the migration: every round( occurrence
left in the assembled oracle SQL must match a SANCTIONED category —
inexact-argument finishes where an exact decimal tie is unreachable.
A new round() call that fits no category fails here and must either use
the floor form (if its argument can be an exact ratio) or extend the
allowlist with a justification.
"""

from __future__ import annotations

import re

# Each pattern is a category of round() arguments whose value cannot sit
# EXACTLY on a .5-at-scale boundary (or where rounding is a no-op),
# audited in round 13:
_SANCTIONED = [
    # money/value sums and windows: operands are 2dp decimals, inexact in
    # binary, so sums never land exactly on .005/.5-at-scale (the ONE
    # proven counterexample, promo_revenue_share at 6M rows, was moved to
    # exact integer-cents accounting in round 12)
    r"round\(\s*sum\(",
    r"round\(\s*avg\(value\)",
    r"round\(\s*avg\(p\)",  # sigmoid scores
    r"round\(\s*value\b",  # per-row money renders (incl. value + 1)
    r"round\(\s*CASE WHEN event_id",  # events_apply_changes value bump
    r"round\(\s*\w*value\w* \* 100\)",  # exact-cents integer render
    r"round\(\s*\w+\.?\w*\s*/\s*count\(\*\)",  # money / count attribution
    # order-statistic interpolation: quantile factors 0.9/0.99 are not
    # binary-exact; the 0.5 midpoint of integers is .5 at UNIT scale,
    # which is never a tie at 4-6dp
    r"round\(\s*quantile_cont\(",
    r"round\(\s*median\(",
    # transcendental/irrational chains: log/ln/pow/sqrt/regr/sigmoid
    # outputs and cosine similarities are never exact decimals
    r"round\(\s*-?\s*\w*\s*log10",
    r"round\(\s*avg\(-log10",  # CCNet perplexity buckets
    r"round\(\s*-sum\(\(c\.c",  # entropy: Σ p·log2(p) is transcendental
    r"round\(.*\bln\(",
    r"round\(\s*pow\(",
    r"round\(.*sqrt\(",
    r"round\(\s*regr_",
    r"round\(\s*list_cosine_similarity",
    r"round\(\s*list_sum\(list_transform",  # RP float projections
    r"round\(\s*\(p\.y0",  # PQ re-ranking float dot
    r"round\(\s*(a\.)?ad,",  # PQ approx distances (float centroids)
    r"round\(\s*b?\.?cos,",  # cached cosine re-render
    r"round\(\s*coalesce\(\(SELECT max\(cosine\)",
    r"round\(\s*avg\(abs\(agree - jaccard\)\)",  # diffs of micro grids
    r"round\(\s*max\(abs\(agree - jaccard\)\)",
    # iterative float state: PPR/PageRank mass (alpha=0.15 is not dyadic,
    # masses are never exact decimals), SGD weights/scores, z-scores
    r"round\(\s*(r\.)?m(ass)?,\s*6\)",
    r"round\(\s*weight",
    r"round\(\s*coalesce\(s\.score",
    r"round\(\s*\(s0 \+ s1 \+ s2\)",
    r"round\(\s*\(?\s*(e\.value|value|daily\.n_events|a\.mu)\s*[-+]",  # z-scores (sigma/sqrt denominators)
    r"round\(\s*mu,",
    r"round\(\s*(a|b)\.mu,",
    # no-op integer rounds (argument is an exact integer double)
    r"round\(\s*CAST\(sum\(cnt\) AS DOUBLE\)",
    r"round\(\s*score_micro / 1000000\.0",  # micro-int / 10^6 at 6dp: identity
    r"round\(\s*(l\.)?l_(extendedprice|discount) \* 100\)",  # cents ints
    r"round\(\s*g\.grand \* 100\)",
    # inexact-decimal averages over TPC-H price/discount columns
    r"round\(\s*avg\(l_(extendedprice|discount)\)",
    # ratio of two already-2dp-rounded money sums (inexact operands)
    r"round\(\s*nation_revenue / total_revenue",
    # tf*idf / bm25 partial scores (ln factors)
    r"round\(\s*p\.tf \* ln",
    r"round\(\s*sum\(tfidf\)",
    r"round\(\s*sum\(s\)",
]


def _round_lines() -> list[tuple[str, str]]:
    import __spark_entry__ as entrymod

    out, seen = [], set()
    for name, sql in entrymod.oracle_sql().items():
        for raw in sql.splitlines():
            line = raw.strip()
            # strip commentary mentioning round() as prose
            if line.startswith("--"):
                continue
            if "round(" not in line:
                continue
            if line in seen:
                continue
            seen.add(line)
            out.append((name, line))
    return out


def test_no_unsanctioned_round_finish():
    offenders = []
    for name, line in _round_lines():
        if not any(re.search(p, line) for p in _SANCTIONED):
            offenders.append((name, line))
    assert offenders == [], (
        "round() finishes outside the sanctioned (inexact-argument) "
        "categories — use the floor-micro form (duck_floor_round / "
        "floor_round) for "
        f"exact-ratio finishes or extend the audited allowlist: {offenders}"
    )


def test_spark_side_no_int_ratio_round():
    """Source-level tripwire on the Spark side: F.round applied directly
    to a '/' expression (the integer-ratio shape) is forbidden in the
    operator modules — exact-ratio finishes must use floor_round. The
    surviving F.round sites take sums, averages of inexact doubles, or
    transcendental outputs (audited round 13)."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "bigdata_infra_cs489_spark"
    pat = re.compile(r"F\.round\(\s*\n?\s*F\.(col|size|coalesce|sum)\([^)]*\)\s*\n?\s*/", re.M)
    # audited inexact-argument exceptions (same categories as the oracle
    # allowlist): money/count attribution, ratio of 2dp-rounded money
    # sums, micro-int/10^6 identity re-render
    allowed = {
        'F.round(F.col("value")',  # conversion_attribution credit
        'F.round(F.col("nation_revenue")',  # mkt_share of rounded sums
        'F.round(F.col("score_micro")',  # dsir gumbel: - log(-log(u)) term
    }
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        for m in pat.finditer(p.read_text()):
            head = re.sub(r"\s+", "", m.group(0).split("/")[0])
            if any(head.startswith(a) for a in allowed):
                continue
            offenders.append((str(p), m.group(0)[:80]))
    assert offenders == [], offenders
