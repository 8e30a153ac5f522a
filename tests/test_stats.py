"""Statistics formula fidelity vs a numpy reference implementation of the
reference's algorithms (collector.h), per SURVEY.md §5.2/§7.5."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_cpp_spark.functions import stats


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(7)
    return rng.uniform(1.0, 100.0, size=997)


@pytest.fixture(scope="module")
def df(spark, data):
    return spark.createDataFrame([(float(x),) for x in data], "v double")


def _ref_skewness(x):
    # collector.h:3065-3145: n/((n-1)(n-2)) * sum(((x-mu)/sd_pop)^3)
    n = len(x)
    mu = x.mean()
    sd = x.std()  # population
    return n / ((n - 1) * (n - 2)) * np.sum(((x - mu) / sd) ** 3)


def _ref_kurtosis(x):
    # collector.h:3147-3239: sample-adjusted excess kurtosis
    n = len(x)
    mu = x.mean()
    sd = x.std()
    term = (n * (n + 1) * (n - 1) * np.sum((x - mu) ** 4)) / (
        (n - 2) * (n - 3) * sd**4 * n**2
    )
    return term - 3 * (n - 1) ** 2 / ((n - 2) * (n - 3))


def test_skewness_matches_reference_formula(df, data):
    got = df.agg(stats.skewness_ref(F.col("v")).alias("s")).first()["s"]
    assert math.isclose(got, _ref_skewness(data), rel_tol=1e-8)


def test_kurtosis_matches_reference_formula(df, data):
    got = df.agg(stats.kurtosis_ref(F.col("v")).alias("k")).first()["k"]
    assert math.isclose(got, _ref_kurtosis(data), rel_tol=1e-8)


def test_percentile_linear_interpolation(df, data):
    """usePercentile: rank p/100*(n-1), linear interpolation
    (collector.h:2279-2335) == numpy 'linear' percentile."""
    for p in (0.0, 25.0, 50.0, 95.0, 100.0):
        got = df.agg(stats.percentile_exact(F.col("v"), p).alias("q")).first()["q"]
        assert math.isclose(got, float(np.percentile(data, p)), rel_tol=1e-12)


def test_percentile_bounds():
    with pytest.raises(ValueError):
        stats.percentile_exact(F.lit(1.0), 101.0)


def test_variance_population(df, data):
    got = df.agg(stats.variance_pop(F.col("v")).alias("v")).first()["v"]
    assert math.isclose(got, float(data.var()), rel_tol=1e-10)


def test_small_n_guards(spark):
    """n<3 → skewness 0; n<4 → kurtosis 0 (collector.h:3081, :3163)."""
    two = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    three = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
    assert two.agg(stats.skewness_ref(F.col("v")).alias("s")).first()["s"] == 0.0
    assert three.agg(stats.kurtosis_ref(F.col("v")).alias("k")).first()["k"] == 0.0


def test_approx_count_distinct_within_tolerance(spark):
    """The sketch path for profiling at scale: HLL++ estimate lands
    within its documented relative error on a known cardinality."""
    from pyspark.sql import functions as F

    df = spark.range(50_000).select((F.col("id") % 20_000).alias("v"))
    est = df.agg(
        F.approx_count_distinct("v", rsd=0.02).alias("e")
    ).collect()[0]["e"]
    assert abs(est - 20_000) / 20_000 < 0.06  # 3× the requested rsd


def test_band_by_cuts_semantics_and_1000_cut_ceiling(spark):
    """r11: band_by_cuts is a flat size(filter(array)) — the pre-r11
    nested when-chain StackOverflowed at ~400 cutoffs, capping
    equi-depth histograms far below production bucket counts. Pin the
    ties-go-up/below-first/null semantics AND that 1000 cutoffs plan
    and run with band = count of satisfied ascending cuts."""
    df = spark.createDataFrame(
        [(None,), (0.5,), (1.0,), (1.5,), (2.0,), (99.0,)], "v double"
    ).crossJoin(
        spark.createDataFrame([(1.0, 2.0)], "c0 double, c1 double")
    )
    got = {
        r["v"]: r["b"]
        for r in df.select(
            "v", stats.band_by_cuts(F.col("v"), ["c0", "c1"]).alias("b")
        ).collect()
    }
    assert got == {None: 0, 0.5: 0, 1.0: 1, 1.5: 1, 2.0: 2, 99.0: 2}
    # 1000 ascending cutoffs: cut i = i (i in 1..1000); band(v) = floor(v)
    cuts = spark.createDataFrame(
        [tuple(float(i) for i in range(1, 1001))],
        [f"c{i}" for i in range(1000)],
    )
    big = spark.createDataFrame(
        [(0.5,), (1.0,), (500.5,), (1000.0,), (2000.0,)], "v double"
    ).crossJoin(F.broadcast(cuts))
    got2 = {
        r["v"]: r["b"]
        for r in big.select(
            "v",
            stats.band_by_cuts(
                F.col("v"), [f"c{i}" for i in range(1000)]
            ).alias("b"),
        ).collect()
    }
    assert got2 == {0.5: 0, 1.0: 1, 500.5: 500, 1000.0: 1000, 2000.0: 1000}


def test_band_by_cuts_check_flag_enforces_precondition(spark):
    """ADVICE r11: the count form presupposes ASCENDING NON-NULL cuts
    — check=True compiles an in-plan guard that raises at execution on
    unsorted or null cuts (where the silent answer would diverge from
    'highest satisfied cutoff'), and passes sorted null-free cuts
    through unchanged."""
    import pytest
    from pyspark.errors import PythonException, SparkRuntimeException

    ok = spark.createDataFrame([(1.5,)], "v double").crossJoin(
        spark.createDataFrame([(1.0, 2.0)], "c0 double, c1 double")
    )
    got = ok.select(
        stats.band_by_cuts(F.col("v"), ["c0", "c1"], check=True).alias("b")
    ).collect()
    assert got[0]["b"] == 1
    bad_order = spark.createDataFrame([(1.5,)], "v double").crossJoin(
        spark.createDataFrame([(2.0, 1.0)], "c0 double, c1 double")
    )
    with pytest.raises((SparkRuntimeException, PythonException)):
        bad_order.select(
            stats.band_by_cuts(
                F.col("v"), ["c0", "c1"], check=True
            ).alias("b")
        ).collect()
    null_cut = spark.createDataFrame([(1.5,)], "v double").crossJoin(
        spark.createDataFrame(
            [(1.0, None)], "c0 double, c1 double"
        )
    )
    with pytest.raises((SparkRuntimeException, PythonException)):
        null_cut.select(
            stats.band_by_cuts(
                F.col("v"), ["c0", "c1"], check=True
            ).alias("b")
        ).collect()


def test_ratio_round6_three_way_exact(spark):
    """stats.ratio_round6 vs its documented DuckDB mirror vs
    Decimal ROUND_HALF_UP ground truth — including the exact-half
    class round(double, 6) gets wrong (reduced denominator dividing
    2·10⁶, e.g. 1/128 = 0.0078125: a half at the 7th decimal)."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from semantic_cpp_spark.functions import stats

    cases = [
        (1, 128), (3, 128), (5, 128), (129, 128), (1, 3), (2, 3),
        (7, 2), (42379746, 12), (1, 7), (22, 7), (999999, 1000000),
        (1, 2000000), (3, 2000000), (1048577, 1024), (0, 5), (5, 5),
    ]
    want = {
        (a, b): float(
            (Decimal(a) / Decimal(b)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        for a, b in cases
    }
    df = spark.createDataFrame(cases, "num long, den long").select(
        "num", "den",
        stats.ratio_round6(F.col("num"), F.col("den")).alias("r"),
    )
    got_spark = {(r["num"], r["den"]): r["r"] for r in df.collect()}
    assert got_spark == want
    con = duckdb.connect()
    for (a, b) in cases:
        got = con.execute(
            f"SELECT ((2000000::BIGINT * {a} + {b}) // (2 * {b}::BIGINT)) / 1000000.0"
        ).fetchone()[0]
        assert got == want[(a, b)], (a, b)


def test_tokenizer_stats_half_boundary_regression(spark):
    """A 128-word document whose subword count is odd puts fertility
    exactly on a 7th-decimal half (odd/128); the integer half-up form
    must agree with Decimal ROUND_HALF_UP ground truth. (Before
    ratio_round6 this was round(double, 6) — the cross-engine
    divergence class the LM gate measured at sf1.0.)"""
    from decimal import ROUND_HALF_UP, Decimal

    from semantic_cpp_spark.pipeline import text as T

    # 128 words, no merges -> every word char-splits: n_subwords =
    # total chars. 127 two-char words + 1 three-char word = 257 subwords
    words = ["ab"] * 127 + ["abc"]
    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    row = T.tokenizer_stats(
        docs, F.col("text"), F.col("doc_id"), [], impl="kernel"
    ).collect()[0]
    assert row["n_words"] == 128 and row["n_subwords"] == 257
    want = float(
        (Decimal(257) / Decimal(128)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )
    assert row["fertility"] == want  # 2.0078125 -> 2.007813 (half-up)


def test_div_long_exact_at_any_magnitude(spark):
    """stats.div_long must return the true integer quotient even where
    a long→double round-trip is lossy (> 2⁵³): the (x − pmod)/y double
    form is off by ±1 ulp-of-long at 2⁶² (measured — ADVICE r12);
    the IntegralDivide form must match Python's exact // everywhere."""
    from semantic_cpp_spark.functions import stats

    cases = [
        (2**62 + 12345, 7),
        (2**62, 3),
        ((2**53 + 1) * 9, 9),       # perfect multiple just past 2^53
        (2**63 - 1, 1),
        (2**63 - 1, 2**31),
        (123456789, 1),
        (0, 5),
        (41, 7),
    ]
    df = spark.createDataFrame(cases, "x long, y long").select(
        "x", "y", stats.div_long(F.col("x"), F.col("y")).alias("q")
    )
    got = {(r["x"], r["y"]): r["q"] for r in df.collect()}
    assert got == {(x, y): x // y for x, y in cases}


def test_ratio_round6_large_numerator_exact(spark):
    """ratio_round6 at numerators where 2e6·num + den crosses 2⁵³
    (num ≳ 4.5e9): the long-division form must still match Decimal
    ROUND_HALF_UP (the old double-routed quotient could return q−1
    on perfect multiples here — ADVICE r12)."""
    from decimal import ROUND_HALF_UP, Decimal

    from semantic_cpp_spark.functions import stats

    cases = [
        (4_500_000_001, 7),
        (4_611_686_018, 1),           # 2e6·num just under 2^63
        (9_007_199_255, 2),           # 2e6·num past 2^53
        (4_503_599_627, 128),         # half-boundary-capable denominator
    ]
    want = {
        (a, b): float(
            (Decimal(a) / Decimal(b)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        for a, b in cases
    }
    df = spark.createDataFrame(cases, "num long, den long").select(
        "num", "den", stats.ratio_round6(F.col("num"), F.col("den")).alias("r")
    )
    assert {(r["num"], r["den"]): r["r"] for r in df.collect()} == want


def test_ratio_round6_randomized_vs_decimal(spark):
    """500 seeded random (num, den) pairs across the full documented
    domain (den up to 10⁹, num up to 4.5e12 — past 2⁵³·2e-6, where the
    old double-routed quotient broke) in ONE job, vs Decimal
    ROUND_HALF_UP ground truth; includes forced half-boundary cases
    (den = 2⁷·5^j·k with odd quotient construction)."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from semantic_cpp_spark.functions import stats

    rng = random.Random(1337)
    cases = set()
    while len(cases) < 400:
        den = rng.randint(1, 10**9)
        num = rng.randint(0, 4_500_000_000_000)
        if 2_000_000 * num + den < 2**63:
            cases.add((num, den))
    # forced half-boundaries: num/den = (2k+1)/(2e6·m) exactly
    while len(cases) < 500:
        m = rng.randint(1, 1000)
        k = rng.randint(0, 10**8)
        num, den = 2 * k + 1, 2_000_000 * m
        if 2_000_000 * num + den < 2**63:
            cases.add((num, den))
    cases = sorted(cases)
    want = {
        (a, b): float(
            (Decimal(a) / Decimal(b)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        for a, b in cases
    }
    df = spark.createDataFrame(cases, "num long, den long").select(
        "num", "den", stats.ratio_round6(F.col("num"), F.col("den")).alias("r")
    )
    got = {(r["num"], r["den"]): r["r"] for r in df.collect()}
    assert got == want
