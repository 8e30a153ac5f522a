"""Statistical aggregate expression builders (reference collector.h, SURVEY §2.5).

Where Spark built-ins match the reference semantics we use them
(var_pop, stddev_pop, exact percentile); where formulas differ
(skewness/kurtosis are SAMPLE-adjusted in the reference while Spark's
builtins are population estimators) we compose the reference formula from
sum/avg/stddev_pop primitives — still fully JVM-side partial+final
aggregation, one shuffle, no UDFs.

The builders return Column aggregate expressions usable in ``df.agg`` /
``groupBy().agg``. The exception is ``percentiles_exact_sorted``, exact
percentiles over a column that scales with the data: it runs a few small
eager jobs (a count/min/max aggregate, then histogram-narrowing rounds
that locate each needed rank in an ever smaller value range) and returns
a 1-row DataFrame whose lazy final job ranks only the rows left in those
ranges. ``F.percentile`` would instead merge every distinct value on one
reducer.
"""

from __future__ import annotations

import functools
import logging
import math
import operator

from pyspark.sql import Column, Window
from pyspark.sql import functions as F


def summate(col: Column) -> Column:
    """useSummate (reference collector.h:488-506)."""
    return F.sum(col)


def average_or_zero(col: Column) -> Column:
    """useAverage: empty stream → 0, not null (reference collector.h:520-524)."""
    return F.coalesce(F.avg(col), F.lit(0.0))


def value_range(col: Column) -> Column:
    """useRange collector: max − min (reference collector.h:546-602).

    The reference treats (0,0) min/max as its empty sentinel — a genuine
    bug for all-zero streams (collector.h:553, :562-565); we implement the
    sane max-min and document the deviation (SURVEY §7.4)."""
    return F.max(col) - F.min(col)


def variance_pop(col: Column) -> Column:
    """useVariance: POPULATION variance, Welford+Chan in the reference
    (collector.h:688-760) == Spark var_pop's partial/merge scheme."""
    return F.var_pop(col)


def stddev_pop(col: Column) -> Column:
    """useStandardDeviation: population stddev (reference collector.h:762-836)."""
    return F.stddev_pop(col)


def percentile_exact(col: Column, p: float) -> Column:
    """usePercentile: exact linear interpolation on rank p/100·(n−1)
    (reference collector.h:2279-2335) — Spark's exact `percentile` uses the
    identical rule (and so does DuckDB quantile_cont)."""
    if not 0.0 <= p <= 100.0:
        raise ValueError("percentile must be in [0, 100]")  # collector.h:2282
    return F.percentile(col, F.lit(p / 100.0))


def skewness_ref(col: Column) -> Column:
    """useSkewness: sample-adjusted Fisher–Pearson
    ``n/((n−1)(n−2)) · Σ((x−μ)/s)³`` with s = POPULATION stddev;
    n<3 → 0 (reference collector.h:3065-3145). Spark's builtin computes
    population g1 = m3/m2^1.5 — different formula, hence composed here."""
    n = F.count(col).cast("double")
    mu = F.avg(col)
    s = F.stddev_pop(col)
    m3 = F.sum(F.pow(col, 3)) - 3 * mu * F.sum(F.pow(col, 2)) + 2 * F.pow(mu, 3) * F.count(col)
    g = (n / ((n - 1) * (n - 2))) * (m3 / F.pow(s, 3))
    return F.when((F.count(col) < 3) | (s == 0), F.lit(0.0)).otherwise(g)


def kurtosis_ref(col: Column) -> Column:
    """useKurtosis: sample-adjusted EXCESS kurtosis
    ``n(n+1)(n−1)·Σd⁴ / ((n−2)(n−3)·s⁴·n²) − 3(n−1)²/((n−2)(n−3))``
    with s = population stddev; n<4 → 0 (reference collector.h:3147-3239)."""
    cnt = F.count(col)
    n = cnt.cast("double")
    mu = F.avg(col)
    s = F.stddev_pop(col)
    # Σ(x−μ)⁴ expanded to power sums (single pass, partial-aggregatable).
    s1 = F.sum(col)
    s2 = F.sum(F.pow(col, 2))
    s3 = F.sum(F.pow(col, 3))
    s4 = F.sum(F.pow(col, 4))
    m4 = s4 - 4 * mu * s3 + 6 * F.pow(mu, 2) * s2 - 4 * F.pow(mu, 3) * s1 + F.pow(mu, 4) * n
    term = (n * (n + 1) * (n - 1) * m4) / ((n - 2) * (n - 3) * F.pow(s, 4) * F.pow(n, 2))
    adj = 3 * F.pow(n - 1, 2) / ((n - 2) * (n - 3))
    return F.when((cnt < 4) | (s == 0), F.lit(0.0)).otherwise(term - adj)


# Exact percentiles by histogram narrowing (percentiles_exact_sorted).
# Sub-buckets per range in one narrowing round.
_NB = 1024
# A range holding more than _REFINE * n / _NB rows is narrowed again;
# smaller ones are ranked by the final window.
_REFINE = 4
# Narrowing rounds per call at most: a long-tailed column needs a round
# per outlier scale, and whatever is still open after the last round is
# ranked by the final window, exact either way.
_MAX_ROUNDS = 4

_log = logging.getLogger(__name__)


def narrow_ranges(ranges, hist, need):
    """Driver-side bookkeeping of one narrowing round (a pure function).

    ``ranges[i]`` is ``(lo, hi, below, count)``: ``count`` rows have a
    value in ``[lo, hi]`` and ``below`` rows a value under ``lo``.
    ``hist`` holds one ``(i, sub_bucket, count, min, max)`` per non-empty
    sub-bucket of range ``i``. Sub-buckets are a monotone function of the
    value, so a sub-bucket's rows are exactly the rows in its
    ``[min, max]`` and sub-bucket order is value order. ``need`` holds
    the global ranks (0-based, ascending value order) to locate.

    Returns ``(resolved, open)``: ``resolved`` maps each needed rank whose
    sub-bucket holds one value to that value; ``open`` lists, as
    ``(lo, hi, below, count)``, the other sub-buckets holding a needed
    rank. Returns None when some range's sub-bucket counts do not sum to
    its count: the input changed between jobs, and offsets taken from it
    would point at the wrong rows."""
    parts: dict[int, list] = {}
    for i, sb, c, mn, mx in hist:
        parts.setdefault(i, []).append((sb, c, mn, mx))
    resolved, open_ = {}, []
    for i, (_, _, below, count) in enumerate(ranges):
        subs = sorted(parts.get(i, []), key=lambda t: t[0])
        if sum(c for _, c, _, _ in subs) != count:
            return None
        acc = below
        for _, c, mn, mx in subs:
            hit = [r for r in need if acc <= r < acc + c]
            if hit and mn == mx:
                resolved.update(dict.fromkeys(hit, mn))
            elif hit:
                open_.append((mn, mx, acc, c))
            acc += c
    return resolved, open_


def _width(lo, hi) -> float:
    """Sub-bucket width of ``[lo, hi]`` in doubles; 0 when the double
    cast cannot tell the ends apart (long > 2^53, long decimals)."""
    return float(hi) / _NB - float(lo) / _NB


def _case(ranges, vtype, value):
    """CASE over the ``[lo, hi]`` ranges of ``__v`` (true-typed bounds):
    ``value(i, lo, hi)`` for the range holding the row, null outside."""
    v = F.col("__v")
    out = F  # F.when opens the CASE, Column.when extends it
    for i, (lo, hi, _, _) in enumerate(ranges):
        inside = (v >= F.lit(lo).cast(vtype)) & (v <= F.lit(hi).cast(vtype))
        out = out.when(inside, value(i, lo, hi))
    return out


def _narrow_round(vals, ranges, vtype):
    """One eager ``groupBy(range, sub-bucket).agg(count, min, max)`` over
    the rows inside ``ranges``. The sub-bucket
    ``floor(least((double(v) - lo) / w, NB - 1))`` is non-strictly
    monotone in ``v`` for any finite ``lo`` and positive ``w`` (an
    overflow to +inf lands in the last sub-bucket); a lossy
    double cast merges neighbouring values into one sub-bucket and never
    reorders them."""
    def sub(i, lo, hi):
        d = (F.col("__v").cast("double") - F.lit(float(lo))) / F.lit(_width(lo, hi))
        return F.floor(F.least(d, F.lit(float(_NB - 1))))

    return [
        tuple(r)
        for r in vals.select(
            _case(ranges, vtype, lambda i, lo, hi: F.lit(i)).alias("__rid"),
            _case(ranges, vtype, sub).alias("__sb"),
            "__v",
        )
        .filter(F.col("__rid").isNotNull())
        .groupBy("__rid", "__sb")
        .agg(F.count(F.lit(1)), F.min("__v"), F.max("__v"))
        .collect()
    ]


def _rank_values(frame, conds, resolved, vtype):
    """1-row frame with a ``__r{rank}`` column per needed rank: a literal
    for ranks resolved on the driver, else the ``__v`` of the one row of
    ``frame`` matching ``conds[rank]``."""
    consts = [F.lit(v).cast(vtype).alias(f"__r{r}") for r, v in resolved.items()]
    if not conds:
        return frame.sparkSession.range(1).select(*consts)
    pred = functools.reduce(operator.or_, conds.values())
    return frame.filter(pred).agg(
        *[F.min(F.when(c, F.col("__v"))).alias(f"__r{r}") for r, c in conds.items()],
        *consts,
    )


def _exact_ranks(vals, ps):
    """``(frame, bounds, info)``: ``frame`` is 1-row with a ``__r{rank}``
    column per global rank (0-based, ascending ``__v``) that the
    percentiles ``ps`` read, ``bounds[i]`` is ``(lo rank, hi rank,
    fraction)`` of ``ps[i]`` and ``info`` the decision record. ``frame``
    is None for an empty input and when a count check failed."""
    from semantic_cpp_spark.indexing import with_ordinal

    vtype = vals.schema["__v"].dataType
    row = vals.agg(
        F.count(F.lit(1)).alias("n"), F.min("__v").alias("mn"), F.max("__v").alias("mx")
    ).first()
    n, mn, mx = row["n"], row["mn"], row["mx"]
    info = {"n": n, "rounds": 0, "window_rows": 0, "driver_ranks": 0, "fallback": None}
    if n == 0:
        return None, [], info
    bounds = []
    for p in ps:
        r = p * (n - 1)
        lo = int(r // 1)
        bounds.append((lo, -int(-r // 1), r - lo))
    need = sorted({r for lo, hi, _ in bounds for r in (lo, hi)})
    if not (math.isfinite(float(mn)) and math.isfinite(float(mx))):
        # NaN or ±inf: no finite sub-bucket width. Rank every row.
        info.update(fallback="non-finite min or max", window_rows=n)
        ranked = with_ordinal(vals, ["__v"], name="__r", strategy="range")
        conds = {r: F.col("__r") == F.lit(r) for r in need}
        return _rank_values(ranked, conds, {}, vtype), bounds, info

    resolved = dict.fromkeys(need, mn) if mn == mx else {}
    open_ = [] if mn == mx else [(mn, mx, 0, n)]
    final, tried = [], set()
    limit = _REFINE * n / _NB
    while open_:
        refine = []
        for g in open_:
            more = info["rounds"] < _MAX_ROUNDS and g[3] > limit
            # a range that came back whole from its own round cannot be
            # split by the double cast: rank it instead
            if more and g not in tried and _width(g[0], g[1]) > 0:
                refine.append(g)
            else:
                final.append(g)
        if not refine:
            break
        tried.update(refine)
        step = narrow_ranges(refine, _narrow_round(vals, refine, vtype), need)
        info["rounds"] += 1
        if step is None:
            return None, bounds, info
        got, open_ = step
        resolved.update(got)

    info.update(driver_ranks=len(resolved), window_rows=sum(g[3] for g in final))
    conds = {}
    ranked = vals
    if final:
        ranked = (
            vals.withColumn("__rid", _case(final, vtype, lambda i, lo, hi: F.lit(i)))
            .filter(F.col("__rid").isNotNull())
            .withColumn(
                "__lr",
                F.row_number().over(Window.partitionBy("__rid").orderBy("__v")) - 1,
            )
        )
        for i, (_, _, below, count) in enumerate(final):
            for r in need:
                if below <= r < below + count:
                    conds[r] = (F.col("__rid") == i) & (F.col("__lr") == r - below)
    return _rank_values(ranked, conds, resolved, vtype), bounds, info


def percentiles_exact_sorted(df, col: Column, ps: list[float], names: list[str]):
    """Exact percentiles by HISTOGRAM NARROWING — the scale path for the
    exact contract. `F.percentile` is algebraically partial but its
    final merge sorts every distinct value on ONE reducer (measured: a
    ~1.7 s floor on 600k rows that parallelizing the partial phase does
    not move).

    Only the ≤2·len(ps) rows at the ranks the interpolation reads
    matter. One eager aggregate takes ``count``, ``min`` and ``max`` of
    the non-null values. Each narrowing round (one eager
    ``groupBy(range, sub-bucket).agg(count, min, max)``) splits every
    value range still holding a needed rank into ``_NB`` sub-buckets by
    a monotone function of the value, and the driver moves each rank
    into its sub-bucket (``narrow_ranges``). A sub-bucket holding one
    value resolves its ranks on the driver; one holding more than
    ``_REFINE·n/_NB`` rows is narrowed again (long-tailed columns), up
    to ``_MAX_ROUNDS``. The final, lazy job ranks only the rows of the
    ranges still open, with ``row_number`` by the true value within each
    range, so lossy double casts (long > 2^53, decimals) stay exact.
    A NaN or ±inf min or max has no finite sub-bucket width and falls
    back to ranking every row (``indexing.with_ordinal``).

    Guards: a nondeterministic input plan is pinned once (a persist
    registered for ``release_ordinal_caches``) so every job sees the
    same rows; a round whose counts do not add up to its range's count
    restarts from a pinned input rather than use stale offsets.

    Same linear-interpolation rule as `F.percentile` / DuckDB
    quantile_cont (rank p·(n−1), collector.h:2279-2335), pinned by a
    cross-implementation test; a rank that lands on a row, or whose
    neighbours are equal, returns that value itself (so ±inf survive).
    ps are fractions in [0, 1]. Returns a 1-row DataFrame with double
    `names` columns (null when the input is empty). Logs one DEBUG
    record per call whose ``decision`` attribute holds ``n``,
    ``rounds``, ``window_rows`` (rows ranked by the final window),
    ``driver_ranks`` (ranks resolved on the driver), ``fallback`` (the
    reason for ranking every row, or None) and ``pinned``.
    """
    from semantic_cpp_spark.indexing import pin, pin_if_nondeterministic

    if len(ps) != len(names):
        raise ValueError("ps and names must align")
    if not ps:
        # zero percentiles: a 0-column select is legal downstream (ADVICE r3)
        return df.sparkSession.range(1).select()
    for p in ps:
        if not 0.0 <= p <= 1.0:
            raise ValueError("percentile fraction must be in [0, 1]")
    vals = pin_if_nondeterministic(
        df.select(col.alias("__v")).filter(F.col("__v").isNotNull())
    )
    while True:
        picked, bounds, info = _exact_ranks(vals, ps)
        if picked is not None or info["n"] == 0 or vals.is_cached:
            break
        # counts moved between jobs over an unpinned input: pin, redo
        vals = pin(vals)
    info["pinned"] = vals.is_cached
    _log.debug("percentiles_exact_sorted %s", info, extra={"decision": info})
    if info["n"] == 0:
        return df.sparkSession.range(1).select(
            *[F.lit(None).cast("double").alias(nm) for nm in names]
        )
    if picked is None:
        raise RuntimeError(
            "percentiles_exact_sorted: row counts changed between jobs "
            "over a pinned input"
        )
    outs = []
    for nm, (lo, hi, frac) in zip(names, bounds):
        a, b = F.col(f"__r{lo}"), F.col(f"__r{hi}")
        v = a if frac == 0 else F.when(a == b, a).otherwise(a + F.lit(frac) * (b - a))
        outs.append(v.cast("double").alias(nm))
    return picked.select(*outs)


def band_by_cuts(
    col: Column, cut_cols: list[str], *, check: bool = False
) -> Column:
    """Band index from ascending broadcast cutoffs: band 0 below the
    first cutoff, band i+1 at/above cutoff i — half-open intervals, ties
    go UP (deterministic, unlike ntile's count-balanced splits). The one
    shared fold for every cutoff-banding operator (quality bands, RFM
    terciles, equi-depth histogram), so the tie/boundary semantics can
    never diverge between them.

    Shape (r11): for ASCENDING cuts, "highest satisfied cutoff" equals
    "count of satisfied cutoffs", so the band is a flat
    size(filter(array(cuts), x -> col >= x)) — one wide node — instead
    of the pre-r11 nested when-chain, whose JVM-stack ceiling was ~400
    entries (the curation lookup finding); a 10³-bucket equi-depth
    histogram now plans. Null col → no cutoff satisfied → band 0,
    exactly as the when-chain fell through.

    PRECONDITION (ADVICE r11): cuts must be ASCENDING and NON-NULL —
    the count form silently diverges from "highest satisfied cutoff"
    otherwise. A NULL cut is EXCLUDED from the count (col >= NULL is
    null, dropped by the filter), whereas the pre-r11 when-chain could
    still band a value ABOVE a null cut via a later arm. ``check=True``
    compiles an in-plan guard (array_sort equality + null scan) that
    raises at execution on unsorted or null cuts instead of banding
    wrong — cheap (the cut array is a handful of broadcast scalars per
    row), off by default since every in-repo caller feeds ascending
    null-free percentile cuts by construction."""
    arr = F.array(*[F.col(c) for c in cut_cols])
    band = F.size(F.filter(arr, lambda x: col >= x)).cast("long")
    if check:
        ok = ~F.exists(arr, lambda x: x.isNull()) & (arr == F.array_sort(arr))
        return F.when(ok, band).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "band_by_cuts: cut columns must be ascending "
                        "and non-null, got "
                    ),
                    F.to_json(F.struct(arr.alias("cuts"))),
                )
            )
        )
    return band


def ratio_round6(num: Column, den: Column) -> Column:
    """round(num/den, 6) for EXACT non-negative int64 inputs, computed
    so both engines agree on EVERY input — including the exact-half
    class round(double, 6) gets wrong: a ratio whose reduced
    denominator divides 2·10⁶ can land exactly on a half at the 7th
    decimal (measured: 42379746/12 in the LM gate; a 128-word document
    would do the same to fertility), and Spark's and DuckDB's double
    rounding disagree there.

    Form: integer half-up division q = (2·10⁶·num + den) ÷ (2·den) via
    ``div_long`` (JVM IntegralDivide — exact pure-long arithmetic at
    ANY magnitude; the earlier (x − x mod y)/y double form was exact
    only below 2⁵³, ADVICE r12), then /1e6 for display (exact:
    q < 2⁵³). DuckDB mirror: ``(2000000::BIGINT*num + den) // (2*den)
    / 1000000.0`` (the BIGINT cast matters when num is a literal —
    bare 2000000*literal multiplies in INT32 and overflows). Requires 2·10⁶·num + den < 2⁶³ (num < 4.6e12)."""
    x = F.lit(2_000_000).cast("long") * num.cast("long") + den.cast("long")
    y = F.lit(2).cast("long") * den.cast("long")
    return div_long(x, y) / F.lit(1000000.0)


def div_long(x: Column, y: Column) -> Column:
    """EXACT int64 integer division (truncated toward zero, like SQL
    ``div`` / DuckDB ``//`` on non-negative operands) — stays in pure
    long arithmetic on the JVM (Catalyst IntegralDivide via the
    registered ``div`` SQL function), so unlike any double-routed form
    ((x − pmod)/y, floor(x/y)) the quotient is correct at ANY int64
    magnitude: a long → double conversion above 2⁵³ is inexact and can
    return q±1 even for perfect multiples (measured at 2⁶²).
    DuckDB mirror for non-negative operands: ``x // y``."""
    return F.call_function("div", x.cast("long"), y.cast("long"))
