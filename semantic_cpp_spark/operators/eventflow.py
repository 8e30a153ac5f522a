"""Event-flow analytics over the events table: sessionization, funnel
analysis, and retention cohorts — the standard behavioural-OLAP trio
(Spark-native extension; the reference engine has no event layer, and
these are the batch counterparts of the streaming/ops session windows).

Time handling: events.ts is parquet TIMESTAMP(NANOS); the engine reads it
as nano longs (session.load_table sets nanosAsLong) and all arithmetic
uses integer microseconds via `ts div 1000` — epoch nanos exceed double's
2^53, so the division must stay integral (DuckDB: epoch_ns(ts) // 1000).

Scale design: every operator here keys its shuffle on user_id and stays
inside per-user windows or plain aggregations — per-user event counts are
bounded in practice, so window state is small; nothing is a global
window, nothing collects. Funnels use conditional aggregation (no
per-step self-joins over the raw events), so the whole funnel is ONE
shuffle on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantic_cpp_spark.indexing import memo, pin


def sessionize(
    df: DataFrame,
    user: str = "user_id",
    tus: str = "tus",
    gap_us: int = 30 * 60 * 1_000_000,
    tiebreak: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the user's
    inter-event gap exceeds ``gap_us``. Adds ``session_idx`` (0-based per
    user, in time order; ``tiebreak`` orders simultaneous events). One
    window partitioned BY USER — state is one lag value, never a global
    sort. The session-start flag is staged as its own column (a window
    expression can't nest inside another window aggregate); both
    expressions share the partition/order, so Catalyst runs ONE
    exchange+sort."""
    w = Window.partitionBy(user).orderBy(F.col(tus), F.col(tiebreak))
    gap = F.col(tus) - F.lag(tus).over(w)
    flagged = df.withColumn(
        "__new_sess", F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    )
    return flagged.withColumn(
        "session_idx",
        (
            F.sum("__new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - 1
        ).cast("long"),
    ).drop("__new_sess")


def session_summary(
    df: DataFrame,
    user: str = "user_id",
    tus: str = "tus",
    gap_us: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Per-session rollup: bounds, event count, value sum. The groupBy
    key (user, session_idx) is already co-partitioned with the
    sessionize window's shuffle — AQE sees a single exchange."""
    s = sessionize(df, user, tus, gap_us)
    return s.groupBy(user, "session_idx").agg(
        F.min(tus).alias("t_start"),
        F.max(tus).alias("t_end"),
        (F.max(tus) - F.min(tus)).alias("dur_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def funnel(
    df: DataFrame,
    steps: list[str],
    user: str = "user_id",
    tus: str = "tus",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: per user, the earliest time of step 1, then the
    earliest step 2 STRICTLY AFTER it, and so on. Returns one row per
    user with t_1..t_k (null once the funnel breaks) and the deepest
    ``stage`` reached.

    Plan — genuinely ONE scan and ONE shuffle, no per-step joins (the
    r3/r4 wording finally made true in r5): step events collect per user
    into a time-sorted array, and a higher-order ``aggregate`` fold walks
    it once, filling slot j when slot j-1 is already set and the event
    time is strictly later. Processing in ascending time order makes the
    greedy fill equal the per-step conditional-min semantics. Per-user
    state is k longs; the collected array is bounded by that user's step
    events (the k-join formulation this replaces shuffled the filtered
    log k-1 extra times)."""
    k = len(steps)
    per_user = (
        df.filter(F.col(type_col).isin(steps))
        .select(
            user,
            F.struct(
                F.col(tus).alias("t"), F.col(type_col).alias("ty")
            ).alias("__e"),
        )
        .groupBy(user)
        .agg(F.sort_array(F.collect_list("__e")).alias("__evs"))
    )

    def _fill(acc, e):
        # per-slot TYPE comparison (not a precomputed single step index):
        # repeated step names ([A, A] funnels) stay fillable, and because
        # every slot condition reads the PRE-event accumulator, one event
        # can satisfy at most one slot per fold step
        slots = []
        for j in range(k):
            prev_ok = (
                F.lit(True)
                if j == 0
                else acc[j - 1].isNotNull() & (e["t"] > acc[j - 1])
            )
            slots.append(
                F.when(
                    acc[j].isNull() & (e["ty"] == steps[j]) & prev_ok, e["t"]
                ).otherwise(acc[j])
            )
        return F.array(*slots)

    init = F.array(*[F.lit(None).cast("long") for _ in range(k)])
    folded = per_user.select(
        user, F.aggregate("__evs", init, _fill).alias("__ts")
    )
    stage = F.lit(0)
    for i in range(1, k + 1):
        stage = F.when(F.col(f"t_{i}").isNotNull(), i).otherwise(stage)
    return folded.select(
        user,
        *[F.col("__ts")[i].alias(f"t_{i + 1}") for i in range(k)],
    ).withColumn("stage", stage.cast("long"))


US_PER_DAY = 86_400_000_000


def retention_cohorts(
    df: DataFrame,
    user: str = "user_id",
    tus: str = "tus",
) -> DataFrame:
    """Retention matrix: cohort = the user's first-activity epoch-day;
    cell (cohort_day, day_offset) counts distinct cohort users active
    that day. Days are pure int64 epoch-day numbers (`tus div us/day`) —
    no calendar/timezone semantics to diverge between engines. Two
    aggregations — first-seen per user (shuffle on user), then the
    matrix (shuffle on the day pair, cardinality days², tiny).
    ``tus`` must be a plain column name (used inside an expr)."""
    ud = df.select(
        user, F.expr(f"{tus} div {US_PER_DAY}").alias("d")
    ).distinct()
    first = ud.groupBy(user).agg(F.min("d").alias("cohort_day"))
    return (
        ud.join(first, user)
        .groupBy("cohort_day", (F.col("d") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count_distinct(F.col(user)).alias("n_users"))
        .select(
            F.col("cohort_day").cast("long").alias("cohort_day"),
            F.col("day_offset").cast("long").alias("day_offset"),
            F.col("n_users").cast("long").alias("n_users"),
        )
    )


def merge_intervals(
    df: DataFrame,
    key: str,
    start: str,
    end: str,
) -> DataFrame:
    """Per-key interval coalescing: merge every overlapping-or-touching
    [start, end] interval into maximal disjoint blocks — the classic
    sweep (union of busy ranges, coverage blocks, downtime windows).

    Plan: per key, order by (start, end); an interval starts a NEW block
    iff its start exceeds the running max of all previous ends (the
    running max needs the same staging trick as sessionize — a window
    expression can't nest inside another window aggregate). Both window
    passes and the final rollup share ONE (key) exchange. Output
    (key, block_idx, b_start, b_end, n_intervals)."""
    w = Window.partitionBy(key).orderBy(F.col(start), F.col(end))
    prev_max_end = F.max(end).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "__new_blk",
        F.when(
            prev_max_end.isNull() | (F.col(start) > prev_max_end), 1
        ).otherwise(0),
    )
    blocks = flagged.withColumn(
        "block_idx",
        (
            F.sum("__new_blk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - 1
        ).cast("long"),
    )
    return blocks.groupBy(key, "block_idx").agg(
        F.min(start).alias("b_start"),
        F.max(end).alias("b_end"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
    )


def _persisted(df: DataFrame) -> DataFrame:
    """``df`` pinned once per plan and file snapshot (``indexing.memo``):
    conversion_latency and rfm_segments both feed one derived table into
    several downstream jobs (counts, rank selections, 1-row aggregates);
    without a persist the expensive upstream (funnel scan+shuffle /
    per-user rollup) re-executes per job (self-review r6)."""
    return memo(df, ("eventflow",), lambda: pin(df))


def conversion_latency(
    df: DataFrame,
    steps: list[str],
    percentiles: list[float] = (0.5, 0.9),
    user: str = "user_id",
    tus: str = "tus",
    type_col: str = "event_type",
) -> DataFrame:
    """Funnel conversion-latency profile: for users who complete the
    whole funnel, the distribution of t_last − t_first (first-step to
    final-conversion time), as one summary row — n_converted,
    avg_latency_s, and exact percentiles.

    Builds on ``funnel`` (one scan, one shuffle), so per-user state never
    exceeds the step count. The latency table is one row per CONVERTED
    user — it scales with users, so the percentiles use the distributed
    sort + rank selection path (stats.percentiles_exact_sorted), never a
    one-reducer ``F.percentile`` merge. avg is an exact integer-micros
    sum over a count — order-independent at any scale."""
    from semantic_cpp_spark.functions import stats

    k = len(steps)
    f = funnel(df, steps, user=user, tus=tus, type_col=type_col)
    # persist: the count, rank-selection, and 1-row mean jobs would each
    # re-run the funnel scan+shuffle otherwise (3-4× the documented cost)
    lat = _persisted(
        f.filter(F.col("stage") == k).select(
            (F.col(f"t_{k}") - F.col("t_1")).alias("__lat")
        )
    )
    base = lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(
            (F.sum("__lat") / F.count(F.lit(1))) / F.lit(1e6), 6
        ).alias("avg_latency_s"),
    )
    names = [f"p{int(p * 100)}_latency_s" for p in percentiles]
    pct = stats.percentiles_exact_sorted(
        lat, F.col("__lat").cast("double"), list(percentiles), names
    )
    pct = pct.select(
        *[F.round(F.col(nm) / F.lit(1e6), 6).alias(nm) for nm in names]
    )
    # both sides are 1-row aggregates — the scalar-broadcast cross join
    return base.crossJoin(F.broadcast(pct))


def rfm_segments(
    df: DataFrame,
    purchase_type: str = "purchase",
    user: str = "user_id",
    tus: str = "tus",
    value: str = "value",
) -> DataFrame:
    """RFM user segmentation: per user with ≥1 purchase, recency
    (µs between their last purchase and the corpus's latest purchase),
    frequency (purchase count) and monetary (2dp-exact value sum), each
    banded into corpus-relative terciles. Bands are ASCENDING in the
    metric (band 0 = lowest third), so r_band 0 = most recent.

    The scale-correct banding shape: tercile cutoffs per metric come
    from broadcast 1-row aggregates, then banding is a pure narrow CASE
    — never an ntile() global window. The per-user table scales with
    user cardinality, so the cutoffs go through the distributed
    sort + rank-selection path (stats.percentiles_exact_sorted), not a
    one-reducer `percentile` merge (self-review r6); the table is
    persisted across the three percentile passes. Output (user_id,
    recency_us, n_purchases, monetary, r_band, f_band, m_band)."""
    p = df.filter(F.col("event_type") == purchase_type)
    per_user = p.groupBy(F.col(user).alias("user_id")).agg(
        F.max(tus).alias("__last"),
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.round(F.sum(value), 2).alias("monetary"),
    )
    gmax = p.agg(F.max(tus).alias("__gmax"))
    per_user = _persisted(
        per_user.crossJoin(F.broadcast(gmax))
        .withColumn("recency_us", (F.col("__gmax") - F.col("__last")).cast("long"))
        .drop("__gmax", "__last")
    )
    from semantic_cpp_spark.functions import stats

    out = per_user
    for metric in ("recency_us", "n_purchases", "monetary"):
        cuts = stats.percentiles_exact_sorted(
            per_user,
            F.col(metric).cast("double"),
            [1.0 / 3.0, 2.0 / 3.0],
            [f"__{metric}_c0", f"__{metric}_c1"],
        )
        out = out.crossJoin(F.broadcast(cuts))
    for metric, band in (
        ("recency_us", "r_band"),
        ("n_purchases", "f_band"),
        ("monetary", "m_band"),
    ):
        out = out.withColumn(
            band,
            stats.band_by_cuts(
                F.col(metric), [f"__{metric}_c0", f"__{metric}_c1"]
            ),
        )
    return out.select(
        "user_id", "recency_us", "n_purchases", "monetary",
        "r_band", "f_band", "m_band",
    )


def debounce(
    df: DataFrame,
    gap_us: int,
    user: str = "user_id",
    tus: str = "tus",
    type_col: str = "event_type",
) -> DataFrame:
    """Event debouncing: flag an event as a duplicate when the PREVIOUS
    event of the same (user, type) lies within ``gap_us`` — the standard
    idempotent-ingest cleaning rule for at-least-once delivery (retried
    clicks, double-fired webhooks). lag()-based: the gap is measured to
    the previous RAW event (SQL-expressible, one window pass); a
    last-KEPT-event variant is a stateful sweep — the streaming
    deduplication operator covers that shape.

    One exchange on (user, type); adds a boolean ``keep``."""
    w = Window.partitionBy(user, type_col).orderBy(tus, "event_id")
    prev = F.lag(F.col(tus)).over(w)
    return df.withColumn(
        "keep", prev.isNull() | (F.col(tus) - prev > F.lit(gap_us))
    )


DAY_US = 86_400_000_000


def max_concurrency_per_day(
    df: DataFrame,
    user: str = "user_id",
    tus: str = "tus",
    gap_us: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Peak concurrent sessions per epoch-day (the capacity-planning
    question "how many users were on at once?"): classic sweep-line —
    each session [t_start, t_end] (inclusive, from session_summary)
    contributes +1 at its clipped start and −1 just after its clipped
    end; the running sum over time is the concurrency; its max per day
    is the answer. Returns (day, n_sessions, max_concurrent) where
    n_sessions counts sessions ACTIVE that day (a midnight-spanning
    session counts in both days).

    Scale shape: deltas at the same instant are pre-summed
    (groupBy(day, t) — map-side combinable, and it makes the running
    sum tie-order-free), then ONE window partitioned BY DAY: state is a
    single counter, work per partition is bounded by that day's session
    count, and a longer retention horizon only adds partitions. Day
    arithmetic is pure int64 epoch-day division — no calendar/timezone
    semantics (same rule as retention_cohorts)."""
    s = session_summary(df, user=user, tus=tus, gap_us=gap_us).select(
        F.col("t_start"), F.col("t_end")
    )
    ex = s.select(
        "t_start",
        "t_end",
        F.explode(
            F.sequence(
                F.expr(f"t_start div {DAY_US}"), F.expr(f"t_end div {DAY_US}")
            )
        ).alias("day"),
    )
    clip_s = F.greatest(F.col("t_start"), F.col("day") * DAY_US)
    clip_e = F.least(F.col("t_end"), (F.col("day") + 1) * DAY_US - 1)
    deltas = ex.select(
        "day", clip_s.alias("t"), F.lit(1).alias("d")
    ).unionAll(ex.select("day", (clip_e + 1).alias("t"), F.lit(-1).alias("d")))
    agg = deltas.groupBy("day", "t").agg(F.sum("d").alias("d"))
    w = (
        Window.partitionBy("day")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    conc = agg.withColumn("c", F.sum("d").over(w))
    peaks = conc.groupBy("day").agg(
        F.max("c").cast("long").alias("max_concurrent")
    )
    n = ex.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    return (
        peaks.join(n, "day")
        .select(F.col("day").cast("long").alias("day"), "n_sessions", "max_concurrent")
    )


def last_touch_attribution(
    df: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("view", "click", "signup"),
    lookback_us: int = 7 * 86_400_000_000,
    user: str = "user_id",
    tus: str = "tus",
    type_col: str = "event_type",
) -> DataFrame:
    """Last-touch marketing attribution: for every conversion event, the
    most recent STRICTLY-PRECEDING touch event of the same user within
    ``lookback_us`` — which campaign touch gets credit for the purchase.
    Returns one row per conversion:
    (event_id, user_id, t_conv, t_touch, touch_type, latency_us) with
    NULL touch columns for unattributed conversions.

    Scale shape: ONE window partitioned by user ordered by time — the
    running "latest touch so far" is carried as a max over an
    integer-ENCODED (tus, type_rank) value with rows UNBOUNDED
    PRECEDING..1 PRECEDING (strictly before), so no self-join per
    conversion and no per-step scan; the encoding (t·8 + alphabetical
    type rank, valid for ≤8 touch types and epoch-micros < 2^59) keeps
    the carry a plain int64 max — identical semantics and bit-identical
    results in the SQL oracle, with same-instant touches tie-broken by
    type name. The lookback filter is applied after the carry (window
    state stays one value either way)."""
    ranked = sorted(touch_types)
    if len(ranked) > 8:
        raise ValueError("at most 8 touch types (3-bit rank encoding)")
    rank = F.lit(None).cast("long")
    for i, ty in enumerate(ranked):
        rank = F.when(F.col(type_col) == ty, i).otherwise(rank)
    w = (
        Window.partitionBy(user)
        .orderBy(F.col(tus), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    enc = F.col(tus) * 8 + rank  # NULL for non-touch rows -> max skips them
    carried = df.withColumn("__lt", F.max(enc).over(w))
    conv = carried.filter(F.col(type_col) == conversion_type)
    # integer div, NOT float: t·8 ≈ 1.4e16 exceeds double's 2^53 exactness
    t_touch = F.expr("__lt div 8")
    decode = F.lit(None).cast("string")
    for i, ty in enumerate(ranked):
        decode = F.when(F.col("__lt") % 8 == i, ty).otherwise(decode)
    in_window = F.col("__lt").isNotNull() & (F.col(tus) - t_touch <= lookback_us)
    return conv.select(
        "event_id",
        F.col(user).alias("user_id"),
        F.col(tus).alias("t_conv"),
        F.when(in_window, t_touch).alias("t_touch"),
        F.when(in_window, decode).alias("touch_type"),
        F.when(in_window, F.col(tus) - t_touch).alias("latency_us"),
    )


def decayed_activity(
    df: DataFrame,
    half_life_days: int = 1,
    horizon_days: int = 30,
    user: str = "user_id",
    tus: str = "tus",
    value: str = "value",
) -> DataFrame:
    """Time-decayed per-user activity score — recency-weighted
    engagement: score = Σ value·0.5^floor(Δdays/half_life) over the
    last ``horizon_days`` epoch-days, Δdays measured from the corpus's
    max day (so the score is a deterministic function of the data, not
    of wall-clock). The decay exponent is the FLOORED integer quotient
    — for half_life_days > 1 the weight steps down once per full
    half-life, a deliberate quantization: the power-of-two exactness
    below depends on integer exponents (half_life_days=1, the
    registered case, makes floor(Δ/1) = Δ exactly). Events older than
    the horizon are excluded (their weight is < 2^-30 ≈ 1e-9 at the
    default).

    EXACT cross-engine arithmetic — no transcendental in the sum: with
    integer day steps the decay weights are powers of two, so each term
    is value_cents · 2^(horizon−Δ) — an INT64 shift — and the group sum
    runs in DECIMAL(38,0) (HUGEINT in DuckDB), overflow-free to ~10¹⁸
    events. One float division at the very end (sum / (100·2^horizon)),
    deterministic IEEE in both engines. An exp(−λΔt) variant with
    micro-second resolution would put a 1-ulp libm difference inside a
    per-term rounding — at 10⁶+ events some term WILL land on a
    boundary; the power-of-two day grid is what makes the oracle
    hash-exact at any scale.

    Scale shape: the max-day is one broadcast scalar; the rest is a
    narrow map + one map-side-combinable groupBy(user).
    Returns (user_id, n_recent, score)."""
    if horizon_days % half_life_days != 0:
        raise ValueError("horizon_days must be a multiple of half_life_days")
    steps = horizon_days // half_life_days  # max exponent
    day = F.expr(f"{tus} div {DAY_US}")
    mx = df.agg(F.max(day).alias("__T"))
    # decay exponent in INTEGER arithmetic; shiftleft goes through an SQL
    # expr (the pyspark wrapper only takes a literal int shift amount)
    cents = F.round(F.col(value) * 100).cast("long")
    term = cents * F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"{steps} - CAST((__T - {tus} div {DAY_US}) div {half_life_days} AS INT))"
    )
    scale = float(100 * (1 << steps))
    return (
        df.crossJoin(F.broadcast(mx))
        .filter(F.col("__T") - day <= horizon_days)
        .groupBy(F.col(user).alias("user_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_recent"),
            F.sum(term.cast("decimal(38,0)")).alias("__s"),
        )
        .select(
            "user_id",
            "n_recent",
            F.round(F.col("__s").cast("double") / F.lit(scale), 6).alias("score"),
        )
    )


MAD_CONSISTENCY = 0.6745  # Φ⁻¹(0.75): makes MAD a consistent σ estimator


def mad_outliers(
    df: DataFrame,
    group: str = "event_type",
    value: str = "value",
    z_cut: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier detection (Iglewicz & Hoaglin '93
    modified z-score): flag x where |0.6745·(x − med)/MAD| > ``z_cut``,
    with med and MAD = median(|x − med|) computed PER GROUP — the
    monitoring primitive that survives the very outliers it hunts
    (mean/stddev z-scores are dragged by heavy tails; median/MAD have
    50% breakdown).

    Plan: two grouped exact-percentile passes (medians, then MAD over
    the re-joined absolute deviations) — per-GROUP percentile buffers,
    the rel_grouped_percentiles argument: groups land on separate
    reducers, and a skewed/huge group would salt or take the sort-path
    per group. The tiny per-group stats table broadcasts back for the
    final narrow filter. Groups with MAD = 0 (over half the values
    identical) are excluded — the modified z-score is undefined there
    (documented; an MAD=0 fallback to mean-abs-dev is the standard
    extension).

    Returns flagged rows only: (event_id, group, value, robust_z)."""
    med = df.groupBy(group).agg(
        F.percentile(F.col(value), F.lit(0.5)).alias("__med")
    )
    dev = df.join(F.broadcast(med), group).withColumn(
        "__ad", F.abs(F.col(value) - F.col("__med"))
    )
    mad = dev.groupBy(group).agg(
        F.percentile(F.col("__ad"), F.lit(0.5)).alias("__mad")
    )
    z = F.lit(MAD_CONSISTENCY) * (F.col(value) - F.col("__med")) / F.col("__mad")
    return (
        dev.join(F.broadcast(mad), group)
        .filter((F.col("__mad") > 0) & (F.abs(z) > z_cut))
        .select(
            "event_id",
            F.col(group),
            F.col(value),
            F.round(z, 6).alias("robust_z"),
        )
    )


def markov_transitions(
    df: DataFrame,
    user: str = "user_id",
    tus: str = "tus",
    type_col: str = "event_type",
) -> DataFrame:
    """Corpus-wide first-order transition matrix over PER-USER event
    timelines: consecutive-event pairs (cur → next) are formed within
    each user's own timeline (no cross-user transitions), then pair
    counts and P(next | cur) = n_pair / n_from aggregate across ALL
    users into one global matrix — not one matrix per user. The
    what-do-users-do-next analysis (and the generator of the bigram-LM
    analogue over event streams).

    Plan: ONE lag window per user (the sessionize exchange shape), then
    a groupBy on the (cur, next) pair; P(next|cur) joins the pair counts
    against the per-cur totals CO-KEYED on cur (exchange reused — the
    totals are themselves a groupBy(cur)). Probability = exact integer
    counts, rounded by integer half-up division (stats.ratio_round6 —
    round(double, 6) diverges across engines when n_pair/n_from lands
    on a half-micro boundary; r13 audit conversion).

    Returns (cur, next, n_pair, p) over all observed transitions."""
    from semantic_cpp_spark.functions.stats import ratio_round6

    w = Window.partitionBy(user).orderBy(F.col(tus), F.col("event_id"))
    nxt = F.lead(type_col).over(w)
    pairs = (
        df.withColumn("__next", nxt)
        .filter(F.col("__next").isNotNull())
        .groupBy(F.col(type_col).alias("cur"), F.col("__next").alias("next"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    totals = pairs.groupBy("cur").agg(F.sum("n_pair").alias("n_from"))
    return (
        pairs.join(totals, "cur")
        .select(
            "cur",
            "next",
            F.col("n_pair").cast("long").alias("n_pair"),
            ratio_round6(F.col("n_pair"), F.col("n_from")).alias("p"),
        )
    )


def top_session_paths(
    df: DataFrame,
    k: int = 20,
    path_len: int = 3,
    user: str = "user_id",
    tus: str = "tus",
    type_col: str = "event_type",
    gap_us: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Top-k most common event-type PATHS of length ``path_len`` within
    sessions — the product-analytics "what do users actually do"
    sequence mining (session-bounded so cross-session gaps never form a
    path). Currently path_len must be 3 (two leads; longer paths would
    chain more leads in the same window).

    Plan: sessionize (one user-keyed window), then two lead()s INSIDE
    (user, session_idx) — sharing the session window's exchange — then a
    map-side-combinable path groupBy and a TakeOrdered on (count desc,
    path). Returns (path, n) with path as 'a>b>c'."""
    if path_len != 3:
        raise ValueError("path_len is pinned to 3 (two chained leads)")
    s = sessionize(df, user=user, tus=tus, gap_us=gap_us)
    w = Window.partitionBy(user, "session_idx").orderBy(F.col(tus), F.col("event_id"))
    n1 = F.lead(type_col, 1).over(w)
    n2 = F.lead(type_col, 2).over(w)
    # window exprs must be staged as columns before the filter (a window
    # function can't appear in WHERE — same staging rule as sessionize)
    paths = (
        s.withColumn("__n1", n1)
        .withColumn("__n2", n2)
        .filter(F.col("__n2").isNotNull())
        .select(
            F.concat_ws(">", F.col(type_col), "__n1", "__n2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return paths.orderBy(F.desc("n"), "path").limit(k)
