"""Registry section: Structured Streaming queries (north star).

Each query executes a real streaming job (readStream → transform →
memory sink, run to completion) and returns the materialised result;
the DuckDB oracle computes the identical BATCH answer — pinning the
exactly-once batch/stream parity contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_cpp_spark.registry import register
from semantic_cpp_spark.streaming import ops


@register(
    "stream_tumble_hour",
    """WITH e AS (SELECT epoch_ns(ts) AS tns, value FROM events)
       SELECT (tns // 3600000000000) * 3600 AS win_start_s,
              count(*) AS n, round(sum(value), 2) AS sum_value
       FROM e GROUP BY 1""",
)
def stream_tumble(spark, sf_dir):
    """Event-time tumbling 1h windows over the events stream (complete
    mode ⇒ every window emitted; equals the batch groupBy answer)."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.tumbling_counts(ev, "1 hour"), "complete",
        skip_no_data_batch=True,
    )


@register(
    "stream_slide_2h_30m",
    """WITH e AS (SELECT epoch_ns(ts) AS tns FROM events),
       r AS (SELECT unnest(range(0, 4)) AS r)
       SELECT ((tns // 1800000000000) - r.r) * 1800 AS win_start_s, count(*) AS n
       FROM e, r GROUP BY 1""",
)
def stream_slide(spark, sf_dir):
    """Sliding 2h/30m windows: each event lands in exactly 4 windows
    (size/slide); oracle replicates Spark's floor-aligned window
    assignment."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.sliding_counts(ev, "2 hours", "30 minutes"), "complete",
        skip_no_data_batch=True,
    )


@register(
    "stream_session_5m",
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events),
       o AS (SELECT user_id, tus,
                    lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev
             FROM e),
       m AS (SELECT user_id, tus,
                    CASE WHEN prev IS NULL OR tus - prev >= 300000000
                         THEN 1 ELSE 0 END AS new_s
             FROM o),
       s AS (SELECT user_id, tus,
                    sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
                                     ROWS UNBOUNDED PRECEDING) AS sid
             FROM m)
       SELECT user_id, min(tus) AS session_start_us, count(*) AS n
       FROM s GROUP BY user_id, sid""",
)
def stream_session(spark, sf_dir):
    """Per-user session windows (5-minute gap): a new session starts when
    the inter-event gap reaches the threshold; oracle is the classic
    lag+cumsum sessionization."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.session_counts(ev, "5 minutes"), "complete",
        skip_no_data_batch=True,
    )


@register(
    "stream_distinct_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_distinct(spark, sf_dir):
    """Streaming dedup (dropDuplicates state): surviving key set equals
    batch DISTINCT — the streaming form of distinct()
    (semantic.h:1122-1142)."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.streaming_distinct_keys(ev), "append", skip_no_data_batch=True
    )


@register(
    "stream_running_stats",
    """SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value,
              round(sum(value * value), 4) AS sum_squares
       FROM events GROUP BY user_id""",
)
def stream_running_stats(spark, sf_dir):
    """Per-user running (count, Σx, Σx²) as Spark's native stateful
    aggregate (update mode, no Python worker) — the streaming form of the
    reference's single-pass stats accumulators (collector.h:488-760)."""
    ev = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.running_stats_per_user(ev), "update", skip_no_data_batch=True
    )
    return out.select(
        "user_id",
        "n",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("sum_squares", 4).alias("sum_squares"),
    )


@register(
    "stream_count_windows",
    f"""WITH r AS (SELECT user_id, value,
                          row_number() OVER (PARTITION BY user_id
                                             ORDER BY event_id) - 1 AS rk
                   FROM events)
        SELECT user_id, rk // {ops.COUNT_WINDOW_SIZE} AS win, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM r GROUP BY user_id, rk // {ops.COUNT_WINDOW_SIZE}
        HAVING count(*) = {ops.COUNT_WINDOW_SIZE}""",
)
def stream_count_windows(spark, sf_dir):
    """Custom stateful operator: COUNT-based tumbling windows over an
    unbounded stream (the reference's tumble lifted to streaming) —
    remainder buffered in state, completed windows emitted."""
    ev = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.count_tumble_per_user(ev), "append", skip_no_data_batch=True
    )
    return out.select(
        "user_id", "win", "n", F.round("sum_value", 2).alias("sum_value")
    )


@register(
    "stream_stream_join",
    """WITH e AS (SELECT event_id, user_id, event_type, value,
                         epoch_ns(ts) // 1000 AS tus
                  FROM events),
       s AS (SELECT user_id, event_id AS signup_id, tus AS s_us
             FROM e WHERE event_type = 'signup'),
       b AS (SELECT user_id, event_id AS purchase_id, value AS amount,
                    tus AS b_us
             FROM e WHERE event_type = 'purchase')
       SELECT b.user_id, signup_id, purchase_id, round(amount, 2) AS amount
       FROM b JOIN s ON b.user_id = s.user_id
                    AND b.b_us >= s.s_us
                    AND b.b_us <= s.s_us + 3600000000""",
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join with watermarks and an event-time range
    condition (purchases within 1h after the same user's signup) — state
    on both sides bounded by the watermark; equals the batch range join."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.purchases_after_signup(ev, 3600), "append",
        skip_no_data_batch=True,
    )


@register(
    "stream_topk_per_user",
    """SELECT user_id, rk, value FROM (
         SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY value DESC, event_id) AS rk
         FROM events) t
       WHERE rk <= 3""",
)
def stream_topk(spark, sf_dir):
    """Custom stateful operator: per-user top-3 values with ordered state
    and eviction beyond K — equals the batch window top-k. (Expressed via
    applyInPandasWithState; Spark 4's transformWithStateInPandas needs
    protobuf, absent in this container — see streaming.ops._topk_update.)"""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.topk_per_user(ev, 3), "update", skip_no_data_batch=True
    )


@register(
    "stream_static_enrich",
    """WITH p AS (SELECT user_id, count(*)::BIGINT AS user_n_events,
                         round(sum(value), 2) AS user_total_value
                  FROM events GROUP BY user_id)
       SELECT event_id, e.user_id, round(value, 2) AS value,
              user_n_events, user_total_value
       FROM events e JOIN p USING (user_id)
       WHERE event_type = 'purchase'""",
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment: the purchase stream joined (broadcast)
    with a per-user profile computed batch-side from the same fixture —
    the precomputed-feature-lookup pattern. Append mode; no watermark
    needed for stream-static inner joins (streaming.ops.enrich_with_static).
    Profile aggregates stay on 2dp-exact sums (no avg — division would
    sit on rounding boundaries)."""
    from semantic_cpp_spark.session import load_table

    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("user_n_events"),
            F.round(F.sum("value"), 2).alias("user_total_value"),
        )
    )
    ev = ops.read_events_stream(spark, sf_dir)
    enriched = ops.enrich_with_static(
        ev.filter(F.col("event_type") == "purchase"), profile
    ).select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("value"),
        "user_n_events",
        "user_total_value",
    )
    return ops.run_to_memory(enriched, "append", skip_no_data_batch=True)


@register(
    "stream_funnel_stages",
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t
                  FROM events
                  WHERE event_type IN ('signup', 'view', 'purchase')),
    a1 AS (SELECT user_id,
                  min(CASE WHEN event_type = 'signup' THEN t END) AS t_1
           FROM e GROUP BY user_id),
    a2 AS (SELECT e.user_id, min(t) AS t_2
           FROM e JOIN a1 ON e.user_id = a1.user_id
           WHERE event_type = 'view' AND t > t_1 GROUP BY e.user_id),
    a3 AS (SELECT e.user_id, min(t) AS t_3
           FROM e JOIN a2 ON e.user_id = a2.user_id
           WHERE event_type = 'purchase' AND t > t_2 GROUP BY e.user_id)
    SELECT a1.user_id, t_1, t_2, t_3,
           (CASE WHEN t_3 IS NOT NULL THEN 3
                 WHEN t_2 IS NOT NULL THEN 2
                 WHEN t_1 IS NOT NULL THEN 1
                 ELSE 0 END)::BIGINT AS stage
    FROM a1
    LEFT JOIN a2 ON a1.user_id = a2.user_id
    LEFT JOIN a3 ON a1.user_id = a3.user_id""",
)
def stream_funnel_stages(spark, sf_dir):
    """Custom stateful operator: per-user ordered-funnel progress via
    applyInPandasWithState (streaming.ops.funnel_stages_per_user) —
    three longs of state per user, greedy chronological slot filling
    that equals the batch funnel's earliest-after semantics on a
    time-ordered stream. Oracle = the batch funnel SQL."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.funnel_stages_per_user(ev), "update", skip_no_data_batch=True
    )


@register(
    "stream_last_touch",
    f"""WITH e AS (SELECT event_id, user_id, event_type,
                          epoch_ns(ts) // 1000 AS tus
                   FROM events),
    enc AS (SELECT *,
                   max(CASE WHEN event_type = 'click' THEN tus * 8 + 0
                            WHEN event_type = 'signup' THEN tus * 8 + 1
                            WHEN event_type = 'view' THEN tus * 8 + 2 END)
                     OVER (PARTITION BY user_id ORDER BY tus, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS lt
            FROM e)
    SELECT event_id, user_id, tus AS t_conv,
           CASE WHEN lt IS NOT NULL AND tus - lt // 8 <= {7 * 86_400_000_000}
                THEN lt // 8 END AS t_touch,
           CASE WHEN lt IS NOT NULL AND tus - lt // 8 <= {7 * 86_400_000_000}
                THEN CASE lt % 8 WHEN 0 THEN 'click' WHEN 1 THEN 'signup'
                                 WHEN 2 THEN 'view' END END AS touch_type,
           CASE WHEN lt IS NOT NULL AND tus - lt // 8 <= {7 * 86_400_000_000}
                THEN tus - lt // 8 END AS latency_us
    FROM enc WHERE event_type = 'purchase'""",
)
def stream_last_touch(spark, sf_dir):
    """Custom stateful operator: streaming last-touch attribution
    (streaming.ops.last_touch_per_user) — one long of state per user
    holding the batch operator's exact int64 (t·8 + rank) touch
    encoding, so the streamed answer equals the batch window's
    strictly-preceding semantics bit-for-bit. Oracle = the batch
    attribution SQL."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.last_touch_per_user(ev), "append", skip_no_data_batch=True
    )


@register(
    "stream_sliding_uniques",
    """WITH e AS (SELECT user_id, (epoch_ns(ts) // 1000) // 3600000000 AS hr
                  FROM events),
    w AS (SELECT user_id, unnest(range(hr - 5, hr + 1)) AS win_start FROM e)
    SELECT win_start::BIGINT AS win_start,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM w GROUP BY win_start""",
)
def stream_sliding_uniques(spark, sf_dir):
    """Streaming sliding distinct users (streaming.ops.
    sliding_unique_users): replicate-explode + streaming dropDuplicates
    + running count in complete mode — dedup-then-count standing in for
    the unsupported streaming count(DISTINCT). Complete mode is the
    exact-parity GATE form (every window visible on the bounded fixture
    stream); the bounded-state production form is
    ops.sliding_unique_users_bounded — applyInPandasWithState with an
    event-time timeout that evicts each window's state at close,
    pinned by test_sliding_uniques_bounded_closed_windows_and_eviction.
    Oracle = the batch sliding-distinct SQL over all windows (the batch
    evt_sliding_uniques additionally trims partial edge windows; the
    stream emits them all, so its oracle doesn't trim)."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(
        ops.sliding_unique_users(ev), "complete", skip_no_data_batch=True
    )


@register(
    "stream_sliding_uniques_bounded",
    """WITH e AS (SELECT user_id, (epoch_ns(ts) // 1000) AS tus FROM events),
    w AS (SELECT user_id,
                 unnest(range(tus // 3600000000 - 5, tus // 3600000000 + 1))
                   AS win_start
          FROM e),
    wm AS (SELECT (max(tus) - 3600000000) // 1000 AS wm_ms FROM e)
    SELECT win_start::BIGINT AS win_start,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM w, wm
    WHERE (win_start + 6) * 3600000 < wm_ms
    GROUP BY win_start""",
)
def stream_sliding_uniques_bounded(spark, sf_dir):
    """BOUNDED-STATE streaming sliding distinct users under the driver
    gate (streaming.ops.sliding_unique_users_bounded, r7): one
    applyInPandasWithState keyed on win_start with an EVENT-TIME TIMEOUT
    — each window emits its exact distinct count once when the watermark
    passes its end, then its state is EVICTED (state rows = open
    windows, never stream history; measured in SCALING.md "Streaming
    step-up"). Append-mode semantics make the oracle the batch
    sliding-distinct SQL restricted to CLOSED windows: end <
    final watermark = max event time − 1 h lateness (strict <, mirroring
    Spark's timeoutTimestamp < watermark firing rule). The single-file
    fixture stream processes all rows in one micro-batch, so no row is
    late and counts equal the batch answer on exactly those windows."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(ops.sliding_unique_users_bounded(ev), "append")


@register(
    "stream_sliding_uniques_hll",
    f"""WITH e AS (SELECT user_id, (epoch_ns(ts) // 1000) AS tus FROM events),
    w AS (SELECT user_id,
                 unnest(range(tus // 3600000000 - 5, tus // 3600000000 + 1))
                   AS win_start
          FROM e),
    wm AS (SELECT (max(tus) - 3600000000) // 1000 AS wm_ms FROM e),
    cw AS (SELECT win_start, user_id FROM w, wm
           WHERE (win_start + 6) * 3600000 < wm_ms),
    h AS (SELECT win_start,
                 ('0x' || substr(md5('hll-' || user_id::VARCHAR), 1, 15))::BIGINT
                   AS h
          FROM cw),
    r AS (SELECT win_start, h % {ops.HLL_M} AS idx,
                 CASE WHEN h // {ops.HLL_M} = 0 THEN 51
                      ELSE 51 - length(bin(h // {ops.HLL_M})) END AS rho
          FROM h),
    regs AS (SELECT win_start, idx, max(rho) AS m
             FROM r GROUP BY win_start, idx),
    agg AS (SELECT win_start,
                   sum(power(2.0, -m)) AS s_used,
                   count(*) AS n_used
            FROM regs GROUP BY win_start),
    est AS (SELECT win_start,
                   ({ops.HLL_ALPHA!r}::DOUBLE * {ops.HLL_M} * {ops.HLL_M})
                     / (s_used + ({ops.HLL_M} - n_used) * 1.0) AS e,
                   {ops.HLL_M} - n_used AS v
            FROM agg)
    SELECT win_start::BIGINT AS win_start,
           round(CASE WHEN e <= 2.5 * {ops.HLL_M} AND v > 0
                      THEN {ops.HLL_M} * ln({ops.HLL_M}::DOUBLE / v)
                      ELSE e END, 4) AS hll_users
    FROM est""",
)
def stream_sliding_uniques_hll(spark, sf_dir):
    """Sliding distinct users with HYPERLOGLOG sketch state under the
    driver gate (streaming.ops.sliding_unique_users_hll, r8 — the
    VERDICT r7 #7 approx path): per open window the stateful operator
    holds 1024 md5-derived registers instead of the distinct-user set,
    so state is ~4 KB per window at ANY cardinality; eviction and
    closed-window semantics are identical to the exact bounded form.
    Registers are deterministic (hash_u60-convention md5), so this
    holds a HARD value oracle: DuckDB recomputes every closed window's
    registers (idx = low 10 bits, rho via length(bin(rest)) — identical
    minimal-binary semantics on both engines) and the bias-corrected
    Flajolet estimator with the same alpha literal. Estimate-vs-exact
    error is pinned <= 2% in test_sliding_uniques_hll_parity_band."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(ops.sliding_unique_users_hll(ev), "append")


@register(
    "stream_sliding_cms_freq",
    f"""WITH e AS (SELECT user_id, (epoch_ns(ts) // 1000) AS tus FROM events),
    w AS (SELECT user_id,
                 unnest(range(tus // 3600000000 - 5, tus // 3600000000 + 1))
                   AS win_start
          FROM e),
    wm AS (SELECT (max(tus) - 3600000000) // 1000 AS wm_ms FROM e),
    cw AS (SELECT win_start, user_id FROM w, wm
           WHERE (win_start + 6) * 3600000 < wm_ms),
    rr AS (SELECT unnest(range(0, {ops.CMS_D})) AS r),
    cells AS (SELECT win_start, rr.r,
                     ('0x' || substr(md5('cms' || rr.r || '-'
                                         || user_id::VARCHAR), 1, 15))::BIGINT
                       % {ops.CMS_W} AS c
              FROM cw, rr),
    cms AS (SELECT win_start, r, c, count(*) AS cnt
            FROM cells GROUP BY win_start, r, c),
    pw AS (SELECT DISTINCT win_start FROM cw),
    pu AS (SELECT pw.win_start, u.range AS user_id, rr.r,
                  ('0x' || substr(md5('cms' || rr.r || '-'
                                      || u.range::VARCHAR), 1, 15))::BIGINT
                    % {ops.CMS_W} AS c
           FROM pw CROSS JOIN range(0, 10) u CROSS JOIN rr)
    SELECT pu.win_start::BIGINT AS win_start,
           pu.user_id::BIGINT AS user_id,
           min(coalesce(cms.cnt, 0))::BIGINT AS cms_count
    FROM pu LEFT JOIN cms ON cms.win_start = pu.win_start
                         AND cms.r = pu.r AND cms.c = pu.c
    GROUP BY pu.win_start, pu.user_id""",
)
def stream_sliding_cms_freq(spark, sf_dir):
    """Sliding per-user frequency with COUNT-MIN sketch state under the
    driver gate (streaming.ops.sliding_user_freq_cms — the frequency
    twin of stream_sliding_uniques_hll): per open window the stateful
    operator holds a 4×1024 counter grid (32 KB at ANY cardinality)
    instead of a per-user count table; closed windows emit point
    estimates for the fixed 10-user probe set, each ≥ the true
    frequency by the one-sided CMS guarantee. Counters are
    md5-deterministic (dedup.cms_build convention), so DuckDB replays
    every closed window's touched cells and the min(coalesce(cnt, 0))
    probe — empty cells count as 0, which is why the probe LEFT-joins
    the sketch."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(ops.sliding_user_freq_cms(ev), "append")


@register(
    "stream_sliding_value_quantiles",
    """WITH e AS (SELECT round(value * 100)::BIGINT AS cents,
                         (epoch_ns(ts) // 1000) AS tus
                  FROM events),
    w AS (SELECT cents,
                 unnest(range(tus // 3600000000 - 5, tus // 3600000000 + 1))
                   AS win_start
          FROM e),
    wm AS (SELECT (max(tus) - 3600000000) // 1000 AS wm_ms FROM e),
    cw AS (SELECT win_start, cents FROM w, wm
           WHERE (win_start + 6) * 3600000 < wm_ms),
    b AS (SELECT win_start,
                 CASE WHEN abs(cents) < 256 THEN cents
                      WHEN cents < 0 THEN
                        -((abs(cents) >> (length(bin(abs(cents))) - 8))
                          << (length(bin(abs(cents))) - 8))
                      ELSE (cents >> (length(bin(cents)) - 8))
                           << (length(bin(cents)) - 8) END AS qv
          FROM cw),
    st AS (SELECT win_start, qv, count(*)::BIGINT AS cnt
           FROM b GROUP BY win_start, qv),
    cum AS (SELECT win_start, qv,
                   sum(cnt) OVER (PARTITION BY win_start ORDER BY qv) AS c,
                   sum(cnt) OVER (PARTITION BY win_start) AS n
            FROM st)
    SELECT win_start::BIGINT AS win_start, max(n)::BIGINT AS n,
           min(CASE WHEN c >= (n * 50 + 99) // 100 THEN qv END) AS p50,
           min(CASE WHEN c >= (n * 95 + 99) // 100 THEN qv END) AS p95,
           min(CASE WHEN c >= (n * 99 + 99) // 100 THEN qv END) AS p99
    FROM cum GROUP BY win_start""",
)
def stream_sliding_value_quantiles(spark, sf_dir):
    """Sliding p50/p95/p99 of the event value with QUANTILE-SKETCH
    state under the driver gate (streaming.ops.sliding_value_quantiles
    — the quantile member of the constant-state sliding family, and
    the streaming face of operators.rollup's mergeable sketch): per
    open window the stateful operator holds (bin, count) pairs under
    the exact integer log2 binning instead of buffering events —
    state bounded by BIN OCCUPANCY (≤ ~14.6k at B=7) at any event
    rate, answers carrying the DDSketch-grade ≤2^-7 relative-error
    bound. Closed windows emit once at watermark passage (the
    HLL/CMS eviction contract). Binning and the ceil(n·p/100) rank
    walk are pure integer arithmetic both engines replay identically,
    so the oracle re-bins every closed window's events in SQL and
    must match value-for-value — the same replay discipline as
    evt_rollup_quantile_merge's batch form."""
    ev = ops.read_events_stream(spark, sf_dir)
    return ops.run_to_memory(ops.sliding_value_quantiles(ev), "append")
