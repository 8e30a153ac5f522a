"""Structured Streaming surface: batch/stream parity and cross-batch
state (semantic_cpp_spark.streaming.ops)."""

import os

import pytest
from pyspark.sql import functions as F

from semantic_cpp_spark.session import event_time_col, ts_micros
from semantic_cpp_spark.streaming import ops

SF = "/root/testdata/sf0.001"


def _batch_events(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{SF}/events.parquet")


def _stream(spark, src):
    """File stream over ``src`` with event_time, schema taken from a batch
    read so the test adapts to whichever ts dtype the writer produced
    (int64 epoch-nanos for hand-built frames, TIMESTAMP for fixture
    rewrites)."""
    batch = spark.read.parquet(src)
    raw = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    return raw.withColumn("event_time", event_time_col(raw))


def test_tumbling_counts_equal_batch(spark):
    ev = ops.read_events_stream(spark, SF)
    out = ops.run_to_memory(ops.tumbling_counts(ev, "1 hour"), "complete")
    got = {r["win_start_s"]: r["n"] for r in out.collect()}
    bev = _batch_events(spark)
    batch = (
        bev.groupBy(((ts_micros(bev) / F.lit(3_600_000_000)).cast("long") * 3600).alias("w"))
        .count()
        .collect()
    )
    expect = {r["w"]: r["count"] for r in batch}
    assert got == expect


def test_session_counts_total_preserved(spark):
    ev = ops.read_events_stream(spark, SF)
    out = ops.run_to_memory(ops.session_counts(ev, "5 minutes"), "complete")
    rows = out.collect()
    assert sum(r["n"] for r in rows) == _batch_events(spark).count()
    # session starts unique per user
    keys = [(r["user_id"], r["session_start_us"]) for r in rows]
    assert len(keys) == len(set(keys))


def test_streaming_distinct_keys(spark):
    ev = ops.read_events_stream(spark, SF)
    out = ops.run_to_memory(ops.streaming_distinct_keys(ev), "append")
    got = {(r["user_id"], r["event_type"]) for r in out.collect()}
    expect = {
        (r["user_id"], r["event_type"])
        for r in _batch_events(spark).select("user_id", "event_type").distinct().collect()
    }
    assert got == expect


def test_stateful_ops_across_micro_batches(spark, tmp_path):
    """State must carry across micro-batches: split events into 3 files,
    force one file per trigger, and check the final stateful results
    equal the batch answer."""
    src = str(tmp_path / "events_split")
    _batch_events(spark).repartition(3).write.parquet(src)
    stream = _stream(spark, src)

    # running stats: last update per user must equal batch totals
    out = ops.run_to_memory(ops.running_stats_per_user(stream), "update")
    latest = {}
    for r in out.collect():  # update mode appends one row per user per batch
        cur = latest.get(r["user_id"])
        if cur is None or r["n"] > cur[0]:
            latest[r["user_id"]] = (r["n"], r["sum_value"], r["sum_squares"])
    v = F.col("value")
    batch = {
        r["user_id"]: (r["n"], r["s"], r["s2"])
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(v).alias("s"),
             F.sum(v * v).alias("s2"))
        .collect()
    }
    assert set(latest) == set(batch)
    for u in batch:
        assert latest[u][0] == batch[u][0]
        assert abs(latest[u][1] - batch[u][1]) < 1e-6
        assert abs(latest[u][2] - batch[u][2]) <= 1e-9 * max(1.0, batch[u][2])


def test_running_stats_matches_sql_contract(spark, tmp_path):
    """``running_stats_per_user`` over three files, one per trigger,
    against ``stream_running_stats``'s registered SQL: ``n`` counts rows
    with a null value, the sums skip nulls, and a user whose values are
    all null has null sums. Update mode emits one row per user and
    micro-batch that touched it, carrying the running totals. Values are
    binary fractions, so every sum is exact in any order."""
    from pyspark.sql import types as T

    from semantic_cpp_spark import registry

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    files = [
        [(1, 1.5), (2, None), (3, 2.0)],
        [(1, None), (2, None), (3, -0.25), (4, 1.0)],
        [(1, 2.25), (3, None), (2, None), (3, 0.5)],
    ]
    src = str(tmp_path / "stats_src")
    eid = 0
    for rows in files:
        rows = [(u, eid + i, v) for i, (u, v) in enumerate(rows)]
        eid += len(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    rows = ops.run_to_memory(
        ops.running_stats_per_user(stream), "update", skip_no_data_batch=True
    ).collect()

    emitted, final = {}, {}
    for r in rows:
        u = r["user_id"]
        emitted[u] = emitted.get(u, 0) + 1
        if u not in final or r["n"] > final[u][0]:
            final[u] = (r["n"], r["sum_value"], r["sum_squares"])
    assert emitted == {1: 3, 2: 3, 3: 3, 4: 1}
    assert final == {
        1: (3, 3.75, 7.3125),
        2: (3, None, None),
        3: (4, 2.25, 4.3125),
        4: (1, 1.0, 1.0),
    }

    sql = registry.oracle_sql()["stream_running_stats"].replace(
        "FROM events", "FROM {events}")
    batch = spark.read.schema(schema).parquet(src)
    expect = {
        r["user_id"]: (r["n"], r["sum_value"], r["sum_squares"])
        for r in spark.sql(sql, events=batch).collect()
    }
    assert final == expect


def test_count_windows_across_micro_batches(spark, tmp_path):
    """Count-based tumbling windows must stitch across batch boundaries:
    a window spanning two micro-batches still emits exactly once with
    COUNT_WINDOW_SIZE rows."""
    src = str(tmp_path / "events_split2")
    _batch_events(spark).repartition(4).write.parquet(src)
    stream = _stream(spark, src)
    out = ops.run_to_memory(ops.count_tumble_per_user(stream), "append").collect()
    per_user = {}
    for r in out:
        assert r["n"] == ops.COUNT_WINDOW_SIZE
        per_user.setdefault(r["user_id"], set()).add(r["win"])
    batch_counts = {
        r["user_id"]: r["count"]
        for r in _batch_events(spark).groupBy("user_id").count().collect()
    }
    for u, wins in per_user.items():
        expect_full = batch_counts[u] // ops.COUNT_WINDOW_SIZE
        assert wins == set(range(expect_full))


def test_topk_two_different_k_in_one_session(spark):
    """Two top-k queries with DIFFERENT k in one session must each honor
    their own k — k is captured in the pickled closure, not module state
    (a module-global k would revert to its import-time default on
    executors and race between concurrent queries)."""
    ev2 = ops.read_events_stream(spark, SF)
    out2 = ops.run_to_memory(ops.topk_per_user(ev2, 2), "update").collect()
    ev5 = ops.read_events_stream(spark, SF)
    out5 = ops.run_to_memory(ops.topk_per_user(ev5, 5), "update").collect()

    def final_ranks(rows):
        per_user = {}
        for r in rows:  # update mode: later (larger) emissions supersede
            per_user.setdefault(r["user_id"], set()).add(r["rk"])
        return per_user

    batch_counts = {
        r["user_id"]: r["count"]
        for r in _batch_events(spark).groupBy("user_id").count().collect()
    }
    for u, rks in final_ranks(out2).items():
        assert max(rks) == min(2, batch_counts[u])
    for u, rks in final_ranks(out5).items():
        assert max(rks) == min(5, batch_counts[u])
    # cross-check values: k=2 top values must be a prefix of k=5's
    top2 = {}
    for r in out2:
        top2.setdefault(r["user_id"], {})[r["rk"]] = r["value"]
    top5 = {}
    for r in out5:
        top5.setdefault(r["user_id"], {})[r["rk"]] = r["value"]
    for u in top2:
        assert top2[u][1] == top5[u][1]
        if 2 in top2[u]:
            assert top2[u][2] == top5[u][2]


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data policy: with a 10-minute watermark in append mode, a row
    arriving in a later micro-batch with an event time far behind the
    advanced watermark must NOT revive or re-emit its (closed) window."""
    import pandas as pd

    src = str(tmp_path / "late_events")
    base = 1_700_000_000_000_000_000  # epoch ns
    hour = 3_600_000_000_000
    batch1 = pd.DataFrame(
        {
            "event_id": [0, 1, 2],
            "ts": [base, base + hour, base + 3 * hour],  # watermark → +3h-10m
            "user_id": [1, 1, 1],
            "event_type": ["a", "a", "a"],
            "value": [1.0, 1.0, 1.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    batch2 = pd.DataFrame(
        {
            "event_id": [3, 4],
            "ts": [base + 10_000, base + 3 * hour + 1000],  # late + on-time
            "user_id": [1, 1],
            "event_type": ["a", "a"],
            "value": [100.0, 1.0],
            "props": ["{}", "{}"],
        }
    )
    spark.createDataFrame(batch1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(batch2).write.parquet(f"{src}/f=2")
    stream = _stream(spark, src)
    out = ops.run_to_memory(ops.tumbling_counts(stream, "1 hour"), "append")
    rows = {r["win_start_s"]: (r["n"], r["sum_value"]) for r in out.collect()}
    first_win = (base // hour) * hour // 1_000_000_000
    # the late row (value=100) must not appear in the emitted first window
    if first_win in rows:
        assert rows[first_win] == (1, 1.0)


def test_salted_agg_matches_plain(spark):
    """Skew-safe two-stage aggregation equals the direct groupBy."""
    from semantic_cpp_spark.operators.skew import salted_agg

    df = _batch_events(spark)
    got = {
        r["key"]: (r["n"], round(r["total"], 2), r["hi"])
        for r in salted_agg(
            df,
            F.col("user_id"),
            n=("sum", F.count(F.lit(1))),
            total=("sum", F.sum("value")),
            hi=("max", F.max("value")),
        ).collect()
    }
    expect = {
        r["user_id"]: (r["n"], round(r["total"], 2), r["hi"])
        for r in df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("hi"),
        )
        .collect()
    }
    assert got == expect


def test_sliding_uniques_step_alignment(spark):
    """step_hours > 1 must emit step-ALIGNED window starts (multiples of
    step) with the correct per-event window membership — the pre-r7 code
    stepped the start sequence by 1 hour regardless of step_hours
    (ADVICE r6 #1). Checked against a pure-Python reference on a tiny
    batch frame (the op is batch/stream agnostic)."""
    import collections

    import pandas as pd

    hour_ns = 3_600_000_000_000
    base_hr = 472_229  # arbitrary epoch hour, NOT a multiple of 4
    rows = [
        (i, (base_hr + dh) * hour_ns, uid, "a", 1.0, "{}")
        for i, (dh, uid) in enumerate(
            [(0, 1), (1, 1), (2, 2), (5, 1), (6, 3), (9, 2), (10, 1)]
        )
    ]
    # pre-1970 rows: negative epoch hours exercise the floor-mod (pmod)
    # alignment — Spark's sign-following % would start a window AFTER
    # the event. WHOLE hours on purpose: the upstream hour derivation
    # (`tus div 3600000000`) truncates toward zero, so sub-hour negative
    # timestamps are outside the operator's stated domain (the events
    # fixture is post-2024).
    rows += [
        (100 + j, nh * hour_ns, 9, "a", 1.0, "{}")
        for j, nh in enumerate([-5, -1, -8])
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
    )
    for window_hours, step_hours in [(6, 2), (6, 3), (6, 4), (8, 4), (6, 1)]:
        got = {
            r["win_start"]: r["n_users"]
            for r in ops.sliding_unique_users(
                df, window_hours=window_hours, step_hours=step_hours
            ).collect()
        }
        wins = collections.defaultdict(set)
        for _, ts, uid, *_ in rows:
            h = ts // hour_ns
            for s in range(
                (h - window_hours) // step_hours * step_hours,
                h + step_hours + 1,
                step_hours,
            ):
                if s % step_hours == 0 and s <= h < s + window_hours:
                    wins[s].add(uid)
        assert got == {s: len(u) for s, u in wins.items()}, (
            window_hours,
            step_hours,
        )


def test_sliding_uniques_bounded_closed_windows_and_eviction(spark, tmp_path):
    """The watermarked production form (ops.sliding_unique_users_bounded):
    append mode emits exactly the windows the final watermark CLOSED,
    with counts equal to the complete-mode/batch answer over the on-time
    rows, and a row arriving later than the watermark is DROPPED (state
    for its windows was evicted) instead of mutating a closed window."""
    import collections

    import pandas as pd

    src = str(tmp_path / "sliding_bounded")
    hour_ns = 3_600_000_000_000
    base_hr = 1_700_000_000_000_000_000 // hour_ns + 1  # aligned to an hour
    b1_events = [  # (dh, uid)
        (0, 1), (0, 2), (1, 1), (3, 3), (5, 2), (8, 1), (10, 4),
    ]
    b1 = pd.DataFrame(
        {
            "event_id": list(range(len(b1_events))),
            "ts": [(base_hr + dh) * hour_ns for dh, _ in b1_events],
            "user_id": [u for _, u in b1_events],
            "event_type": ["a"] * len(b1_events),
            "value": [1.0] * len(b1_events),
            "props": ["{}"] * len(b1_events),
        }
    )
    b2 = pd.DataFrame(
        {
            # late row 10h behind the b1 watermark (max base+10h − 1h
            # lateness): every window containing hour base+0 closed long
            # ago — MUST be dropped, user 99 must appear nowhere.
            # Plus a far-future pusher that closes every b1 window.
            "event_id": [100, 101],
            "ts": [base_hr * hour_ns, (base_hr + 100) * hour_ns],
            "user_id": [99, 50],
            "event_type": ["a", "a"],
            "value": [1.0, 1.0],
            "props": ["{}", "{}"],
        }
    )
    # ONE part-file per logical batch: multi-part dirs + maxFilesPerTrigger=1
    # would split a "batch" across micro-batches and advance the watermark
    # mid-way, making on-time rows late by accident.
    spark.createDataFrame(b1).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2).coalesce(1).write.parquet(f"{src}/f=2")
    stream = _stream(spark, src)
    out = ops.run_to_memory(
        ops.sliding_unique_users_bounded(stream, 6, 1, "1 hour"), "append"
    )
    got = {r["win_start"]: r["n_users"] for r in out.collect()}
    # reference: every window over the ON-TIME rows; final watermark
    # (base+99h) closed all b1 windows; the pusher's own windows are
    # still open, so user 50 appears nowhere.
    wins = collections.defaultdict(set)
    for dh, uid in b1_events:
        h = base_hr + dh
        for s in range(h - 5, h + 1):
            wins[s].add(uid)
    assert got == {s: len(u) for s, u in wins.items()}
    assert all(99 not in u for u in wins.values())  # late row dropped


def test_sliding_uniques_hll_parity_band(spark):
    """The HLL sketch form vs the exact bounded form on the fixture
    stream: identical closed-window key set, every estimate within 2%
    relative (+ a small absolute floor for the tiny-count windows where
    linear counting is exact-ish) of the true distinct count, and state
    payload is the 1024-register constant, not the audience size. Also
    pins the pure-Python estimator against direct cardinalities."""
    from semantic_cpp_spark.streaming.ops import (
        HLL_M,
        hll_add,
        hll_estimate,
        sliding_unique_users_bounded,
        sliding_unique_users_hll,
    )

    # estimator sanity on known cardinalities (deterministic hashes)
    for n in (10, 100, 1000, 5000):
        regs = [0] * HLL_M
        for i in range(n):
            hll_add(regs, i)
        est = hll_estimate(regs)
        assert abs(est - n) / n < 0.05, (n, est)

    ev = ops.read_events_stream(spark, "/root/testdata/sf0.001")
    exact = {
        r["win_start"]: r["n_users"]
        for r in ops.run_to_memory(
            sliding_unique_users_bounded(ev), "append"
        ).collect()
    }
    ev2 = ops.read_events_stream(spark, "/root/testdata/sf0.001")
    approx = {
        r["win_start"]: r["hll_users"]
        for r in ops.run_to_memory(
            sliding_unique_users_hll(ev2), "append"
        ).collect()
    }
    assert set(exact) == set(approx)
    assert exact  # fixture closes windows
    for s, n in exact.items():
        assert abs(approx[s] - n) <= max(0.02 * n, 1.5), (s, n, approx[s])


def test_session_window_closes_in_append_mode(spark, tmp_path):
    """Append-mode session windows emit only once the watermark passes
    session end + gap: a later batch far in the future closes the first
    session."""
    import pandas as pd

    src = str(tmp_path / "session_close")
    base = 1_700_000_000_000_000_000
    minute, hour = 60_000_000_000, 3_600_000_000_000
    b1 = pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": [base, base + minute],  # one session (gap 5m)
            "user_id": [1, 1],
            "event_type": ["a", "a"],
            "value": [1.0, 1.0],
            "props": ["{}", "{}"],
        }
    )
    b2 = pd.DataFrame(
        {
            "event_id": [2],
            "ts": [base + 5 * hour],  # watermark jumps past session 1
            "user_id": [1],
            "event_type": ["a"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    spark.createDataFrame(b1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2).write.parquet(f"{src}/f=2")
    stream = _stream(spark, src)
    out = ops.run_to_memory(ops.session_counts(stream, "5 minutes"), "append")
    rows = {(r["user_id"], r["session_start_us"]): r["n"] for r in out.collect()}
    # first session (2 events starting at base) must have been emitted/closed
    assert rows.get((1, base // 1000)) == 2


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_checkpoint_restart_no_loss_no_dup(spark, tmp_path, provider, request):
    """Kill-and-resume for a CUSTOM STATEFUL operator (r3/r4 verdict task):
    run count-based tumbling windows over file 1, stop the query (the
    query object is discarded — recovery has only the checkpoint), drop
    file 2, restart the SAME sink+checkpoint, and require:

    - no loss: every full window a single batch run would emit is present,
      including windows whose rows SPAN the stop/restart boundary (those
      prove the buffered remainder was restored from the state store, not
      from memory);
    - no duplication: each (user, win) appears exactly once in the durable
      sink (file-sink commit log + checkpointed offsets = exactly-once).

    Runs on BOTH state-store providers (r6): the default HDFS-backed heap
    store and RocksDB (ops.use_rocksdb_state_store — the bounded-memory
    setting for 100 TB key cardinality). State round-trips through an
    actual RocksDB instance in the rocksdb variant, including the restore
    across the simulated kill.
    """
    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
    )
    request.addfinalizer(lambda: spark.conf.set(key, prior))
    if provider == "rocksdb":
        ops.use_rocksdb_state_store(spark)
    ev = _batch_events(spark).orderBy("event_id")
    n_total = ev.count()
    half = n_total // 2
    src = str(tmp_path / "ckpt_src")
    out = str(tmp_path / "ckpt_out")
    ckpt = str(tmp_path / "ckpt_state")
    ev.limit(half).coalesce(1).write.parquet(f"{src}/f=1")

    def run_once():
        stream = _stream(spark, src)
        q = (
            ops.count_tumble_per_user(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()  # first run: file 1 only, then "killed"
    # second half lands while the query is down
    ev.subtract(ev.limit(half)).coalesce(1).write.parquet(f"{src}/f=2")
    run_once()  # restart from checkpoint

    sink = spark.read.parquet(out).collect()
    seen = [(r["user_id"], r["win"]) for r in sink]
    assert len(seen) == len(set(seen)), "duplicated window emissions"
    # batch expectation: per user, ordered by event_id, chunks of SIZE
    import collections

    size = ops.COUNT_WINDOW_SIZE
    per_user = collections.defaultdict(list)
    for r in ev.select("user_id", "event_id", "value").collect():
        per_user[r["user_id"]].append((r["event_id"], r["value"]))
    expect = {}
    for u, rows in per_user.items():
        rows.sort()
        for w in range(len(rows) // size):
            chunk = [v for _, v in rows[w * size : (w + 1) * size]]
            expect[(u, w)] = (len(chunk), round(sum(chunk), 6))
    got = {
        (r["user_id"], r["win"]): (r["n"], round(r["sum_value"], 6))
        for r in sink
    }
    assert got == expect


def test_use_infinite_stream_affine(spark):
    """useInfinite as a genuinely unbounded Structured Streaming source
    (semantic.h:1763-1783): the rate-micro-batch index drives the
    verified affine closed form, so the stream needs no sequential state.
    Non-affine generators raise loudly (inherently sequential)."""
    import time
    import uuid

    import pytest
    from pyspark.sql import functions as F

    from semantic_cpp_spark.sources import use_infinite_stream

    s = use_infinite_stream(spark, 10, lambda c: c + 3, rows_per_batch=50)
    assert s.isStreaming
    name = f"inf_{uuid.uuid4().hex[:8]}"
    q = s.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 100:
                break
            time.sleep(0.3)
        rows = spark.table(name).orderBy("__idx").limit(100).collect()
    finally:
        q.stop()
    assert len(rows) >= 100
    assert all(r["value"] == 10 + 3 * r["__idx"] for r in rows)
    assert [r["__idx"] for r in rows[:5]] == [0, 1, 2, 3, 4]

    with pytest.raises(ValueError, match="not affine"):
        use_infinite_stream(spark, 2, lambda c: c * c, rows_per_batch=10)
    # piecewise fn that fakes affine on the probe prefix is also rejected
    wrap = lambda c: F.when(c < 100, c + 1).otherwise(F.lit(0))  # noqa: E731
    with pytest.raises(ValueError, match="not affine"):
        use_infinite_stream(spark, 0, wrap, rows_per_batch=10)


def test_funnel_stages_across_micro_batches(spark, tmp_path):
    """Funnel state must stitch across micro-batches ON A TIME-ORDERED
    stream (the operator's documented assumption): signup, view, and
    purchase arrive in three separate time-sliced files (written
    sequentially → increasing mtimes → trigger order), and the final
    update per user equals the batch funnel."""
    import os
    import time as _time

    from semantic_cpp_spark.operators import eventflow

    M = 1_000_000
    # user 1 completes across 3 slices; user 2 stalls at view; user 3's
    # purchase precedes its view (never completes stage 3).
    slices = [
        [(0, 1, 10, "signup", 0.0), (1, 2, 11, "signup", 0.0),
         (2, 3, 12, "signup", 0.0), (3, 3, 13, "purchase", 0.0)],
        [(4, 1, 20, "view", 0.0), (5, 2, 21, "view", 0.0)],
        [(6, 1, 30, "purchase", 0.0), (7, 3, 31, "view", 0.0)],
    ]
    src = str(tmp_path / "funnel_slices")
    os.makedirs(src)
    schema = "event_id long, user_id long, ts long, event_type string, value double"
    for i, rows in enumerate(slices):
        scaled = [(e, u, t * M * 1000, et, v) for e, u, t, et, v in rows]  # ns
        spark.createDataFrame(scaled, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)  # distinct mtimes -> deterministic trigger order
    stream = _stream(spark, src)
    out = ops.run_to_memory(ops.funnel_stages_per_user(stream), "update")
    latest = {}
    for r in out.collect():
        cur = latest.get(r["user_id"])
        if cur is None or r["stage"] >= cur["stage"]:
            latest[r["user_id"]] = r
    batch = spark.read.parquet(src).withColumn(
        "tus", ts_micros(spark.read.parquet(src))
    )
    expect = {
        r["user_id"]: r
        for r in eventflow.funnel(
            batch, ["signup", "view", "purchase"]
        ).collect()
    }
    assert set(latest) == set(expect) == {1, 2, 3}
    for u in expect:
        for c in ("t_1", "t_2", "t_3", "stage"):
            assert latest[u][c] == expect[u][c], (u, c)
    assert latest[1]["stage"] == 3 and latest[2]["stage"] == 2
    # user 3's early purchase (before any view) never fills stage 3, but
    # the later view still advances it to stage 2 — batch semantics.
    assert latest[3]["stage"] == 2 and latest[3]["t_3"] is None


def test_last_touch_across_micro_batches(spark, tmp_path):
    """Attribution state must stitch across micro-batches on a
    time-ordered stream: a touch in file 1 credits a conversion in
    file 3, a newer touch in file 2 supersedes the older one, and the
    streamed rows equal the batch operator exactly."""
    import os
    import time as _time

    from semantic_cpp_spark.operators import eventflow

    M = 1_000_000
    slices = [
        [(0, 1, 10, "view", 0.0), (1, 2, 11, "click", 0.0)],
        [(2, 1, 20, "click", 0.0), (3, 2, 21, "purchase", 0.0)],
        [(4, 1, 30, "purchase", 0.0), (5, 3, 31, "purchase", 0.0)],
    ]
    src = str(tmp_path / "attr_slices")
    os.makedirs(src)
    schema = "event_id long, user_id long, ts long, event_type string, value double"
    for rows in slices:
        scaled = [(e, u, t * M * 1000, et, v) for e, u, t, et, v in rows]
        spark.createDataFrame(scaled, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)
    stream = _stream(spark, src)
    out = {r["event_id"]: r for r in ops.run_to_memory(
        ops.last_touch_per_user(stream), "append").collect()}
    batch = spark.read.parquet(src)
    batch = batch.withColumn("tus", ts_micros(batch))
    expect = {r["event_id"]: r for r in eventflow.last_touch_attribution(
        batch, lookback_us=7 * 86_400_000_000).collect()}
    assert set(out) == set(expect) == {3, 4, 5}
    for eid in expect:
        for c in ("user_id", "t_conv", "t_touch", "touch_type", "latency_us"):
            assert out[eid][c] == expect[eid][c], (eid, c)
    # cross-batch: u1's purchase credits the NEWER click from file 2
    assert out[4]["touch_type"] == "click" and out[4]["t_touch"] == 20 * M
    # u3 never touched -> unattributed row still emitted
    assert out[5]["t_touch"] is None


def test_sliding_cms_one_sided_bound_and_fixed_state(spark):
    """The CMS sketch form vs exact in-window frequencies on the fixture
    stream: every closed window emits exactly the 10-user probe set,
    each estimate >= the true frequency (one-sided CMS guarantee, with
    0 exact when the user never hit the window and no cell collided),
    and the error stays inside the textbook e·N/w expectation band.
    State is the 4x1024 counter constant, not the audience size."""
    from semantic_cpp_spark.streaming.ops import (
        CMS_D,
        CMS_PROBE_USERS,
        CMS_W,
        cms_cell,
        sliding_user_freq_cms,
    )

    # deterministic cell derivation parity with the batch sketch
    from semantic_cpp_spark.pipeline import curation

    for r in range(CMS_D):
        for u in (0, 7, 12345):
            import hashlib

            h = int(
                hashlib.md5(f"cms{r}-{u}".encode()).hexdigest()[:15], 16
            )
            assert cms_cell(u, r) == h % CMS_W

    ev = ops.read_events_stream(spark, "/root/testdata/sf0.001")
    est = {}
    for row in ops.run_to_memory(
        sliding_user_freq_cms(ev), "append"
    ).collect():
        est[(row["win_start"], row["user_id"])] = row["cms_count"]
    assert est
    wins = {w for w, _ in est}
    assert all((w, u) in est for w in wins for u in CMS_PROBE_USERS)

    # exact per-(window, user) frequencies for the same closed windows,
    # replayed in batch over the same 6h/1h window explosion
    from semantic_cpp_spark.session import load_table, ts_micros

    raw = load_table(spark, "/root/testdata/sf0.001", "events")
    tus = ts_micros(raw)
    hr = (tus / F.lit(3_600_000_000)).cast("long")
    exploded = raw.select(
        "user_id",
        F.explode(
            F.sequence(hr - F.lit(5), hr)
        ).alias("win_start"),
    )
    exact = {
        (r["win_start"], r["user_id"]): r["n"]
        for r in exploded.groupBy("win_start", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = raw.count()
    # one-sided: estimate never under-counts; expected overshoot ~ N/w
    for (w, u), c in est.items():
        true = exact.get((w, u), 0)
        assert c >= true, (w, u, c, true)
        assert c - true <= max(10, 0.05 * n_total), (w, u, c, true)


def test_sliding_quantiles_error_band_and_binning_parity(spark):
    """The quantile-sketch sliding form: (1) the Python qsketch_bin twin
    must agree with rollup._quantize bin-for-bin (the property that
    makes the SQL oracle valid); (2) every closed window's p50/p95/p99
    is within the 2^-7 relative bound of the EXACT in-window lower
    quantile computed from the raw events."""
    import random

    from semantic_cpp_spark.operators import rollup
    from semantic_cpp_spark.streaming.ops import (
        qsketch_bin,
        sliding_value_quantiles,
    )

    rng = random.Random(11)
    vals = [rng.randint(-(10**7), 10**9) for _ in range(400)] + list(
        range(-260, 261, 37)
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    spark_bins = [
        r["q"]
        for r in df.select(rollup._quantize("v").alias("q"))
        .orderBy("q")
        .collect()
    ]
    assert spark_bins == sorted(qsketch_bin(v) for v in vals)

    out = ops.run_to_memory(
        sliding_value_quantiles(
            ops.read_events_stream(spark, "/root/testdata/sf0.001")
        ),
        "append",
    ).collect()
    assert out, "no closed windows emitted"
    from semantic_cpp_spark.session import load_table, ts_micros

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    rows = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (ts_micros(ev) / F.lit(3_600_000_000)).cast("long").alias("hr"),
    )
    by_hr = {}
    for r in rows.collect():
        by_hr.setdefault(r["hr"], []).append(r["cents"])
    checked = 0
    for r in out[:40]:
        win = [
            c
            for h in range(r["win_start"], r["win_start"] + 6)
            for c in by_hr.get(h, [])
        ]
        if not win:
            continue
        win.sort()
        assert r["n"] == len(win)
        for p in (50, 95, 99):
            exact = win[(len(win) * p + 99) // 100 - 1]
            got = r[f"p{p}"]
            assert abs(got - exact) <= abs(exact) * 2**-7 + 1, (
                r["win_start"], p, got, exact,
            )
        checked += 1
    assert checked >= 10


def test_tokenizer_kernels_run_on_structured_streaming(spark, tmp_path):
    """The Arrow tokenizer kernels (BPE merge-apply and unigram
    Viterbi) are 1->1 mapInPandas with task-closure state — exactly
    the shape Structured Streaming supports stateless. Pin the claim:
    a file stream of documents segments per micro-batch and matches
    the batch output row for row (so an INCREMENTAL ingestion pipeline
    can tokenize with the SAME call the batch path uses)."""
    from pyspark.sql import functions as F

    from semantic_cpp_spark.pipeline import text as T
    from semantic_cpp_spark.pipeline import unigram

    src = str(tmp_path / "docs")
    docs = spark.createDataFrame(
        [(i, txt) for i, txt in enumerate(["hey lo", "lo lo hey", "he he"] * 4)],
        "doc_id long, text string",
    )
    docs.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    rules = [("h", "e"), ("l", "o")]
    pieces = [("h", -1_000_000), ("e", -1_200_000), ("y", -1_400_000),
              ("l", -1_100_000), ("o", -1_050_000), ("lo", -1_500_000)]

    want_bpe = sorted(
        map(tuple, T.bpe_segment(
            batch, F.col("text"), F.col("doc_id"), rules, impl="kernel"
        ).collect())
    )
    got_bpe = sorted(
        map(tuple, ops.run_to_memory(
            T.bpe_segment(
                stream, F.col("text"), F.col("doc_id"), rules, impl="kernel"
            ),
            "append",
        ).collect())
    )
    assert got_bpe == want_bpe

    want_uni = sorted(
        map(tuple, unigram.viterbi_segment(
            batch, F.col("text"), F.col("doc_id"), pieces
        ).collect())
    )
    got_uni = sorted(
        map(tuple, ops.run_to_memory(
            unigram.viterbi_segment(
                stream, F.col("text"), F.col("doc_id"), pieces
            ),
            "append",
        ).collect())
    )
    assert got_uni == want_uni

    # the r13 standalone-eow variant is the same stateless kernel shape —
    # boundary-piece emission must not change streaming eligibility
    want_eow = sorted(
        map(tuple, unigram.viterbi_segment(
            batch, F.col("text"), F.col("doc_id"), pieces, eow="</w>"
        ).collect())
    )
    got_eow = sorted(
        map(tuple, ops.run_to_memory(
            unigram.viterbi_segment(
                stream, F.col("text"), F.col("doc_id"), pieces, eow="</w>"
            ),
            "append",
        ).collect())
    )
    assert got_eow == want_eow and want_eow != want_uni


def test_lm_scoring_runs_on_structured_streaming(spark, tmp_path):
    """CCNet-style perplexity scoring of an INCREMENTAL corpus: the LM
    model tables are static (trained on a reference slice); the
    document stream left-joins them (stream-static joins) and
    aggregates per doc in update mode — the same lm_score_* call the
    batch path uses, batch==stream row for row, for BOTH smoothing
    generations (JM and interpolated KN). A complete-document-per-file
    source keeps every doc's events inside one micro-batch, so the
    per-doc sums are final when emitted (the realistic ingestion
    shape: documents arrive whole)."""
    from pyspark.sql import functions as F

    from semantic_cpp_spark.pipeline import retrieval

    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the cat sat on the mat", "a dog ate the bone",
             "the cat ate a fish", "a dog sat on a log"] * 3
        )],
        "doc_id long, text string",
    )
    src = str(tmp_path / "scoredocs")
    te = spark.createDataFrame(
        [(100, "the cat sat"), (101, "zz qq"), (102, "a dog ate the mat")],
        "doc_id long, text string",
    )
    te.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    for train_fn, score_fn in (
        (retrieval.lm_train_trigram, retrieval.lm_score_trigram),
        (retrieval.lm_train_kn_trigram, retrieval.lm_score_kn_trigram),
    ):
        lm = train_fn(train, F.col("text"))
        want = sorted(
            map(tuple, score_fn(
                batch, F.col("text"), F.col("doc_id"), lm
            ).collect())
        )
        got = sorted(
            map(tuple, ops.run_to_memory(
                score_fn(stream, F.col("text"), F.col("doc_id"), lm),
                "update",
            ).collect())
        )
        assert got == want, train_fn.__name__


def test_dsir_scoring_runs_on_structured_streaming(spark, tmp_path):
    """DSIR importance scoring of an INCREMENTAL corpus: the λ table is
    static (trained once on a reference corpus, exactly B rows,
    broadcast); the document stream joins it (stream-static broadcast
    join) and aggregates per doc in update mode — the same dsir_score
    call the batch path uses, batch==stream row for row. Unseen
    features are covered by the densified λ spine (every bucket
    present), so a NEW document with out-of-corpus vocabulary still
    scores every feature (Laplace floor) instead of dropping events —
    doc 102 below is entirely OOV vocabulary and must emit n_feats=5."""
    from pyspark.sql import functions as F

    from semantic_cpp_spark.pipeline import curation

    train = spark.createDataFrame(
        [(i, t, i % 2 == 0) for i, t in enumerate(
            ["the cat sat on the mat", "a dog ate the bone",
             "the cat ate a fish", "a dog sat on a log"] * 3
        )],
        "doc_id long, text string, is_tgt boolean",
    )
    lam = curation.dsir_train(train, F.col("text"), F.col("is_tgt"))
    assert lam.count() == curation.DSIR_BUCKETS  # densified spine
    src = str(tmp_path / "dsirdocs")
    te = spark.createDataFrame(
        [(100, "the cat sat"), (101, "a dog ate a fish"),
         (102, "zz qq xx")],
        "doc_id long, text string",
    )
    te.repartition(3).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    want = sorted(
        map(tuple, curation.dsir_score(
            batch, F.col("text"), F.col("doc_id"), lam
        ).collect())
    )
    assert len(want) == 3
    oov = [r for r in want if r[0] == 102]
    assert oov and oov[0][1] == 5  # 3 unigrams + 2 bigrams, none dropped
    got = sorted(
        map(tuple, ops.run_to_memory(
            curation.dsir_score(stream, F.col("text"), F.col("doc_id"), lam),
            "update",
        ).collect())
    )
    assert got == want


# -- fork-free local filesystem (session.get_spark) ---------------------------
# Checkpoints, offsets and state stores are written through Hadoop's local
# filesystem. The session binds NioLocalFileSystem/NioLocalFs, which must
# behave exactly like stock Hadoop; a session that silently falls back to
# stock Hadoop still works but forks per file, so that must fail here too.


def _raw_local_fs(spark, cls):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(jvm.java.lang.Class.forName(cls), conf)
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs


def _both_raw_fs(spark):
    return {
        "stock": _raw_local_fs(spark, "org.apache.hadoop.fs.RawLocalFileSystem"),
        "nio": _raw_local_fs(spark, "org.semanticcpp.fs.NioLocalFileSystem$Raw"),
    }


def test_session_binds_fork_free_local_fs(spark):
    from semantic_cpp_spark import session

    jvm = spark.sparkContext._jvm
    uri = jvm.java.net.URI("file:///")
    # streaming checkpoints resolve through the session state's hadoop conf
    for conf in (
        spark.sparkContext._jsc.hadoopConfiguration(),
        spark._jsparkSession.sessionState().newHadoopConf(),
    ):
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
        assert fs.getClass().getName() == session.NIO_FS
        assert fs.getRawFileSystem().getClass().getName() == session.NIO_FS + "$Raw"
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
        assert fc.getDefaultFileSystem().getClass().getName() == session.NIO_AFS


def test_local_fs_conf_binds_only_when_safe():
    import subprocess

    from semantic_cpp_spark.session import NIO_AFS, NIO_FS, local_fs_conf

    def never():
        raise AssertionError("jar built although the shim cannot apply")

    for master in ("yarn", "spark://h:7077", "local-cluster[2,1,1024]", "k8s://h"):
        assert local_fs_conf(master, False, never) == ({}, "non-local master")
    assert local_fs_conf("local[4]", True, never) == ({}, "existing JVM")
    assert local_fs_conf("local[4]", False, lambda: None) == ({}, "javac unavailable")

    def broken():
        raise subprocess.CalledProcessError(1, "javac", stderr="error: boom")

    assert local_fs_conf("local[4]", False, broken) == ({}, "jar build failed")
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        conf, why = local_fs_conf(master, False, lambda: "/jars/nio.jar")
        assert why == "active"
        assert conf == {
            "spark.driver.extraClassPath": "/jars/nio.jar",
            "spark.hadoop.fs.file.impl": NIO_FS,
            "spark.hadoop.fs.AbstractFileSystem.file.impl": NIO_AFS,
        }


def test_python_daemon_conf_binds_only_when_safe():
    from semantic_cpp_spark import session

    for master in ("yarn", "spark://h:7077", "local-cluster[2,1,1024]", "k8s://h"):
        assert session.python_daemon_conf(master, False) == {}
    assert session.python_daemon_conf("local[4]", True) == {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert session.python_daemon_conf(master, False) == {
            "spark.python.daemon.module": "semantic_cpp_spark.pyworker",
            "spark.executorEnv.PYTHONPATH": root,
        }


def test_session_workers_run_engine_invalidate_caches(spark):
    """Python workers of the tests session come from the engine's daemon,
    so each task's ``importlib.invalidate_caches()`` runs its zip guard."""
    import pandas as pd

    from semantic_cpp_spark import pyworker

    def probe(pdfs):
        import zipimport

        for _ in pdfs:
            code = zipimport.zipimporter.invalidate_caches.__code__
            yield pd.DataFrame({"f": [code.co_filename], "fn": [code.co_name]})

    rows = set(map(tuple, spark.range(4).repartition(2).mapInPandas(
        probe, "f string, fn string").collect()))
    assert rows == {(os.path.abspath(pyworker.__file__), "invalidate_caches")}


_ZIP_GUARD = r"""
import importlib, os, sys, zipfile, zipimport

archive = sys.argv[1]

def write(mods):
    tmp = archive + ".part"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in mods:
            z.writestr(name + ".py", f"NAME = {name!r}\n")
    os.replace(tmp, archive)

write(["zg_first"])
sys.path.insert(0, archive)
from semantic_cpp_spark import pyworker
import zg_first
pyworker.install()
importlib.invalidate_caches()  # the daemon's one read at start-up

reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or real(path)
for _ in range(3):
    importlib.invalidate_caches()
unchanged = reads.count(archive)

write(["zg_first", "zg_added"])
importlib.invalidate_caches()
import zg_added
print(unchanged, reads.count(archive), zg_added.NAME)
"""


def test_worker_zip_guard_reads_only_changed_archives(tmp_path):
    """Unchanged archive: no directory read on ``invalidate_caches()``
    however many importers and tasks. Rewritten archive: read again, so a
    module added to it (``addPyFile``) imports."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_GUARD, str(tmp_path / "lib.zip")],
        capture_output=True, text=True, timeout=120, check=True,
        env={**os.environ, "PYTHONPATH": root},
    ).stdout.split()
    assert out == ["0", "1", "zg_added"]


def test_nio_fs_jar_is_cached_outside_repo_and_tmpdir(spark):
    import tempfile

    from semantic_cpp_spark.session import nio_fs_jar

    jar = nio_fs_jar()
    assert jar is not None and os.path.isfile(jar)
    assert nio_fs_jar() == jar
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for root in (repo, tempfile.gettempdir()):
        assert not os.path.realpath(jar).startswith(os.path.realpath(root) + os.sep)
    assert jar in spark.sparkContext.getConf().get("spark.driver.extraClassPath")


def test_get_spark_logs_one_local_fs_line(spark, caplog):
    import logging

    from semantic_cpp_spark.session import (
        CODEGEN_CACHE_ENTRIES, NIO_FS, PY_DAEMON, class_archive_state, get_spark,
    )

    with caplog.at_level(logging.INFO, logger="semantic_cpp_spark.session"):
        assert get_spark("tests", master="local[4]", shuffle_partitions=4) is spark
    lines = [r.getMessage() for r in caplog.records if "local filesystem" in r.getMessage()]
    assert lines == [
        f"get_spark: local filesystem {NIO_FS} (existing JVM), "
        f"python worker daemon {PY_DAEMON}, "
        f"codegen cache {CODEGEN_CACHE_ENTRIES} classes, "
        f"class archive {class_archive_state(spark)} (existing JVM), "
        "call-site capture off"
    ]


# -- class-data-sharing archive (session.class_archive_conf) ------------------
# A local JVM launched by get_spark maps a dynamic AppCDS archive of the
# Spark classes, dumped by the first launch of a key. The archive must
# only ever be mapped by a JVM whose JDK and classpath it was dumped for,
# and a partial dump must never be published.


def _spark_home(tmp_path, conf_files=("spark-defaults.conf.template", "workers.template")):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    for name in ("spark-core.jar", "scala-library.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    (home / "conf").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("")
    return str(home)


def _archive_call(home, cache, conf=None, master="local[4]", jvm_running=False):
    from semantic_cpp_spark import session

    conf = {"spark.driver.memory": "1g", **(conf or {})}
    return session.class_archive_conf(
        master, jvm_running, conf, session._jdk_tool("java"), home, str(cache))


def _flag(conf, name):
    import re

    m = re.search(rf"-XX:{name}=(\S+)", conf["spark.driver.defaultJavaOptions"])
    return m and m.group(1)


def _dead_pid():
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_class_archive_conf_binds_only_when_safe(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    home, cache = _spark_home(tmp_path), tmp_path / "cache"
    cache.mkdir()
    for master in ("yarn", "spark://h:7077", "local-cluster[2,1,1024]"):
        assert _archive_call(home, cache, master=master) == ({}, {}, "non-local master")
    assert _archive_call(home, cache, jvm_running=True) == ({}, {}, "existing JVM")
    real = _spark_home(tmp_path / "real", ("spark-defaults.conf.template", "spark-defaults.conf"))
    assert _archive_call(real, cache) == ({}, {}, "conf dir has files")
    monkeypatch.setenv("SPARK_CONF_DIR", os.path.join(real, "conf"))
    assert _archive_call(home, cache) == ({}, {}, "conf dir has files")
    assert os.listdir(cache) == []


def test_class_archive_conf_dumps_once_then_maps(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    home, cache = _spark_home(tmp_path), tmp_path / "cache"
    cache.mkdir()
    empty = str(cache / "cds-conf")

    conf, env, why = _archive_call(home, cache)  # templates only: a miss
    assert (why, env) == ("miss", {"SPARK_CONF_DIR": empty})
    assert os.listdir(empty) == []
    part = _flag(conf, "ArchiveClassesAtExit")
    assert part.startswith(str(cache / "cds-")) and part.endswith(".part")
    opts = conf["spark.driver.defaultJavaOptions"]
    assert "-Xlog:cds*=off " in opts and ":file=" + str(cache / "cds-logs") in opts

    # this process is the claimed writer: a second launch neither dumps nor maps
    assert _archive_call(home, cache) == ({}, {}, "dump in flight")

    archive = part.rsplit(".", 2)[0] + ".jsa"
    os.remove(part[: -len(".part")] + ".json")
    with open(archive, "wb") as f:
        f.write(b"published")
    os.utime(archive, (1, 1))
    conf, env, why = _archive_call(home, cache)
    assert (why, env) == ("hit", {"SPARK_CONF_DIR": empty})
    assert _flag(conf, "SharedArchiveFile") == archive
    assert _flag(conf, "ArchiveClassesAtExit") is None
    assert os.path.getmtime(archive) > 1  # touched on use

    # one jar restamped: a new key, so a new dump and never the old archive
    jar = os.path.join(home, "jars", "spark-core.jar")
    os.utime(jar, ns=(os.stat(jar).st_atime_ns, os.stat(jar).st_mtime_ns + 1))
    conf, _, why = _archive_call(home, cache)
    assert why == "miss"
    assert _flag(conf, "SharedArchiveFile") is None
    assert not _flag(conf, "ArchiveClassesAtExit").startswith(archive[: -len(".jsa")])
    # another heap size is another compressed-oops mode: another key too
    assert _archive_call(home, cache, {"spark.driver.memory": "40g"})[2] == "miss"


def test_class_archive_flags_keep_caller_java_options(tmp_path, monkeypatch):
    from semantic_cpp_spark.session import merge_conf

    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    home, cache = _spark_home(tmp_path), tmp_path / "cache"
    cache.mkdir()
    archive, _, _ = _archive_call(home, cache)
    engine = archive["spark.driver.defaultJavaOptions"]
    caller = {
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/w/tmp",
        "spark.driver.defaultJavaOptions": "-Dcaller=1",
    }
    got = merge_conf(merge_conf({"spark.driver.extraClassPath": "/jars/nio.jar"}, archive),
                     {**caller, "spark.driver.extraClassPath": "/jars/more.jar"})
    assert got == {
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/w/tmp",
        "spark.driver.defaultJavaOptions": engine + " -Dcaller=1",
        "spark.driver.extraClassPath": os.pathsep.join(["/jars/nio.jar", "/jars/more.jar"]),
    }


def _small_archive(tmp_path, classpath):
    """A real dynamic archive of the JDK's own start-up classes."""
    import subprocess

    from semantic_cpp_spark.session import _jdk_tool

    path = str(tmp_path / "small.jsa")
    subprocess.run([_jdk_tool("java"), f"-XX:ArchiveClassesAtExit={path}", "-Xlog:cds=off",
                    "-cp", classpath, "-version"], check=True, capture_output=True, timeout=120)
    with open(path, "rb") as f:
        return f.read()


def test_class_archive_partial_dump_is_never_published(tmp_path, monkeypatch):
    """A dump whose writer is gone is published only if a JVM maps it
    (``-Xshare:on ... -version``, no Spark session): a truncated or
    garbage ``.part`` is deleted, and a key whose dump failed twice
    stops dumping."""
    import json

    from semantic_cpp_spark.session import _jdk_tool

    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    home, cache = _spark_home(tmp_path), tmp_path / "cache"
    cache.mkdir()
    classpath = os.path.join(home, "jars", "spark-core.jar")
    good = _small_archive(tmp_path, classpath)

    def dump(conf, content):
        """Complete a claimed dump as a JVM that exited would leave it."""
        part = _flag(conf, "ArchiveClassesAtExit")
        with open(part, "wb") as f:
            f.write(content)
        with open(part[: -len(".part")] + ".json", "w") as f:
            json.dump({"pid": _dead_pid(), "java": _jdk_tool("java"),
                       "classpath": classpath, "jvm_args": ["-Xmx1g"]}, f)
        return part

    conf, _, why = _archive_call(home, cache)
    assert why == "miss"
    for bad in (good[: len(good) // 2], os.urandom(len(good))):
        part = dump(conf, bad)
        key = os.path.basename(part).split(".")[0]
        # settles the dead writer's dump, then claims the next while under the limit
        conf, _, why = _archive_call(home, cache)
        assert not os.path.exists(part)
        assert not os.path.exists(cache / f"{key}.jsa")
    assert why == "dump failed twice"
    assert [f for f in os.listdir(cache) if f.endswith((".part", ".jsa"))] == []

    os.remove(cache / f"{key}.failed")
    conf, _, why = _archive_call(home, cache)
    assert why == "miss"
    dump(conf, good)
    conf, _, why = _archive_call(home, cache)
    assert why == "hit" and _flag(conf, "SharedArchiveFile") == str(cache / f"{key}.jsa")
    with open(cache / f"{key}.jsa", "rb") as f:
        assert f.read() == good


def test_class_archive_cache_keeps_recent_and_mapped(tmp_path, monkeypatch):
    import mmap

    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    home, cache = _spark_home(tmp_path), tmp_path / "cache"
    (cache / "cds-logs").mkdir(parents=True)
    old = []
    for i in range(5):
        path = cache / f"cds-{i:016x}.jsa"
        path.write_bytes(b"archive")
        os.utime(path, (100 + i, 100 + i))
        old.append(path)
    stale_log = cache / "cds-logs" / f"abc-{_dead_pid()}.log"
    live_log = cache / "cds-logs" / f"abc-{os.getpid()}.log"
    stale_log.write_text("")
    live_log.write_text("")
    with open(old[0], "rb") as f, mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ):
        _archive_call(home, cache)  # a miss, which prunes
        kept = sorted(p.name for p in cache.glob("cds-*.jsa"))
    # the three most recently used, plus the oldest, which a process maps
    assert kept == [old[0].name, old[2].name, old[3].name, old[4].name]
    assert not stale_log.exists() and live_log.exists()


def test_read_cds_log_states():
    from semantic_cpp_spark.session import _read_cds_log

    static = "[0.008s][info][cds] Mapped static  region #0 at base 0x7f (ReadWrite)\n"
    dynamic = "[0.017s][info][cds] Mapped dynamic region #0 at base 0x7f (ReadWrite)\n"
    mismatch = (
        "[0.109s][info][cds] UseSharedSpaces: shared class paths mismatch "
        "(hint: enable -Xlog:class+path=info to diagnose the failure)\n"
        "[0.117s][warning][cds,dynamic] Unable to use shared archive. "
        "The top archive failed to load: /c/a.jsa\n"
    )
    assert _read_cds_log(static + dynamic, dumping=False) == ("mapped", None)
    assert _read_cds_log(static, dumping=True) == ("dumping", None)
    assert _read_cds_log(static + dynamic + mismatch, dumping=False) == (
        "unmapped", "shared class paths mismatch")
    assert _read_cds_log(static, dumping=False)[0] == "unmapped"
    assert _read_cds_log("", dumping=True)[0] == "unmapped"


_ARCHIVE_LAUNCH = r"""
import json, logging, sys
logging.basicConfig(level=logging.INFO, stream=sys.stdout, format="%(message)s")
from pyspark import SparkContext
from semantic_cpp_spark.session import get_spark
import __spark_entry__ as e
spark = get_spark("archive_probe", master="local[2]", shuffle_partitions=2)
rows = e.queries()["agg_skew_kurt"](spark, sys.argv[1]).collect()
print("ROWS " + json.dumps(sorted(map(str, rows))))
spark.stop()
gateway = SparkContext._gateway
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=240)  # a dumping JVM writes its archive at exit
"""


def test_get_spark_dumps_then_maps_class_archive(tmp_path):
    """First launch of a fresh cache dumps the archive at JVM exit; the
    next launch maps it (as read from its CDS log) and answers the same."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "XDG_CACHE_HOME": str(tmp_path),
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("SPARK_CONF_DIR", None)
    runs = []
    for _ in range(2):
        out = subprocess.run([sys.executable, "-c", _ARCHIVE_LAUNCH, SF], env=env, cwd=root,
                             capture_output=True, text=True, timeout=600)
        assert out.returncode == 0, out.stderr[-3000:]
        lines = out.stdout.splitlines()
        info = [ln for ln in lines if ln.startswith("get_spark: ")]
        rows = [ln for ln in lines if ln.startswith("ROWS ")]
        assert len(info) == 1 and len(rows) == 1, out.stdout[-3000:]
        assert "cds" not in out.stdout.replace(str(tmp_path), "").lower()
        runs.append((info[0].split(", ")[-2], rows[0]))
    assert [state for state, _ in runs] == [
        "class archive dumping (miss)", "class archive mapped (hit)"]
    assert runs[0][1] == runs[1][1]


@pytest.mark.parametrize("mode", [0o644, 0o755, 0o600, 0o777, 0o1777])
def test_nio_set_permission_matches_stock_hadoop(spark, tmp_path, mode):
    jvm = spark.sparkContext._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}")
    assert perm.toShort() == mode
    modes = {}
    for name, fs in _both_raw_fs(spark).items():
        f, d = tmp_path / f"{name}.txt", tmp_path / f"{name}_dir"
        f.write_text("x")
        d.mkdir()
        for target in (f, d):
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(target)), perm)
        modes[name] = [os.stat(f).st_mode, os.stat(d).st_mode]
        for target in (f, d):
            os.chmod(target, 0o755)
    assert modes["nio"] == modes["stock"]


def test_nio_file_link_status_matches_stock_hadoop(spark, tmp_path):
    from py4j.protocol import Py4JJavaError

    jvm = spark.sparkContext._jvm
    (tmp_path / "file.txt").write_text("hello")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file.txt", tmp_path / "link")
    os.symlink(tmp_path / "dir", tmp_path / "dirlink")

    def status(fs, p):
        st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(p))
        link = str(st.getSymlink().toString()) if st.isSymlink() else None
        return st.isFile(), st.isDirectory(), st.isSymlink(), st.getLen(), link

    fss = _both_raw_fs(spark)
    for name in ("file.txt", "dir", "link", "dirlink"):
        for p in (str(tmp_path / name), (tmp_path / name).as_uri()):
            assert status(fss["nio"], p) == status(fss["stock"], p), p
    for p in (str(tmp_path / "missing"), (tmp_path / "missing").as_uri()):
        for fs in fss.values():
            with pytest.raises(Py4JJavaError) as ex:
                status(fs, p)
            assert ex.value.java_exception.getClass().getName() == "java.io.FileNotFoundException"


# -- per-key update folds vs the pandas route they replaced -----------------
# The three applyInPandasWithState folds order a key's rows with numpy
# instead of pd.concat + sort_values. The copies below are the pandas
# bodies as they were; outputs and states must match bit for bit (floats
# compared by bit pattern, so a changed summation order fails and NaN
# matches NaN).


class _State:
    def __init__(self, value=None):
        self.value = value

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def _pandas_count_window_update(size):
    import pandas as pd

    def update(key, pdfs, state):
        if state.exists:
            seen, buf_sum, buf_n = state.get
        else:
            seen, buf_sum, buf_n = 0, 0.0, 0
        out = []
        rows = pd.concat(list(pdfs)).sort_values("event_id")
        for v in rows["value"]:
            buf_sum += v
            buf_n += 1
            if buf_n == size:
                out.append({"user_id": key[0], "win": seen // size,
                            "n": buf_n, "sum_value": buf_sum})
                seen += buf_n
                buf_sum, buf_n = 0.0, 0
        state.update((seen, buf_sum, buf_n))
        yield pd.DataFrame(out, columns=["user_id", "win", "n", "sum_value"])

    return update


def _pandas_funnel_update(steps):
    import pandas as pd

    s1, s2, s3 = steps

    def update(key, pdfs, state):
        if state.exists:
            t1, t2, t3 = state.get
        else:
            t1 = t2 = t3 = -1
        rows = pd.concat(list(pdfs)).sort_values(["tus", "event_id"])
        for et, t in zip(rows["event_type"], rows["tus"]):
            t = int(t)
            if et == s1 and t1 < 0:
                t1 = t
            elif et == s2 and t1 >= 0 and t2 < 0 and t > t1:
                t2 = t
            elif et == s3 and t2 >= 0 and t3 < 0 and t > t2:
                t3 = t
        state.update((t1, t2, t3))
        stage = 3 if t3 >= 0 else 2 if t2 >= 0 else 1 if t1 >= 0 else 0
        yield pd.DataFrame([{
            "user_id": key[0],
            "t_1": None if t1 < 0 else t1,
            "t_2": None if t2 < 0 else t2,
            "t_3": None if t3 < 0 else t3,
            "stage": stage,
        }])

    return update


def _pandas_attr_update(conversion, ranked, lookback_us):
    import pandas as pd

    rank = {ty: i for i, ty in enumerate(ranked)}

    def update(key, pdfs, state):
        lt = state.get[0] if state.exists else -1
        rows = pd.concat(list(pdfs)).sort_values(["tus", "event_id"])
        out = []
        uid = key[0]
        for eid, et, t in zip(rows["event_id"], rows["event_type"], rows["tus"]):
            t = int(t)
            if et == conversion:
                if lt >= 0 and t - lt // 8 <= lookback_us:
                    out.append((int(eid), uid, t, lt // 8, ranked[lt % 8], t - lt // 8))
                else:
                    out.append((int(eid), uid, t, None, None, None))
            r = rank.get(et)
            if r is not None:
                enc = t * 8 + r
                if enc > lt:
                    lt = enc
        state.update((lt,))
        yield pd.DataFrame(out, columns=[
            "event_id", "user_id", "t_conv", "t_touch", "touch_type", "latency_us",
        ])

    return update


def _bits(x):
    if isinstance(x, float):
        return x.hex()
    if isinstance(x, tuple):
        return tuple(map(_bits, x))
    return x


def _fold(fn, chunks, state):
    import pandas as pd

    st = _State(state)
    (out,) = fn((7,), iter([c.copy() for c in chunks]), st)
    assert isinstance(out, pd.DataFrame)
    rows = [_bits(r) for r in out.itertuples(index=False, name=None)]
    return list(out.columns), list(map(str, out.dtypes)), rows, _bits(st.value)


def _chunks(columns, rows, cuts):
    """``rows`` split at ``cuts`` into frames of ``columns`` (the arrival
    order of one key's rows inside a micro-batch)."""
    import pandas as pd

    bounds = [0, *cuts, len(rows)]
    return [
        pd.DataFrame(rows[a:b], columns=columns).astype(
            {"user_id": "int64", "event_id": "int64"}
        )
        for a, b in zip(bounds, bounds[1:])
    ]


def _value_chunks(null_at=None):
    # Summing in arrival order and in event_id order gives different
    # floats, so a fold in the wrong order cannot pass.
    vals = [1e16, 0.1, -1e16, 0.7, 0.2, 1e-3, 3.3, -0.1, 2.5, 1e15, 0.3]
    ids = [9, 2, 5, 0, 10, 7, 1, 4, 8, 3, 6]
    if null_at is not None:
        vals[null_at] = float("nan")
    rows = [(7, i, v) for i, v in zip(ids, vals)]
    return _chunks(["user_id", "event_id", "value"], rows, [3, 4, 8])


def test_fold_fixture_is_order_sensitive():
    import math

    vals = [v for c in _value_chunks() for v in c["value"]]
    by_id = [v for _, v in sorted(
        zip([i for c in _value_chunks() for i in c["event_id"]], vals))]
    assert math.fsum(vals) == math.fsum(by_id)
    assert sum(vals) != sum(by_id)


@pytest.mark.parametrize("state", [None, (20, 0.1, 2)])
@pytest.mark.parametrize("null_at", [None, 6])
def test_count_window_update_matches_pandas_fold(state, null_at):
    chunks = _value_chunks(null_at)
    got = _fold(ops._make_count_window_update(3), chunks, state)
    assert got == _fold(_pandas_count_window_update(3), chunks, state)
    assert len(got[2]) >= 3


_M = 1_000_000
# (user_id, event_id, event_type, tus): tied tus at 40 and 60 s, where
# event_id decides the order; event_id order unlike tus order; a null
# event_type; arrival out of order.
_FLOW_ROWS = [
    (7, 6, "purchase", 60 * _M), (7, 11, "signup", 40 * _M),
    (7, 13, "view", 40 * _M), (7, 5, None, 50 * _M),
    (7, 12, "click", 40 * _M), (7, 14, "purchase", 40 * _M),
    (7, 8, "view", 60 * _M), (7, 7, "click", 60 * _M),
    (7, 9, "purchase", 70 * _M), (7, 20, "view", 30 * _M),
]


@pytest.mark.parametrize("state", [None, (20 * _M, -1, -1)])
def test_funnel_update_matches_pandas_fold(state):
    steps = ("signup", "view", "purchase")
    chunks = _chunks(["user_id", "event_id", "event_type", "tus"], _FLOW_ROWS, [4, 7])
    got = _fold(ops._make_funnel_update(steps), chunks, state)
    assert got == _fold(_pandas_funnel_update(steps), chunks, state)


@pytest.mark.parametrize("state", [None, (10 * _M * 8 + 2,)])
def test_attr_update_matches_pandas_fold(state):
    args = ("purchase", ("click", "signup", "view"), 25 * _M)
    chunks = _chunks(["user_id", "event_id", "event_type", "tus"], _FLOW_ROWS, [2, 3, 8])
    got = _fold(ops._make_attr_update(*args), chunks, state)
    assert got == _fold(_pandas_attr_update(*args), chunks, state)
    # ties: purchase 14 sorts after the touches at 40 s and is credited to
    # one of them; purchase 6 sorts before the touches at 60 s, so it is not
    touch_s = {r[0]: r[3] // _M for r in got[2]}
    assert touch_s == {14: 40, 6: 40, 9: 60}
