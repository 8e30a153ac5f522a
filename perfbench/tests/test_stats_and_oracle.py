"""Self-tests of the benchmark's percentile rule, comparator and inputs.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from perfbench import gen, oracle
from perfbench.trace import tail, union_s


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = list(range(1, 21))  # 20 samples
    value, pct, n = tail(values)
    assert (value, pct, n) == (10, 50.0, 20)
    assert sum(v > value for v in values) == 10


def test_tail_needs_eleven_samples():
    assert tail(list(range(10))) is None
    assert tail(list(range(11))) == (0, 100.0 / 11, 11)


def test_tail_ignores_input_order():
    assert tail([5, 1, 4, 2, 3] * 4) == tail(sorted([5, 1, 4, 2, 3] * 4))


def test_union_merges_overlaps_and_clips():
    assert union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_s([], 0, 1) == 0


COLS = ["k", "v"]
ROWS = [(1, 0.5), (2, None), (3, 2.25)]


def test_comparator_accepts_reordered_rows_and_columns():
    want = oracle.canonical(COLS, ROWS)
    got = oracle.canonical(["v", "K"], [(r[1], r[0]) for r in reversed(ROWS)])
    assert oracle.mismatch(got, want) is None


def test_comparator_catches_planted_wrong_row():
    want = oracle.canonical(COLS, ROWS)
    planted = [ROWS[0], (2, 0.0), ROWS[2]]
    msg = oracle.mismatch(oracle.canonical(COLS, planted), want)
    assert msg is not None and "differing row" in msg


def test_comparator_catches_missing_row_and_renamed_column():
    want = oracle.canonical(COLS, ROWS)
    assert "row count" in oracle.mismatch(oracle.canonical(COLS, ROWS[:2]), want)
    assert "columns" in oracle.mismatch(oracle.canonical(["k", "w"], ROWS), want)


def test_comparator_rounds_floats_to_nine_places():
    want = oracle.canonical(["x"], [(0.1 + 0.2,)])
    assert oracle.mismatch(oracle.canonical(["x"], [(0.3,)]), want) is None
    assert oracle.mismatch(oracle.canonical(["x"], [(0.3001,)]), want) is not None


def test_same_seed_gives_same_input_hash(tmp_path):
    a = gen.ensure_inputs(str(tmp_path / "a"), 0.001, 7, 3, 1)
    b = gen.ensure_inputs(str(tmp_path / "b"), 0.001, 7, 3, 1)
    c = gen.ensure_inputs(str(tmp_path / "c"), 0.001, 8, 3, 1)
    assert gen.input_hash(a) == gen.input_hash(b)
    assert gen.input_hash(a) != gen.input_hash(c)


def test_stream_split_is_time_ordered_and_complete(tmp_path):
    import pyarrow.parquet as pq

    d = gen.ensure_inputs(str(tmp_path), 0.001, 7, 3, 1)
    parts = [pq.read_table(f"{d}/{gen.STREAM_DIR}/part-{i:03d}.parquet") for i in range(3)]
    assert sum(p.num_rows for p in parts) == pq.read_metadata(f"{d}/events.parquet").num_rows
    bounds = [(p.column("ts")[0].as_py(), p.column("ts")[-1].as_py()) for p in parts]
    assert all(bounds[i][1] <= bounds[i + 1][0] for i in range(2))
    warm = pq.read_table(f"{d}/{gen.STREAM_WARMUP_DIR}/part-000.parquet")
    assert warm.equals(parts[0])
