"""Coverage for the long-tail surface: random/generate sources, findAny,
forEach, collection terminals, out/error collectors, lastIndexOf, charset
encode/decode round-trips (SURVEY §5.4 golden files)."""

import sys

import pytest
from pyspark.sql import functions as F

from semantic_cpp_spark.functions import charsets, strings
from semantic_cpp_spark.sources import from_container, use_generate, use_random


def test_use_random_bounds_and_count(spark):
    s = use_random(spark, 500, 10, 20)
    vals = s.to_list()
    assert len(vals) == 500
    assert all(10 <= v < 20 for v in vals)
    ints = use_random(spark, 300, 0, 5, integers=True).to_list()
    assert set(ints) <= {0, 1, 2, 3, 4}
    assert len(set(ints)) > 1  # actually random


def test_use_generate(spark):
    it = iter(range(100))
    s = use_generate(spark, lambda: next(it), 5)
    assert s.to_list() == [0, 1, 2, 3, 4]


def test_find_any_and_for_each(spark):
    s = from_container(spark, [7, 8, 9])
    got = s.scalar(s.find_any())
    assert got in (7, 8, 9)
    seen = []
    n = s.for_each(seen.append)
    assert n == 3 and seen == [7, 8, 9]


def test_collection_terminals(spark):
    s = from_container(spark, [3, 1, 3, 2])
    assert s.to_vector() == [3, 1, 3, 2]
    assert s.to_set() == {1, 2, 3}
    m = s.to_map(lambda v: v % 2, lambda v, i: i)
    # last write wins in index order: odd→idx3? no: 3@0,1@1,3@2,2@3
    assert m == {1: 2, 0: 3}


def test_use_out_and_error(spark, capsys):
    s = from_container(spark, [1, 2])
    out = s.use_out()
    err = s.use_error("|", "<", ">")
    cap = capsys.readouterr()
    assert out == "[1, 2]" and "[1, 2]" in cap.out
    assert err == "<1|2>" and "<1|2>" in cap.err


def test_frame_group_partition_windows(spark):
    s = from_container(spark, ["ax", "bx", "ay"])
    grouped = {r["key"]: list(r["values"]) for r in s.group(
        lambda v: F.substring(v, 1, 1)
    ).collect()}
    assert grouped == {"a": ["ax", "ay"], "b": ["bx"]}
    chunks = {r["chunk"]: list(r["values"]) for r in s.partition(2).collect()}
    assert chunks == {0: ["ax", "bx"], 1: ["ay"]}
    wins = {r["win_start"]: list(r["values"]) for r in s.tumble(2).collect()}
    assert wins == {0: ["ax", "bx"], 2: ["ay"]}


def test_last_index_of(spark):
    one = lambda c: spark.range(1).select(c.alias("r")).first()["r"]  # noqa: E731
    assert one(strings.last_index_of(F.lit("abcabc"), "abc")) == 3
    assert one(strings.last_index_of(F.lit("abcabc"), "c")) == 5
    assert one(strings.last_index_of(F.lit("abc"), "zz")) == -1
    assert one(strings.last_index_of(F.lit("aaaa"), "aa")) == 2


CHARSETS = ["ascii", "latin1", "utf8", "utf16", "utf16le", "utf16be",
            "utf32", "utf32le", "utf32be"]


def test_charset_round_trips(spark):
    """encode→decode round-trips across all 9 reference charsets
    (charsequence.h:123-544)."""
    text = "héllo wörld ☃"  # non-ASCII beyond latin1 for the utf variants
    plain = "hello"
    df = spark.createDataFrame([(text,), (plain,)], "s string")
    for cs in CHARSETS:
        probe = plain if cs in ("ascii", "latin1") else text
        got = (
            df.filter(F.col("s") == probe)
            .select(charsets.decode_charset(charsets.encode_charset(F.col("s"), cs), cs).alias("r"))
            .first()["r"]
        )
        assert got == probe, cs


def test_utf32_invalid_bytes_replacement(spark):
    """Invalid input decodes to U+FFFD, never throws (charsequence.h:265-495)."""
    df = spark.createDataFrame([(bytes([0x41, 0x00, 0x00, 0x00, 0xFF, 0xFF]),)], "b binary")
    got = df.select(charsets.decode_charset(F.col("b"), "utf32").alias("r")).first()["r"]
    assert got.startswith("A")
    assert "�" in got


def test_convert_charset(spark):
    df = spark.createDataFrame([("snow ☃",)], "s string")
    out = df.select(
        charsets.decode_charset(
            charsets.convert_charset(
                charsets.encode_charset(F.col("s"), "utf8"), "utf8", "utf32be"
            ),
            "utf32be",
        ).alias("r")
    ).first()["r"]
    assert out == "snow ☃"


def test_to_statistics_bundle(spark):
    """Statistics terminal (semantic.h:600-879): one-row numeric bundle."""
    s = from_container(spark, [1.0, 2.0, 3.0, 4.0])
    r = s.to_statistics().first()
    assert (r["n"], r["sum"], r["avg"], r["min"], r["max"]) == (4, 10.0, 2.5, 1.0, 4.0)
    assert r["range"] == 3.0 and abs(r["var_pop"] - 1.25) < 1e-12
    assert r["median"] == 2.5


def test_peek_observe_metrics(spark):
    """peek via DataFrame.observe: metrics fire on materialisation without
    altering the stream."""
    from pyspark.sql import Observation

    s = from_container(spark, [5, 6, 7])
    obs = Observation("peeked")
    df = s.to_df().observe(obs, F.count(F.lit(1)).alias("rows"), F.sum("value").alias("total"))
    assert df.count() == 3
    assert obs.get == {"rows": 3, "total": 18}


def test_container_as_element_semantics(spark):
    """Container-as-element (reference hash.h/less.h, README.md:474):
    ARRAY values work as dedup keys, sort keys, and group keys."""
    rows = [([1, 2],), ([1, 2],), ([2, 1],), ([1],)]
    df = spark.createDataFrame(rows, "value array<int>")
    from semantic_cpp_spark.indexing import IDX, with_ordinal
    from semantic_cpp_spark.frame import SemanticFrame

    idxed = with_ordinal(
        df.selectExpr("value", "monotonically_increasing_id() AS k"), ["k"]
    ).select(IDX, "value")
    s = SemanticFrame(idxed)
    # first-occurrence dedup on the array value
    assert s.distinct().to_list() == [[1, 2], [2, 1], [1]]
    # arrays sort lexicographically (element-wise, then length)
    assert s.sort().to_list() == [[1], [1, 2], [1, 2], [2, 1]]
    # arrays as group keys
    grouped = {tuple(r["key"]): len(r["values"]) for r in s.group(lambda v: v).collect()}
    assert grouped == {(1, 2): 2, (2, 1): 1, (1,): 1}


def test_repeat_iterate_and_text_lines(spark, tmp_path):
    """useRepeat (semantic.h:2086-2099), useIterate bounded prefix
    (semantic.h:1829-1871), and useBlob line streaming
    (semantic.h:2140-2184)."""
    from semantic_cpp_spark.sources import from_repeat, from_text_lines, iterate

    assert from_repeat(spark, "x", 3).pairs() == [(0, "x"), (1, "x"), (2, "x")]
    # edge cases: zero count is empty; numeric elements keep their type and
    # compose with downstream aggregation
    assert from_repeat(spark, "x", 0).to_list() == []
    sevens = from_repeat(spark, 7, 4)
    assert sevens.to_list() == [7, 7, 7, 7]
    assert sevens.map(lambda v, i: v + i).to_list() == [7, 8, 9, 10]

    s = iterate(spark, 1, lambda c: c * 2, 5)
    assert s.to_list() == [1, 2, 4, 8, 16]

    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    lines = from_text_lines(spark, str(p))
    assert lines.to_list() == ["alpha", "beta", "gamma"]
    # composes with the stream ops like any other source
    assert lines.filter(lambda v: v != "beta").pairs() == [(0, "alpha"), (1, "gamma")]


def test_iterate_closed_form_and_edge_cases(spark):
    """useIterate at scale (semantic.h:1763-1871): limit<=0 is empty (the
    r1 advisor caught the one-seed leak); affine recurrences switch to a
    closed form over spark.range — constant plan depth, so limit=10^6
    plans instantly instead of blowing up Catalyst."""
    from semantic_cpp_spark.sources import iterate

    assert iterate(spark, 7, lambda c: c + 1, 0).to_list() == []
    assert iterate(spark, 7, lambda c: c + 1, -3).to_list() == []

    # arithmetic progression at 1e6 — closed form, distributed
    big = iterate(spark, 10, lambda c: c + 3, 1_000_000)
    assert big.to_df().count() == 1_000_000
    got = {r["__idx"]: r["value"] for r in big.to_df().filter(
        "__idx IN (0, 1, 999999)").collect()}
    assert got == {0: 10, 1: 13, 999999: 10 + 3 * 999999}

    # float geometric decay — closed form via pow
    geo = iterate(spark, 1.0, lambda c: c * 0.5, 1000)
    vals = {r["__idx"]: r["value"] for r in geo.to_df().filter(
        "__idx IN (0, 3, 50)").collect()}
    assert vals[0] == 1.0 and abs(vals[3] - 0.125) < 1e-12
    assert abs(vals[50] - 0.5**50) < 1e-24

    # alternation and fixpoint stay exact
    alt = iterate(spark, 5, lambda c: -c, 1001)
    a = {r["__idx"]: r["value"] for r in alt.to_df().filter(
        "__idx IN (0, 1, 1000)").collect()}
    assert a == {0: 5, 1: -5, 1000: 5}
    assert iterate(spark, 4, lambda c: c, 500).to_df().where(
        "value != 4").count() == 0

    # non-affine big limit: loud failure, not a planner hang
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-affine"):
        iterate(spark, 2, lambda c: c * c, 10_000)
    # ...but small non-affine limits still unroll fine
    assert iterate(spark, 2, lambda c: c * c, 4).to_list() == [2, 4, 16, 256]


def test_iterate_closed_form_is_verified_not_assumed(spark):
    """r2-advice (high): a piecewise fn that matches affine on probe terms
    0-3 but diverges later must NOT be trusted from the 4-term probe. The
    distributed recurrence check fn(closed(i)) == closed(i+1) over the full
    range rejects the bogus closed form; the exact unroll takes over."""
    from pyspark.sql import functions as F

    from semantic_cpp_spark.sources import iterate

    wrap = lambda c: F.when(c < 100, c + 1).otherwise(F.lit(0))
    s = iterate(spark, 0, wrap, 300)
    got = {r["__idx"]: r["value"] for r in s.to_df().filter(
        "__idx IN (0, 99, 100, 101, 201, 202, 299)").collect()}
    # sequence 0,1,...,100,0,1,...: wraps after hitting 100
    assert got == {0: 0, 99: 99, 100: 100, 101: 0, 201: 100, 202: 0, 299: 97}

    # a float fn affine on the prefix but clamped later: also rejected
    clamp = lambda c: F.when(c < 10.0, c + 0.5).otherwise(F.lit(10.0))
    f = iterate(spark, 0.0, clamp, 200)
    fv = {r["__idx"]: r["value"] for r in f.to_df().filter(
        "__idx IN (0, 19, 20, 21, 199)").collect()}
    assert fv[0] == 0.0 and fv[19] == 9.5 and fv[20] == 10.0
    assert fv[21] == 10.0 and fv[199] == 10.0

    # genuinely affine still takes the verified closed form at scale
    big = iterate(spark, 1, lambda c: c + 2, 50_000)
    assert big.to_df().filter("__idx = 49999").first()["value"] == 1 + 2 * 49999


def test_sql_api_over_fixture_views(spark):
    """The whole engine surface is reachable via plain SQL once views are
    registered — Catalyst plans SQL and DataFrame identically."""
    from semantic_cpp_spark.sources import register_fixture_views

    register_fixture_views(spark, "/root/testdata/sf0.001")
    row = spark.sql(
        """SELECT l_returnflag, round(sum(l_extendedprice), 2) AS s
           FROM lineitem GROUP BY l_returnflag ORDER BY 1 LIMIT 1"""
    ).first()
    assert row["l_returnflag"] is not None and row["s"] > 0


def test_csv_json_orc_sources(spark, tmp_path):
    from semantic_cpp_spark.sources import from_csv, from_json_lines, from_orc

    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    df = from_csv(spark, str(csv), "a int, b string")
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(1, "x"), (2, "y")]

    jl = tmp_path / "t.jsonl"
    jl.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    dj = from_json_lines(spark, str(jl), "a int, b string")
    assert dj.count() == 2

    orc_dir = str(tmp_path / "orc")
    df.write.orc(orc_dir)
    assert from_orc(spark, orc_dir).count() == 2


def test_use_blob_text_source(spark):
    """useBlob(text[, start, end]) (semantic.h:2101-2138): byte stream of
    a driver-side string; window clamps; slice index re-bases to 0;
    start >= end → empty."""
    from semantic_cpp_spark.sources import use_blob_text

    assert use_blob_text(spark, "AB").to_list() == [65, 66]
    # slice [1, 3) of 'abcd' → 'bc', idx re-based
    s = use_blob_text(spark, "abcd", 1, 3)
    rows = {r["__idx"]: r["value"] for r in s.to_df().collect()}
    assert rows == {0: ord("b"), 1: ord("c")}
    # clamping: negative start → 0, end beyond size → size
    assert use_blob_text(spark, "xy", -5, 99).to_list() == [120, 121]
    # empty window
    assert use_blob_text(spark, "xyz", 2, 2).to_list() == []
    assert use_blob_text(spark, "xyz", 5, 9).to_list() == []
    # bytes in, multibyte str in: raw bytes either way
    assert use_blob_text(spark, b"\x00\xff").to_list() == [0, 255]
    assert use_blob_text(spark, "é").to_list() == [0xC3, 0xA9]


def test_join_str_converted(spark):
    """useJoin(prefix, converter, suffix) (collector.h:1296-1349): comma
    delimiter hard-coded, converter applied per element, push-order
    pinned."""
    from pyspark.sql import functions as F

    from semantic_cpp_spark.functions import strings
    from semantic_cpp_spark.sources import from_container

    sf = from_container(spark, ["ax", "by", "cz"])
    out = sf.join_str_converted("<", strings.upper_ascii, ">")
    assert out.first()["value"] == "<AX,BY,CZ>"
    # converter producing numbers stringifies (reference arithmetic branch)
    nums = from_container(spark, [1, 2, 3])
    out2 = nums.join_str_converted("[", lambda c: c * 10, "]")
    assert out2.first()["value"] == "[10,20,30]"
    # survives filtering (push order, not original index)
    filt = sf.filter(lambda v: v != F.lit("by"))
    assert filt.join_str_converted("", lambda c: c, "").first()["value"] == "ax,cz"
