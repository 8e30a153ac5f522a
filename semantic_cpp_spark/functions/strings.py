"""Charsequence-fidelity string functions (reference charsequence.h, SURVEY §2.7).

The reference's strings are codepoint vectors; Spark strings are UTF-8 with
codepoint-aware length/substring, so most operations map 1:1. The
deviations that need explicit builders:

- split/replace are LITERAL in the reference (charsequence.h:989-1076,
  :1172-1198) but REGEX in Spark — escape the needle.
- toUpperCase/toLowerCase are ASCII-ONLY (charsequence.h:1128, :1148) —
  Spark upper/lower are locale/Unicode-aware → use translate.
- trim strips the 6-char ASCII whitespace set `` \\t\\n\\r\\v\\f``
  (charsequence.h:1365-1368) — Spark trim strips space only.
- count(needle) counts non-overlapping occurrences (charsequence.h:1078-1103).
- indexOf returns -1 when absent with 0-based offsets (charsequence.h:900-938).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_TRIM_SET = " \t\n\r\x0b\x0c"


def upper_ascii(col: Column) -> Column:
    """ASCII-only uppercase (charsequence.h:1120-1138)."""
    return F.translate(col, _ASCII_LOWER, _ASCII_UPPER)


def lower_ascii(col: Column) -> Column:
    """ASCII-only lowercase (charsequence.h:1140-1158)."""
    return F.translate(col, _ASCII_UPPER, _ASCII_LOWER)


def trim_ref(col: Column) -> Column:
    """Trim the reference's whitespace set (charsequence.h:1105-1118)."""
    return F.btrim(col, F.lit(_TRIM_SET))


def split_literal(col: Column, delim: str) -> Column:
    """Literal (non-regex) split keeping trailing empty fields
    (charsequence.h:1172-1198): Spark split is regex → escape; limit=-1
    keeps trailing empties, matching the reference."""
    return F.split(col, re.escape(delim), -1)


def replace_literal(
    col: Column, target: str, repl: str, max_count: int | None = None
) -> Column:
    """Literal left-to-right non-overlapping replace (charsequence.h:989-1076).
    Spark's `replace` (3.5+) is literal already.

    ``max_count`` caps replacements at the first N occurrences
    (charsequence.h:1029-1076): split with limit N+1 — the last part keeps
    every remaining occurrence untouched — re-joined on the replacement.
    Pure codegen, no UDF. max_count == 0 or empty target → unchanged."""
    if not target or max_count == 0:
        return col
    if max_count is None:
        return F.replace(col, F.lit(target), F.lit(repl))
    parts = F.split(col, re.escape(target), max_count + 1)
    return F.array_join(parts, repl)


def count_occurrences(col: Column, needle: str) -> Column:
    """Non-overlapping occurrence count (charsequence.h:1078-1103) via the
    length-difference identity — pure codegen, no UDF."""
    if not needle:
        return F.lit(0)
    diff = F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))
    return (diff / F.lit(len(needle))).cast("long")


def index_of(col: Column, needle: str, from_idx: int = 0) -> Column:
    """0-based indexOf, -1 when absent (charsequence.h:900-938).
    locate() is 1-based with 1-based start → shift both ways."""
    return F.locate(needle, col, from_idx + 1) - 1


def last_index_of(
    col: Column, needle: str, from_idx: int | None = None
) -> Column:
    """0-based lastIndexOf, -1 when absent (charsequence.h:940-987):
    locate the reversed needle in the reversed haystack, then mirror the
    offset — pure codegen, no UDF.

    ``from_idx`` bounds the match START at min(from_idx, n-m) (reference
    :952-962): occurrences then live entirely inside the prefix of length
    min(from_idx, n-m) + m, so the same reversed-locate runs on that
    prefix. from_idx >= n → -1 (reference :954-957); empty needle returns
    n unconditionally (reference :943-947, checked before the bound)."""
    if not needle:
        return F.length(col)  # reference: empty needle matches at end
    m = len(needle)
    if from_idx is None:
        base = col
    else:
        n = F.length(col)
        plen = F.least(F.lit(from_idx), n - m) + m
        base = F.when(F.lit(from_idx) >= n, F.lit("")).otherwise(
            F.substring(col, 1, plen)
        )
    rpos = F.locate(needle[::-1], F.reverse(base))  # 1-based in reversed
    return F.when(rpos == 0, F.lit(-1)).otherwise(
        F.length(base) - rpos - m + 1
    )


def starts_with(col: Column, prefix: str) -> Column:
    return F.startswith(col, F.lit(prefix))


def contains(col: Column, needle: str) -> Column:
    return F.contains(col, F.lit(needle))


def sub_clamped(col: Column, start: int, length: int) -> Column:
    """Charsequence::sub clamps instead of throwing (charsequence.h:786-810);
    Spark substring already clamps to string bounds. 0-based start."""
    return F.substring(col, start + 1, length)


def reverse_str(col: Column) -> Column:
    return F.reverse(col)


def compare_cs(a: Column, b: Column) -> Column:
    """Three-way codepoint-lexicographic compare → -1/0/1
    (charsequence.h:1220-1249). Spark's default UTF8_BINARY collation
    orders strings by UTF-8 bytes, which equals codepoint order (a UTF-8
    design property), so the builtin comparison is exactly the reference's
    per-codepoint walk including the shorter-prefix tie-break."""
    return (
        F.when(a < b, F.lit(-1)).when(a > b, F.lit(1)).otherwise(F.lit(0))
    ).cast("int")


def blob_bytes(col: Column) -> Column:
    """UTF-8 bytes of a string column as array<int> (values 0-255) —
    the column form of useBlob(text) (reference semantic.h:2101-2118).
    substring() slices BinaryType per byte; hex→conv yields the value.
    Pure codegen (transform HOF), no UDF, narrow."""
    b = F.encode(col, "UTF-8")
    # sequence(1, 0) DESCENDS — guard the empty string explicitly.
    return F.when(
        F.octet_length(b) == 0, F.array().cast("array<int>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.octet_length(b)),
            lambda i: F.conv(F.hex(F.substring(b, i, 1)), 16, 10).cast("int"),
        )
    )
