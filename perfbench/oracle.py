"""DuckDB oracle answers, cached per input hash, and the row comparator.

The comparison is the canonical sorted-row compare of the repository's
local oracle sweep: columns ordered by name, values canonicalised to
strings (floats rounded to 9 places), rows sorted, then an exact match.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from perfbench.gen import TABLES


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def canonical(cols: list[str], rows) -> dict:
    """Order-insensitive canonical form of a result set."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return {
        "cols": sorted(c.lower() for c in cols),
        "rows": sorted([canon(r[i]) for i in order] for r in rows),
    }


def mismatch(got: dict, want: dict) -> str | None:
    """None when two canonical results are equal, else what differs."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} vs {want['cols']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"row count {len(got['rows'])} vs {len(want['rows'])}"
    for a, b in zip(got["rows"], want["rows"]):
        if a != b:
            return f"first differing row {a} vs {b}"
    return None


def answers(data_dir: str, in_hash: str, sql: dict[str, str], cache_dir: str) -> dict:
    """Canonical DuckDB answer of every named oracle, computed once per
    (input hash, SQL text) and cached as JSON under ``cache_dir``."""
    out, todo = {}, {}
    os.makedirs(cache_dir, exist_ok=True)
    for name, text in sql.items():
        key = hashlib.sha256(text.encode()).hexdigest()[:12]
        path = os.path.join(cache_dir, f"{in_hash}-{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
        else:
            todo[name] = (text, path)
    if todo:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
                )
            for name, (text, path) in todo.items():
                res = con.execute(text)
                out[name] = canonical([d[0] for d in res.description], res.fetchall())
                tmp = path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(out[name], f)
                os.replace(tmp, path)
        finally:
            con.close()
    return out
