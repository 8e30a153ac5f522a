"""Seeded input generator owned by the benchmark.

Writes the ten fixture tables (TESTDATA.md shapes and value domains) at a
scale factor, plus the stream-replay split of ``events``. The generator is
a frozen copy, so edits elsewhere in the repository cannot change what the
benchmark measures. The same (sf, seed) always gives byte-identical files,
and ``input_hash`` names them.

Row counts scale linearly with sf:

    customer 150k·sf  supplier 10k·sf  part 200k·sf  orders 1.5M·sf
    lineitem ~6M·sf (per-order Poisson(4) clipped [1,17])
    events 1M·sf     documents 50k·sf  embeddings 20k·sf
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "P", "F"]
RETFLAGS = ["A", "N", "R"]
LINESTATUSES = ["O", "F"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "dark", "pale", "new"]
P_NOUN = ["ring", "bolt", "plate", "screw", "gear", "valve", "wheel", "pin"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector a the plan join shuffle stage task"
).split()

DAY_US = 86_400_000_000
ORDERDATE_LO = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)
ORDERDATE_DAYS = 2404
SHIPDATE_LO = np.datetime64("1995-01-02").astype("datetime64[us]").astype(np.int64)
SHIPDATE_DAYS = 2499
EVENTS_LO = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
EVENTS_SPAN_US = 30 * DAY_US

STREAM_DIR = "events_stream"
STREAM_WARMUP_DIR = "events_stream_warmup"


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, sf: float, seed: int) -> None:
    """Write every table of scale ``sf`` under ``out_dir``."""
    rng = np.random.default_rng(seed)

    def w(name: str, table: pa.Table) -> None:
        # 64k-row groups keep larger scales splittable across tasks.
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=65536
        )

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    n_user = max(1, int(15_000 * sf))

    w("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    w("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    w("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -1000, 10_000),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))
    w("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -1000, 10_000),
    }))
    adj = rng.integers(0, len(P_ADJ), n_part)
    noun = rng.integers(0, len(P_NOUN), n_part)
    w("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.uniform(0, 100, n_part), 2),
    }))

    odate = ORDERDATE_LO + rng.integers(0, ORDERDATE_DAYS, n_ord) * DAY_US
    w("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]
        ),
    }))

    per_order = np.clip(rng.poisson(4, n_ord), 1, 17)
    n_li = int(per_order.sum())
    l_orderkey = np.repeat(np.arange(n_ord), per_order)
    l_linenumber = (
        np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    )
    sdate = SHIPDATE_LO + rng.integers(0, SHIPDATE_DAYS, n_li) * DAY_US
    w("lineitem", pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(RETFLAGS)[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(
            np.array(LINESTATUSES)[rng.integers(0, 2, n_li)]
        ),
        "l_shipdate": pa.array(sdate, pa.timestamp("us")),
    }))

    ts = np.sort(EVENTS_LO + rng.integers(0, EVENTS_SPAN_US, n_evt))
    w("events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]
        ),
        "value": np.round(rng.gamma(1.2, 60.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }))

    # ~0.2% planted exact duplicates so exact/minhash dedup has work.
    lengths = rng.integers(10, 61, n_doc)
    word_ids = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in word_ids[pos : pos + ln]))
        pos += ln
    dup_idx = rng.choice(n_doc, max(2, n_doc // 500), replace=False)
    for i in range(1, len(dup_idx)):
        texts[dup_idx[i]] = texts[dup_idx[0]]
    w("documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # 10 Gaussian clusters keyed by label, 64-dim float32
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.5, (n_emb, 64))).astype(np.float32)
    w("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


def split_stream(out_dir: str, n_files: int, warmup_files: int) -> None:
    """Sort ``events`` by ts and cut it into ``n_files`` contiguous parquet
    files under STREAM_DIR; copy the first ``warmup_files`` of them to
    STREAM_WARMUP_DIR (the short backlog the untimed warm-up drains)."""
    table = pq.read_table(os.path.join(out_dir, "events.parquet")).sort_by("ts")
    step = -(-table.num_rows // n_files)
    full = os.path.join(out_dir, STREAM_DIR)
    warm = os.path.join(out_dir, STREAM_WARMUP_DIR)
    os.makedirs(full)
    os.makedirs(warm)
    for i in range(n_files):
        name = f"part-{i:03d}.parquet"
        pq.write_table(table.slice(i * step, step), os.path.join(full, name))
        if i < warmup_files:
            shutil.copyfile(os.path.join(full, name), os.path.join(warm, name))


def input_hash(data_dir: str) -> str:
    """sha256 over every file under ``data_dir`` (relative path + bytes)."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(data_dir):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(base, name)
            h.update(os.path.relpath(path, data_dir).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def ensure_inputs(
    cache_dir: str, sf: float, seed: int, n_files: int, warmup_files: int
) -> str:
    """Return the cached input directory for (sf, seed, split), generating
    it first if absent. Generation writes to a temporary sibling and is
    renamed into place, so an interrupted run leaves no partial cache."""
    final = os.path.join(
        cache_dir, f"sf{sf:g}-seed{seed}-split{n_files}x{warmup_files}"
    )
    if os.path.isdir(final):
        return final
    os.makedirs(cache_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=cache_dir)
    try:
        generate(tmp, sf, seed)
        split_stream(tmp, n_files, warmup_files)
        os.rename(tmp, final)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return final
