"""Seeded input generator: the only place the benchmark's seed is used.

Everything the engine is given is generated here from ``--seed``, and the
same seed gives byte-identical files:

- :func:`write_tables` — the engine's fixture tables (the TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  schemas and value ranges of the fixture tables in ``FIXTURES.md``, one
  single-row-group parquet file per table;
- :func:`write_file_tree` — a local tree of many small files for the
  file verbs: seeded sizes, nested folders, and basenames that repeat
  across folders so the verbs' ``_N`` enumeration is exercised;
- :func:`write_large_files` — a few large files for transfer rate;
- :func:`split_events` — a time-ordered split of the events into several
  files, so a file-source stream replays them as several micro-batches;
- :func:`op_order` — the order the op mix runs in.

The engine never sees the seed, only these files.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OPS = (
    "pricing_summary",
    "join_shuffle",
    "multiway_join_agg",
    "window_analytic",
    "agg_distinct",
    "events_sessionize",
    "minhash_lsh_dedup",
    "text_stats",
    "sql_tpch_q5",
    "part_copurchase_lift",
    "bm25_topk",
    "similarity_knn_pandas",
)

TABLES = (
    "region", "nation", "supplier", "customer", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("red", "blue", "old", "small", "new", "cold", "large", "hot")
_PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil",
              "plate")
_PART_TYPES = ("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_LANGS = ("en", "fr", "zh", "de", "es")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_VOCAB = (
    "the stream query row fast small spark group customer line sort hash "
    "batch dup data filter value big key order table scan merge part "
    "window join slow agg column a vector"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the fixture tables (Spark reads each
    # table as a single split)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.004:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:  # near duplicate: a few tokens changed
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    lang = np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.ravel(), pa.float32()), 64
    ).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(
            np.array(_EVENT_TYPES)[rng.integers(0, 5, n)], pa.string()
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
        ),
    })


def write_tables(out_dir: str, sf: float, seed: int,
                 tables: tuple[str, ...] = TABLES) -> None:
    """Write the named fixture tables at scale factor ``sf``.

    Row counts follow ``FIXTURES.md``: lineitem ~6,000,000 × sf,
    orders 1,500,000 × sf, events 1,000,000 × sf; documents and
    embeddings have 500 rows below sf 0.1 and 5,000 / 2,000 from it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    # each table draws from its own child stream so generating a subset
    # of tables gives the same bytes as generating all of them
    streams = dict(zip(TABLES, rng.spawn(len(TABLES))))
    build = {
        "region": lambda r: pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": lambda r: pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "supplier": lambda r: pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
        }),
        "customer": lambda r: pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(
                np.array(_SEGMENTS)[r.integers(0, 5, n_cust)]
            ),
        }),
        "part": lambda r: pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in r.integers(0, 8, (n_part, 2))
            ]),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in r.integers(1, 26, n_part)]
            ),
            "p_type": pa.array(np.array(_PART_TYPES)[r.integers(0, 6, n_part)]),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 2_000) * 0.1, 2)
            ),
        }),
        "orders": lambda r: pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(
                np.array(("F", "O", "P"))[r.integers(0, 3, n_ord)]
            ),
            "o_totalprice": pa.array(_money(r, 1_000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_order_dates(seed, sf, n_ord)),
            "o_orderpriority": pa.array(
                np.array(_PRIORITIES)[r.integers(0, 5, n_ord)]
            ),
        }),
        "lineitem": lambda r: _lineitem(r, seed, sf, n_ord, n_part, n_supp),
        "events": lambda r: events_table(r, n_events, n_users),
        "documents": lambda r: _documents(r, 5_000 if sf >= 0.1 else 500),
        "embeddings": lambda r: _embeddings(r, 2_000 if sf >= 0.1 else 500),
    }
    for name in tables:
        _write(build[name](streams[name]), f"{out_dir}/{name}.parquet")


def _order_dates(seed: int, sf: float, n_ord: int) -> np.ndarray:
    # shared by orders and lineitem (ship date follows order date)
    r = np.random.default_rng([seed, int(sf * 1_000_000), 99])
    return _EPOCH_1995 + r.integers(0, 2_404, n_ord) * _DAY_US


def _lineitem(r, seed, sf, n_ord, n_part, n_supp) -> pa.Table:
    per_order = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per_order)
    starts = np.cumsum(per_order) - per_order
    linenum = np.arange(len(okey)) - np.repeat(starts, per_order) + 1
    n = len(okey)
    ship = _order_dates(seed, sf, n_ord)[okey] + r.integers(1, 122, n) * _DAY_US
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[r.integers(0, 2, n)]),
        "l_shipdate": _ts(ship),
    })


def split_events(out_dir: str, seed: int, n_rows: int, n_users: int,
                 n_files: int) -> int:
    """Write ``n_rows`` seeded events as ``n_files`` time-ordered parquet
    files (``00_events.parquet`` …) at seeded cut points, each file
    holding at least half its even share.  Returns the row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    table = events_table(rng, n_rows, n_users)
    share = n_rows // n_files
    sizes = [share // 2] * n_files
    extra = rng.multinomial(n_rows - sum(sizes), [1 / n_files] * n_files)
    sizes = [s + int(e) for s, e in zip(sizes, extra)]
    offset = 0
    for i, size in enumerate(sizes):
        _write(table.slice(offset, size), f"{out_dir}/{i:02d}_events.parquet")
        offset += size
    return n_rows


# Basenames shared across folders: collisions, multi-dot names (the
# enumeration inserts ``_N`` before the FIRST dot) and a dotless name.
_BASENAMES = ("a.csv", "a.tar.gz", "b_1.txt", "part.json", "data", "x.y.z")


SMALL_FILE_MEAN_BYTES = 4096


def write_file_tree(root: str, seed: int, n_files: int) -> dict[str, str]:
    """Write ``n_files`` small files under ``root`` in nested folders and
    return ``{relative path: sha256 hex}``.  Sizes are log-normal (64 B
    and up) scaled so the tree always holds ``n_files`` ×
    :data:`SMALL_FILE_MEAN_BYTES` bytes: the seed moves bytes between
    files, not the total.  Basenames repeat across folders."""
    rng = np.random.default_rng([seed, 11])
    paths: list[str] = []
    while len(paths) < n_files:
        depth = int(rng.integers(1, 4))
        folder = "/".join(
            f"d{int(rng.integers(0, 6))}" for _ in range(depth)
        )
        rel = f"{folder}/{_BASENAMES[int(rng.integers(0, len(_BASENAMES)))]}"
        if rel not in paths:
            paths.append(rel)
    raw = rng.lognormal(0.0, 1.0, n_files)
    budget = n_files * (SMALL_FILE_MEAN_BYTES - 64)
    sizes = 64 + np.floor(raw / raw.sum() * budget).astype(np.int64)
    sizes[int(np.argmax(sizes))] += n_files * SMALL_FILE_MEAN_BYTES \
        - int(sizes.sum())
    return {
        rel: _write_bytes(f"{root}/{rel}", rng.bytes(int(size)))
        for rel, size in zip(paths, sizes)
    }


def write_large_files(root: str, seed: int, n_files: int,
                      size: int) -> dict[str, str]:
    """Write ``n_files`` files of ``size`` seeded bytes directly under
    ``root``; returns ``{name: sha256 hex}``."""
    rng = np.random.default_rng([seed, 13])
    return {
        f"big{i}.bin": _write_bytes(f"{root}/big{i}.bin", rng.bytes(size))
        for i in range(n_files)
    }


def _write_bytes(path: str, data: bytes) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as handle:
        handle.write(data)
    return hashlib.sha256(data).hexdigest()


def op_order(seed: int) -> list[str]:
    """The op mix in the seeded order a run uses for every pass."""
    return random.Random(seed).sample(OPS, len(OPS))
