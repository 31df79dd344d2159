"""Seeded input generator.

Writes the ten tables the package reads (``io.sources.TABLE_NAMES``) as
one single-row-group parquet file each, with the schemas and value
distributions of the TPC-H-shaped star schema the package is tested on:
uniform columns, an ``events`` stream over 30 days, a 31-word document
corpus with 5% near-duplicates, and unit-norm 64-d embeddings drawn
around ten label centers. Order totals and line prices both follow a
per-customer spend level, so the feature table that ``ml.features``
builds from them carries a learnable label.

Every table is a function of ``(seed, scale)`` alone. Keys are shifted
by a seed-derived offset, so inputs made from different seeds share no
keys as well as no content.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
CORPUS_TABLES = ("documents", "embeddings")

KEY_SHIFT = 100_000_000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EMB_DIM = 64


def _days(lo: str, hi: str) -> tuple[int, int]:
    epoch = datetime(1970, 1, 1)
    return (
        (datetime.fromisoformat(lo) - epoch).days,
        (datetime.fromisoformat(hi) - epoch).days,
    )


def _day_ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    a, b = _days(lo, hi)
    days = rng.integers(a, b + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int, shift: int) -> pa.Array:
    return pa.array(np.arange(n, dtype="int64") + shift)


def table_sizes(scale: float) -> dict[str, int]:
    """Row count per table at ``scale`` (1.0 = 6M lineitem rows)."""
    return {
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "users": int(15_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _documents(rng: np.random.Generator, n: int, shift: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in n_words]
    # 5% near-duplicates (a copy of an earlier document plus one token)
    # and 0.2% exact copies, so the dedup operators find pairs.
    for i in rng.choice(np.arange(1, n), max(1, n // 20), replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 500), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": _keys(n, shift),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, shift: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMB_DIM))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    x = centers[labels] + rng.normal(scale=0.125, size=(n, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype("float32").ravel())
    return pa.table({
        "vec_id": _keys(n, shift),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype="int32")), flat
        ),
        "label": pa.array(labels.astype("int32")),
    })


def _star(rng: np.random.Generator, sizes: dict[str, int], shift: int) -> dict[str, pa.Table]:
    nc, ns, np_, no, nl = (
        sizes[t] for t in ("customer", "supplier", "part", "orders", "lineitem")
    )
    ne, nu = sizes["events"], sizes["users"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    t["customer"] = pa.table({
        "c_custkey": _keys(nc, shift),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _keys(ns, shift),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    adjectives = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": _keys(np_, shift),
        "p_name": pa.array([
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ]),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], np_
        ),
        "p_size": pa.array(rng.integers(1, 51, np_).astype("int32")),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 2),
    })
    spend = rng.uniform(0.0, 1.0, nc)
    cust = rng.integers(0, nc, no)

    def level(c: np.ndarray) -> np.ndarray:
        return np.clip(spend[c] + rng.normal(0.0, 0.15, len(c)), 0.0, 1.0)

    t["orders"] = pa.table({
        "o_orderkey": _keys(no, shift),
        "o_custkey": pa.array(cust + shift),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": np.round(1000.0 + 499_000.0 * level(cust), 2),
        "o_orderdate": _day_ts(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    order = rng.integers(0, no, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(order + shift),
        "l_partkey": pa.array(rng.integers(0, np_, nl) + shift),
        "l_suppkey": pa.array(rng.integers(0, ns, nl) + shift),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(900.0 + 104_100.0 * level(cust[order]), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _day_ts(rng, nl, "1995-01-02", "2001-11-04"),
    })
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + start_us
    t["events"] = pa.table({
        "event_id": _keys(ne, shift),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nu, ne) + shift),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    return t


def generate(
    out_dir: str, seed: int, scale: float, tables=TABLES
) -> dict[str, dict[str, int]]:
    """Write ``tables`` for ``(seed, scale)`` under ``out_dir``.

    Returns ``{table: {"rows": n, "bytes": parquet file size}}``.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    shift = (seed % 97 + 1) * KEY_SHIFT
    sizes = table_sizes(scale)
    built: dict[str, pa.Table] = {}
    if set(tables) - set(CORPUS_TABLES):
        built.update(_star(rng, sizes, shift))
    built["documents"] = _documents(rng, sizes["documents"], shift)
    built["embeddings"] = _embeddings(rng, sizes["embeddings"], shift)
    out = {}
    for name in tables:
        path = os.path.join(out_dir, f"{name}.parquet")
        tbl = built[name]
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        out[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return out
