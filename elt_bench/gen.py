"""Seeded input generators for the ELT benchmark.

Everything here is numpy + pyarrow only (no Spark), so inputs exist
before the engine starts and the program under test never sees the seed:
it only reads the files these functions write.

- ``tpch_tables``: a TPC-H-shaped star schema with the fixture column
  names and types the query registry expects (region .. lineitem).
- ``jdbc_tables``: three tables for the JDBC extract, one per planner
  strategy (dense key, gappy key, no key).
- ``corpus``: documents with planted exact and near-duplicate clusters,
  planted low-quality documents, and clustered embeddings.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [(f"NATION_{i}", i % 5) for i in range(25)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES_A = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPES_B = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPES_C = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
COLORS = ["almond", "azure", "blush", "coral", "forest", "ivory", "khaki", "linen",
          "navy", "olive", "peach", "plum", "rose", "sienna", "tan", "wheat"]

_EPOCH = np.datetime64("1970-01-01", "D")
_START = np.datetime64("1995-01-01", "D")
_END = np.datetime64("2001-08-01", "D")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so adding a table never shifts another."""
    return np.random.default_rng([seed, sum(stream.encode()) * 7919 + len(stream)])


def _days_to_ts(days: np.ndarray) -> pa.Array:
    us = (days.astype("datetime64[D]") - _EPOCH).astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at scale ``sf`` (sf=0.01: 1500 customers,
    15000 orders, ~60000 lineitems). Doubles are unrounded so the 4dp
    rounding both engines apply never sits on a tie."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": r.uniform(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)].tolist(),
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": r.uniform(-999.99, 9999.99, n_supp),
    })
    r = _rng(seed, "part")
    colors = np.array(COLORS)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                colors[r.integers(0, 16, n_part)], colors[r.integers(0, 16, n_part)]
            )
        ],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(r.integers(1, 6, n_part), r.integers(1, 6, n_part))],
        "p_type": [
            f"{TYPES_A[a]} {TYPES_B[b]} {TYPES_C[c]}"
            for a, b, c in zip(r.integers(0, 6, n_part), r.integers(0, 5, n_part), r.integers(0, 5, n_part))
        ],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": r.uniform(900.0, 2100.0, n_part),
    })
    r = _rng(seed, "orders")
    span = int((_END - _START).astype(int)) + 1
    odays = _START + r.integers(0, span, n_ord)
    okeys = np.arange(1, n_ord + 1)
    n_lines = r.integers(1, 8, n_ord)
    ototal = np.zeros(n_ord)
    # lineitem, vectorized over all lines of all orders
    lr = _rng(seed, "lineitem")
    n_li = int(n_lines.sum())
    l_order_idx = np.repeat(np.arange(n_ord), n_lines)
    l_linenumber = np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    l_partkey = lr.integers(1, n_part + 1, n_li)
    l_quantity = lr.integers(1, 51, n_li).astype(np.float64)
    price = out["part"]["p_retailprice"].to_numpy()[l_partkey - 1]
    l_ext = l_quantity * price
    l_disc = lr.uniform(0.0, 0.10, n_li)
    l_tax = lr.uniform(0.0, 0.08, n_li)
    ship = odays[l_order_idx] + lr.integers(1, 122, n_li)
    rflag = np.array(["A", "N", "R"])[lr.integers(0, 3, n_li)]
    lstatus = np.array(["F", "O"])[lr.integers(0, 2, n_li)]
    shipped = lstatus == "F"
    np.add.at(ototal, l_order_idx, l_ext * (1 + l_tax) * (1 - l_disc))
    all_f = np.ones(n_ord, bool)
    np.logical_and.at(all_f, l_order_idx, shipped)
    any_f = np.zeros(n_ord, bool)
    np.logical_or.at(any_f, l_order_idx, shipped)
    ostatus = np.where(all_f, "F", np.where(any_f, "P", "O"))
    out["orders"] = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(r.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": ostatus.tolist(),
        "o_totalprice": ototal,
        "o_orderdate": _days_to_ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)].tolist(),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys[l_order_idx], pa.int64()),
        "l_partkey": pa.array(l_partkey, pa.int64()),
        "l_suppkey": pa.array(lr.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": l_quantity,
        "l_extendedprice": l_ext,
        "l_discount": l_disc,
        "l_tax": l_tax,
        "l_returnflag": rflag.tolist(),
        "l_linestatus": lstatus.tolist(),
        "l_shipdate": _days_to_ts(ship),
    })
    return out


def jdbc_tables(seed: int, rows: int) -> dict[str, tuple[pa.Table, str | None]]:
    """(table, primary key) for the three planner strategies. Column names
    are upper case: Derby folds unquoted identifiers to upper case, which
    the planner's generated predicates rely on."""
    out = {}
    for name, key in (("dense", "ID"), ("gappy", "GKEY"), ("nokey", None)):
        r = _rng(seed, "jdbc_" + name)
        if name == "dense":
            keys = np.arange(1, rows + 1)
        elif name == "gappy":
            # seeded gaps: a few long runs of missing keys, so the key is
            # not dense and equal-width ranges would be badly skewed
            steps = np.where(r.random(rows) < 0.02, r.integers(500, 5000, rows), 1)
            keys = np.cumsum(steps) + int(r.integers(1, 1000))
        else:
            keys = r.permutation(rows) + 1
        cols = {
            (key or "SEQ"): pa.array(keys, pa.int64()),
            "NAME": [f"item-{int(k):08d}-{COLORS[int(c)]}" for k, c in zip(keys, r.integers(0, 16, rows))],
            "AMOUNT": np.round(r.uniform(-500.0, 5000.0, rows), 2) + 0.0,  # no -0.0: Derby stores 0.0
            "QTY": pa.array(r.integers(0, 1000, rows), pa.int32()),
            "NOTE": pa.array(
                [None if m else COLORS[int(c)] for m, c in zip(r.random(rows) < 0.1, r.integers(0, 16, rows))],
                pa.string(),
            ),
        }
        out[name] = (pa.table(cols), key)
    return out


# --- corpus -------------------------------------------------------------

_SYLL = ["ka", "lo", "mi", "ren", "sa", "tu", "vo", "pel", "dra", "ni", "qua", "zo",
         "bel", "tor", "fi", "gan", "hu", "jex", "wim", "yor"]
STOP_EN = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def _vocab(r: np.random.Generator, n: int) -> np.ndarray:
    words = {
        "".join(r.choice(_SYLL, size=int(r.integers(2, 4))))
        for _ in range(n * 2)
    }
    return np.array(sorted(words)[:n])


def corpus(seed: int, shards: int, docs_per_shard: int, dim: int = 32):
    """Documents + embeddings split into ``shards`` request batches.

    Per shard: 15% of documents are near-duplicates of another document
    in the shard (last word replaced or one word appended to a 60-word
    text: 3-word shingle Jaccard 0.97-0.98, far above the 0.8 threshold,
    so banded LSH finds every such pair), 5% are exact copies, and 10% are
    low-quality (short, punctuation-heavy) documents the quality filter
    drops. Embeddings are noisy copies of 24 cluster centres.

    Returns (documents, embeddings, shard_of_doc) as pyarrow tables and
    a numpy array."""
    r = _rng(seed, "corpus")
    vocab = _vocab(r, 3000)
    n = shards * docs_per_shard
    texts: list[str] = []
    shard_of = np.repeat(np.arange(shards), docs_per_shard)
    for s in range(shards):
        # fixed counts per shard, in seeded positions; the first documents
        # are originals, so every copy has something to copy
        kinds = np.array(
            ["near"] * round(0.15 * docs_per_shard) + ["exact"] * round(0.05 * docs_per_shard)
            + ["low"] * round(0.10 * docs_per_shard)
        )
        kinds = np.concatenate([kinds, ["base"] * (docs_per_shard - len(kinds) - 5)])
        kinds = np.concatenate([["base"] * 5, r.permutation(kinds)])
        base: list[list[str]] = []
        for kind in kinds:
            if kind == "near":
                w = list(base[int(r.integers(0, len(base)))])
                extra = str(vocab[int(r.integers(0, len(vocab)))])
                if r.random() < 0.5:
                    w[-1] = extra + "."
                else:
                    w.append(extra)
                texts.append(" ".join(w))
            elif kind == "exact":
                texts.append(" ".join(base[int(r.integers(0, len(base)))]))
            elif kind == "low":
                k = int(r.integers(3, 8))
                texts.append(" ".join(str(x) for x in r.choice(vocab, k)) + " !!! ??? ### ***")
            else:
                w = [
                    STOP_EN[int(r.integers(0, 10))] if r.random() < 0.3
                    else str(vocab[int(r.integers(0, len(vocab)))])
                    for _ in range(60)
                ]
                w[-1] += "."
                base.append(w)
                texts.append(" ".join(w))
    ids = np.arange(1, n + 1)
    documents = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"crawl-{int(s)}" for s in shard_of],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centres = r.normal(size=(24, dim))
    lab = r.integers(0, 24, n)
    vecs = (centres[lab] + 0.35 * r.normal(size=(n, dim))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32()),
    })
    return documents, embeddings, shard_of
