"""Independent answers, computed in set-up without the code path being
measured: row-multiset hashes of tables read with pyarrow for the
extracts, DuckDB for the SQL mix, and plain Python/numpy for the curation
stages."""

from __future__ import annotations

import glob
import gzip
import math
import re

import numpy as np
import pyarrow as pa
import pyarrow.json as pajson
import pyarrow.parquet as pq


def multiset_hash(t: pa.Table) -> tuple[int, int]:
    """Order-independent (row count, wrapping sum of per-row hashes) of a
    table; pandas' row hash is deterministic across processes."""
    import pandas as pd

    h = pd.util.hash_pandas_object(t.to_pandas(), index=False).to_numpy()
    return t.num_rows, int(h.sum(dtype=np.uint64))


def conform(t: pa.Table, like: pa.Schema) -> pa.Table:
    """Select ``like``'s columns (case-insensitively) and cast to its types."""
    by_lower = {n.lower(): n for n in t.column_names}
    cols = [t[by_lower[f.name.lower()]].cast(f.type) for f in like]
    return pa.Table.from_arrays(cols, schema=like)


def read_ndjson_gz(path: str) -> pa.Table | None:
    """One gzip NDJSON part file; None when it holds no rows."""
    with gzip.open(path, "rb") as f:
        data = f.read()
    return pajson.read_json(pa.BufferReader(data)) if data else None


def read_parquet_dir(path: str) -> pa.Table:
    return pa.concat_tables([pq.read_table(p) for p in sorted(glob.glob(f"{path}/part-*"))])


# --- SQL ----------------------------------------------------------------

def canonical_rows(columns: list[str], rows) -> list[tuple[str, ...]]:
    """Columns ordered by name, values stringified, rows sorted — the
    registry's oracle-comparison form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(str(r[i]) for i in order) for r in rows)


def _same_value(a: str, b: str) -> bool:
    """Equal strings, or numbers equal up to one step of the registry's
    4-decimal rounding: the engines add doubles in different orders, so a
    rounded sum can land on either side of a rounding tie."""
    if a == b:
        return True
    try:
        return math.isclose(float(a), float(b), rel_tol=1e-12, abs_tol=1.5e-4)
    except ValueError:
        return False


def rows_match(got: list[tuple[str, ...]], want: list[tuple[str, ...]]) -> bool:
    """Canonical row lists equal, value by value (see ``_same_value``). Rows
    are paired in sorted order; if a rounding step reorders them, each row
    is matched to any unused equal row instead."""
    if len(got) != len(want):
        return False

    def same(r: tuple, w: tuple) -> bool:
        return len(r) == len(w) and all(_same_value(a, b) for a, b in zip(r, w))

    if all(same(r, w) for r, w in zip(got, want)):
        return True
    unused = list(want)
    for r in got:
        hit = next((k for k, w in enumerate(unused) if same(r, w)), None)
        if hit is None:
            return False
        unused.pop(hit)
    return True


def duckdb_answers(sf_dir: str, tables: list[str], sql: dict[str, str]) -> dict[str, list]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name, q in sql.items():
            cur = con.execute(q)
            out[name] = canonical_rows([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


# --- corpus ---------------------------------------------------------------

_WORD_SPLIT = re.compile("[^a-z0-9]+")
_PUNCT = re.compile("[^a-zA-Z0-9 \t\n]")
_STOP_EN = re.compile(r"\b(the|and|of|to|a|in|is|it|that|for)\b")


def _round_half_up(x: float, nd: int) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def words(text: str) -> list[str]:
    return [w for w in _WORD_SPLIT.split(text.lower()) if w]


def quality_score(text: str) -> float:
    """The documented score: mean of a length band, low punctuation and
    stopword presence, rounded half-up to 4 places."""
    w = words(text)
    wc = len(w)
    length_term = min(wc / 50.0, 1.0)
    punct_ratio = len(_PUNCT.findall(text)) / len(text) if text else None
    stop_ratio = len(_STOP_EN.findall(text.lower())) / wc if wc else None
    if punct_ratio is None or stop_ratio is None:
        return float("nan")
    punct_term = 1.0 - min(punct_ratio * 5, 1.0)
    stop_term = min(stop_ratio * 4, 1.0)
    return _round_half_up((length_term + punct_term + stop_term) / 3, 4)


def shingles(text: str, k: int = 3) -> set[str]:
    w = words(text)
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)} if len(w) >= k else set()


def near_dup_components(docs: dict[int, str], threshold: float) -> dict[int, int]:
    """Exact 3-shingle Jaccard over every pair that shares a shingle, then
    union-find: doc id -> smallest id of its component, for docs that have
    at least one near-duplicate."""
    sh = {i: shingles(t) for i, t in docs.items()}
    index: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    parent = {i: i for i in docs}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen: set[tuple[int, int]] = set()
    for ids in index.values():
        for a_pos, a in enumerate(ids):
            for b in ids[a_pos + 1:]:
                pair = (min(a, b), max(a, b))
                if pair in seen:
                    continue
                seen.add(pair)
                inter = len(sh[a] & sh[b])
                jac = _round_half_up(inter / (len(sh[a]) + len(sh[b]) - inter), 4)
                if jac >= threshold:
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for i in docs:
        members.setdefault(find(i), []).append(i)
    return {i: min(m) for m in members.values() if len(m) > 1 for i in m}


def cosine_topk(corpus_ids: np.ndarray, corpus: np.ndarray, query_ids: np.ndarray, k: int):
    """Brute-force cosine top-k (self excluded): query id -> neighbour ids."""
    c = corpus.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(corpus_ids)}
    out = {}
    for q in query_ids:
        sims = c @ c[pos[int(q)]]
        sims[pos[int(q)]] = -np.inf
        top = np.argsort(-sims, kind="stable")[:k]
        out[int(q)] = [int(corpus_ids[j]) for j in top]
    return out, c, pos
