"""Seeded input generators with independent ground truth.

Everything here is numpy/pandas/pyarrow in one process: the program
under test only ever sees the parquet files written from these frames,
and every expected answer (blob centres and coefficients, planted
duplicate pairs, exact top-10 neighbours, the state of an upserted
table) is derived here, never read back from the program.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def write_table(table: pa.Table, root: str, name: str, parts: int = 4) -> str:
    """Write ``table`` as ``root/name.parquet/part-*.parquet`` — a
    directory, the layout Spark itself writes and the copy-on-write
    merge swaps — split into ``parts`` files so scans get several
    tasks. Returns the directory."""
    path = os.path.join(root, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // parts))
    for i, start in enumerate(range(0, max(n, 1), step)):
        pq.write_table(
            table.slice(start, step), os.path.join(path, f"part-{i:05d}.parquet")
        )
    return path


def features_table(x: np.ndarray) -> pa.Table:
    """DsArray storage layout: (row_id BIGINT, features ARRAY<DOUBLE>)."""
    n, d = x.shape
    feats = pa.FixedSizeListArray.from_arrays(
        pa.array(x.ravel(), pa.float64()), d
    ).cast(pa.list_(pa.field("element", pa.float64(), nullable=False)))
    return pa.table({"row_id": pa.array(np.arange(n), pa.int64()), "features": feats})


# ---------------------------------------------------------------------
# ml_fit: Gaussian blobs with a known linear target
# ---------------------------------------------------------------------
@dataclass
class Blobs:
    x: np.ndarray  # (n, d) float64
    y: np.ndarray  # (n,)
    labels: np.ndarray  # generating blob per row
    centers: np.ndarray  # (k, d)
    coef: np.ndarray  # true linear coefficients
    intercept: float


def make_blobs(seed: int, n: int, d: int, k: int) -> Blobs:
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 6.0, size=(k, d))
    labels = rng.integers(0, k, size=n)
    x = centers[labels] + rng.normal(0.0, 1.0, size=(n, d))
    coef = rng.normal(0.0, 2.0, size=d)
    intercept = float(rng.normal(0.0, 3.0))
    y = x @ coef + intercept + rng.normal(0.0, 0.1, size=n)
    return Blobs(x, y, labels, centers, coef, intercept)


# ---------------------------------------------------------------------
# dedup_search: token corpus with planted duplicates + embeddings
# ---------------------------------------------------------------------
def _word(i: int) -> str:
    # bijective base-26 over a fixed offset: unique, lower-case, 3+ letters
    i += 702
    out = []
    while i:
        i, r = divmod(i - 1, 26)
        out.append(chr(97 + r))
    return "".join(reversed(out))


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams on single-space tokens — the definition
    the program's MinHash re-check uses."""
    t = text.split(" ")
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


@dataclass
class Corpus:
    docs: pd.DataFrame  # doc_id, text
    exact_pairs: set[tuple[int, int]]  # identical-text pairs (a < b)
    near_pairs: set[tuple[int, int]]  # planted near-dups with J >= threshold
    exact_groups: dict[int, int]  # keep_id (min id) -> copies
    vectors: np.ndarray  # (m, dim) float32
    vec_near_pairs: set[tuple[int, int]]
    queries: np.ndarray  # (q, dim) float32
    top10: np.ndarray  # (q, 10) exact cosine neighbours (vec ids)


def make_corpus(
    seed: int,
    n_docs: int,
    doc_len: int,
    vocab: int,
    n_vec: int,
    dim: int,
    n_queries: int,
    jaccard_threshold: float,
) -> Corpus:
    rng = np.random.default_rng(seed)
    # Zipf-Mandelbrot ranks, 1/(r+q)^s with a wide offset q: a long
    # tail like real text but no head token shared by every document
    # (a heavy head makes SimHash signatures collide corpus-wide).
    ranks = np.arange(1, vocab + 1)
    p = 1.0 / (ranks + 200.0) ** 1.1
    p /= p.sum()
    words = np.array([_word(i) for i in range(vocab)], dtype=object)

    n_exact = n_docs // 20
    n_near = n_docs // 10
    n_base = n_docs - n_exact - n_near
    base = rng.choice(vocab, size=(n_base, doc_len), p=p)
    src_exact = rng.choice(n_base, size=n_exact, replace=False)
    rest = np.setdiff1d(np.arange(n_base), src_exact)
    src_near = rng.choice(rest, size=n_near, replace=False)
    near = base[src_near].copy()
    for row in near:
        pos = rng.choice(doc_len, size=2, replace=False)
        row[pos] = rng.integers(0, vocab, size=2)
    toks = np.vstack([base, base[src_exact], near])
    texts = [" ".join(words[r]) for r in toks]
    origin = np.concatenate([np.arange(n_base), src_exact, src_near])
    kind = np.array([0] * n_base + [1] * n_exact + [2] * n_near)
    perm = rng.permutation(n_docs)  # doc_id of generated row i = perm[i]
    docs = pd.DataFrame({"doc_id": perm.astype(np.int64), "text": texts})
    docs = docs.sort_values("doc_id", ignore_index=True)

    exact_pairs, near_pairs, exact_groups = set(), set(), {}
    for i in range(n_base, n_docs):
        a, b = sorted((int(perm[origin[i]]), int(perm[i])))
        if kind[i] == 1:
            exact_pairs.add((a, b))
            exact_groups[a] = 2
        elif texts[i] != texts[origin[i]] and (
            jaccard(texts[i], texts[origin[i]]) >= jaccard_threshold
        ):
            near_pairs.add((a, b))

    # clustered embeddings: mixture of unit directions plus a planted
    # share of near-copies (cosine > 0.99 to their source)
    n_dirs = 16
    dirs = rng.normal(size=(n_dirs, dim))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    n_vcopy = n_vec // 20
    n_vbase = n_vec - n_vcopy
    lab = rng.integers(0, n_dirs, size=n_vbase)
    vb = dirs[lab] + rng.normal(0.0, 0.9 / np.sqrt(dim), size=(n_vbase, dim))
    src = rng.choice(n_vbase, size=n_vcopy, replace=False)
    vc = vb[src] + rng.normal(0.0, 0.01 / np.sqrt(dim), size=(n_vcopy, dim))
    vectors = np.vstack([vb, vc]).astype(np.float32)
    vec_near_pairs = {(int(s), n_vbase + i) for i, s in enumerate(src)}

    ql = rng.integers(0, n_dirs, size=n_queries)
    queries = (
        dirs[ql] + rng.normal(0.0, 0.9 / np.sqrt(dim), size=(n_queries, dim))
    ).astype(np.float32)
    top10 = exact_topk(queries, vectors, 10)
    return Corpus(
        docs, exact_pairs, near_pairs, exact_groups, vectors, vec_near_pairs,
        queries, top10,
    )


def unit_rows(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.float64)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def exact_topk(q: np.ndarray, c: np.ndarray, k: int) -> np.ndarray:
    """Brute-force cosine top-k (ids), ties to the lower id."""
    sims = unit_rows(q) @ unit_rows(c).T
    order = np.lexsort((np.broadcast_to(np.arange(c.shape[0]), sims.shape), -sims))
    return order[:, :k]


def embeddings_table(v: np.ndarray) -> pa.Table:
    n, d = v.shape
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.ravel(), pa.float32()), d
    ).cast(pa.list_(pa.float32()))
    return pa.table(
        {"vec_id": pa.array(np.arange(n), pa.int64()),
         "embedding": emb}
    )


# ---------------------------------------------------------------------
# sql_mixed: TPC-H-shaped tables with the test-data schema
# ---------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "small", "large", "black", "white"]
_THINGS = ["widget", "bolt", "ring", "gear", "valve", "spring"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_EPOCH = datetime(1995, 1, 1)


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(days: np.ndarray) -> pa.Array:
    us = (days.astype(np.int64) * 86_400_000_000) + int(
        (_EPOCH - datetime(1970, 1, 1)) / timedelta(microseconds=1)
    )
    return pa.array(us, pa.timestamp("us"))


def customer_frame(ids: np.ndarray, rng) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame(
        {
            "c_custkey": ids.astype(np.int64),
            "c_name": [f"Customer#{i:09d}" for i in ids],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def make_tpch(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """All ten test-data tables at ~n_orders orders (≈4 lines each)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = n_orders // 10, max(20, n_orders // 150), n_orders // 8
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.Table.from_pandas(
        customer_frame(np.arange(n_cust), rng), preserve_index=False
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_COLORS[a]} {_THINGS[b]}"
                for a, b in zip(rng.integers(0, 7, n_part), rng.integers(0, 6, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    odate = rng.integers(0, 6 * 365 + 200, n_orders)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(odate),
            "o_orderpriority": np.array(_PRIOS)[rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    lkey = np.repeat(np.arange(n_orders), lines)
    n_li = len(lkey)
    lnum = np.concatenate([np.arange(1, m + 1) for m in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2000.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(odate[lkey] + rng.integers(1, 122, n_li)),
        }
    )
    n_ev = n_orders
    # events.ts is INT64 TIMESTAMP(MICROS), as in the test data's footers
    # (load_table's TIMESTAMP(NANOS) branch is not taken there either)
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + int(
        (datetime(2024, 1, 1) - datetime(1970, 1, 1)) / timedelta(microseconds=1)
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": np.array(_EVENTS)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.0, 100.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = 500
    vocab = [_word(i) for i in range(300)]
    texts = [
        " ".join(rng.choice(vocab, size=rng.integers(20, 80)))
        for _ in range(n_doc)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 5, n_doc)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    emb = embeddings_table(rng.normal(size=(n_doc, 64)).astype(np.float32))
    t["embeddings"] = emb.append_column(
        "label", pa.array(rng.integers(0, 4, n_doc), pa.int32())
    )
    return t


UPSERT_UPDATES = 40  # existing customers re-priced per batch
UPSERT_INSERTS = 10  # new customers per batch


@dataclass
class UpsertStream:
    """Deterministic sequence of customer upsert batches and the
    table state expected after each: batch ``i`` re-prices a sample of
    existing customers and inserts a few new ones."""

    seed: int
    base: pd.DataFrame
    state: pd.DataFrame = field(init=False)
    applied: int = field(init=False, default=0)

    def __post_init__(self):
        self.state = self.base.copy()

    def batch(self, i: int) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, 7919, i])
        n0 = len(self.base)
        upd_ids = rng.choice(n0, UPSERT_UPDATES, replace=False)
        ins_ids = n0 + i * UPSERT_INSERTS + np.arange(UPSERT_INSERTS)
        return customer_frame(np.concatenate([upd_ids, ins_ids]), rng)

    def apply(self, batch: pd.DataFrame) -> pd.DataFrame:
        """Expected table after MERGE: batch rows replace matching keys,
        new keys are appended."""
        kept = self.state[~self.state.c_custkey.isin(batch.c_custkey)]
        self.state = pd.concat([kept, batch], ignore_index=True).sort_values(
            "c_custkey", ignore_index=True
        )
        self.applied += 1
        return self.state
