"""Seeded input generators, one per workload.

Every generator takes a ``seed`` and writes its inputs to disk before
the engine sees them; the same seed gives byte-identical files.  Each
returns a small dict of the generated sizes, which the run report
records.  Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, *stream: object) -> np.random.Generator:
    """Independent generator per (seed, stream) so that adding draws to
    one stream never shifts another."""
    key = hashlib.sha256(repr((seed,) + stream).encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def _write_parquet(table: pa.Table, path: str) -> None:
    # Fixed writer options: under one pyarrow version the file bytes
    # are a function of the data alone.
    pq.write_table(table, path, compression="snappy",
                   row_group_size=1 << 20)


# -- file_batch ------------------------------------------------------------

def file_sizes(rng: np.random.Generator, n_files: int, total_bytes: int,
               sigma: float = 2.0) -> np.ndarray:
    """Log-normal file sizes rescaled to exactly ``total_bytes``, in a
    seeded order: most files are a few KB, a few reach megabytes.  The
    sizes are the mid-points of ``n_files`` equal quantile bands, so
    every seed writes the same multiset of sizes (the same bytes, the
    same largest file, the same split of files into tasks) and only
    their order and contents change."""
    u = (np.arange(n_files) + 0.5) / n_files
    z = np.array([NormalDist().inv_cdf(float(x)) for x in u])
    raw = rng.permutation(np.exp(sigma * z))
    sizes = np.maximum(np.floor(raw / raw.sum() * total_bytes), 1)
    sizes = sizes.astype(np.int64)
    sizes[int(np.argmax(sizes))] += total_bytes - int(sizes.sum())
    return sizes


def file_backlog(seed: int, label: str, bucket_dir: str, n_files: int,
                 total_bytes: int) -> dict:
    """Write backlog ``label``: ``n_files`` random-content files under
    ``bucket_dir/input/``; returns its sizes and per-file md5."""
    rng = rng_for(seed, "file_batch", label)
    in_dir = os.path.join(bucket_dir, "input")
    os.makedirs(in_dir, exist_ok=True)
    md5 = {}
    sizes = file_sizes(rng, n_files, total_bytes)
    for i, size in enumerate(sizes):
        name = f"f{i:05d}.bin"
        data = rng.bytes(int(size))
        with open(os.path.join(in_dir, name), "wb") as f:
            f.write(data)
        md5[name] = hashlib.md5(data).hexdigest()
    return {"files": n_files, "bytes": int(sizes.sum()),
            "under_10kb": int((sizes < 10_240).sum()),
            "over_1mb": int((sizes > 1 << 20).sum()),
            "max_bytes": int(sizes.max()), "md5": md5}


# -- corpus_curation -------------------------------------------------------

STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words of 3-9 letters; the Gopher stop
    words take the most frequent ranks, as in natural text."""
    words = list(STOPWORDS)
    seen = set(words)
    while len(words) < size:
        w = "".join(rng.choice(_LETTERS, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(size: int, skew: float) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** skew
    return p / p.sum()


def corpus(seed: int, index: int, path: str, n_docs: int,
           vocab_size: int = 20_000, skew: float = 1.1,
           exact_share: float = 0.05, near_share: float = 0.05,
           low_share: float = 0.05, edit_share: float = 0.04) -> dict:
    """Zipf-vocabulary corpus with planted exact duplicates, near
    duplicates (``edit_share`` of the words replaced) and low-quality
    docs, written as one parquet (doc_id, text, source).

    Ids: the ``n_base`` originals come first, then exact copies, then
    near copies, then low-quality docs, so every planted copy has a
    larger id than its original and min-id keeping keeps the original.
    """
    rng = rng_for(seed, "corpus", index)
    words = np.array(vocabulary(rng, vocab_size))
    probs = zipf_probs(vocab_size, skew)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_low = int(n_docs * low_share)
    n_base = n_docs - n_exact - n_near - n_low
    lengths = rng.integers(60, 200, size=n_base)
    base = [words[rng.choice(vocab_size, int(n), p=probs)] for n in lengths]
    texts = [" ".join(t) for t in base]
    exact_src = rng.choice(n_base, n_exact, replace=False)
    near_src = rng.choice(n_base, n_near, replace=False)
    near_pairs = []
    texts += [texts[int(i)] for i in exact_src]
    for j, i in enumerate(near_src):
        toks = base[int(i)].copy()
        n_edit = max(1, int(len(toks) * edit_share))
        for pos in rng.choice(len(toks), n_edit, replace=False):
            new = toks[pos]
            while new == toks[pos]:
                new = words[int(rng.integers(len(STOPWORDS), vocab_size))]
            toks[pos] = new
        near_pairs.append((int(i), n_base + n_exact + j))
        texts.append(" ".join(toks))
    for j in range(n_low):           # too short, symbol-heavy: fail Gopher
        toks = words[rng.choice(vocab_size, int(rng.integers(10, 40)),
                                p=probs)]
        texts.append(" ".join(f"#{t}" for t in toks))
    ids = np.arange(len(texts), dtype=np.int64)
    sources = np.array(["web", "books", "code", "forum"])[ids % 4]
    _write_parquet(pa.table({"doc_id": ids, "text": texts,
                             "source": sources.tolist()}), path)
    n_tokens = int(sum(len(t.split(" ")) for t in texts))
    return {"docs": len(texts), "tokens": n_tokens, "vocab": vocab_size,
            "zipf_skew": skew, "planted_exact": n_exact,
            "planted_near": n_near, "planted_low": n_low,
            "exact_ids": sorted(n_base + k for k in range(n_exact)),
            "near_pairs": near_pairs}


def tokens(text: str) -> list[str]:
    """Python twin of ``operators.text.tokenize``: lower-case, map every
    char outside [a-z0-9 ] to a space, split on spaces."""
    low = text.lower()
    cleaned = "".join(c if ("a" <= c <= "z" or "0" <= c <= "9" or c == " ")
                      else " " for c in low)
    return [t for t in cleaned.split(" ") if t]


def shingles(text: str, n: int = 2) -> set[str]:
    tk = tokens(text)
    return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}


# -- vector_serving --------------------------------------------------------

class VectorSource:
    """Clustered unit-norm float32 vectors: one seeded set of cluster
    centres; each named draw (base set, request j's queries, append
    batch j) has its own stream, so draws are independent of order."""

    def __init__(self, seed: int, dim: int = 64, n_clusters: int = 32,
                 spread: float = 0.35):
        self.seed, self.dim, self.n_clusters = seed, dim, n_clusters
        self.spread = spread
        c = rng_for(seed, "centres").standard_normal((n_clusters, dim))
        self.centres = c / np.linalg.norm(c, axis=1, keepdims=True)

    def draw(self, n: int, *stream: object) -> np.ndarray:
        rng = rng_for(self.seed, "vectors", *stream)
        c = self.centres[rng.integers(self.n_clusters, size=n)]
        v = c + self.spread * rng.standard_normal((n, self.dim)) \
            / np.sqrt(self.dim)
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(
            np.float32)


def vectors_parquet(vecs: np.ndarray, first_id: int, path: str) -> None:
    ids = np.arange(first_id, first_id + len(vecs), dtype=np.int64)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.ravel(), pa.float32()), vecs.shape[1])
    _write_parquet(pa.table({"vec_id": ids,
                             "embedding": emb.cast(pa.list_(pa.float32()))}),
                   path)


# -- sql_analytics ---------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH = dt.date(1992, 1, 1)
DAYS = (dt.date(1998, 8, 2) - EPOCH).days


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(EPOCH) + days.astype("timedelta64[D]"),
                    pa.date32())


def tpch_tables(seed: int, out_dir: str, n_orders: int = 15_000) -> dict:
    """TPC-H-shaped star schema (plus the three small side tables the
    engine's catalog registers) at roughly ``n_orders / 1.5M`` scale,
    with the dtypes of the engine's schema contract."""
    rng = rng_for(seed, "tpch")
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 25), \
        n_orders // 7
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION{k:02d}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(np.array(SEGMENTS)[
            rng.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(1, n_supp + 1)],
        "s_nationkey": pa.array(np.arange(n_supp) % 25, i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), i64),
        "p_name": [f"part {k}" for k in range(1, n_part + 1)],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(
            rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": list(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                 "ECONOMY", "PROMO"])[
            rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": _cents(rng, 900, 2000, n_part)})
    o_days = rng.integers(0, DAYS - 151, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), i64),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), i64),
        "o_orderstatus": list(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)]),
        "o_totalprice": _cents(rng, 1000, 400_000, n_orders),
        "o_orderdate": _dates(o_days),
        "o_orderpriority": list(np.array(PRIORITIES)[
            rng.integers(0, 5, n_orders)])})
    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    l_order = np.repeat(np.arange(1, n_orders + 1), per_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per_order])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(o_days, per_order) + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), i64),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), i64),
        "l_linenumber": pa.array(l_line, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 9, 105, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": list(np.array(["F", "O"])[
            rng.integers(0, 2, n_li)]),
        "l_shipdate": _dates(ship)})
    # Side tables: the catalog registers all ten, the templates read none.
    t["events"] = pa.table({
        "event_id": pa.array([1, 2], i64),
        "ts": pa.array([0, 1_000_000], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([1, 2], i64), "event_type": ["view", "click"],
        "value": [1.0, 2.0], "props": ["{}", "{}"]})
    t["documents"] = pa.table({
        "doc_id": pa.array([1, 2], i64), "text": ["a b c", "d e f"],
        "lang": ["en", "en"], "source": ["web", "web"],
        "n_chars": pa.array([5, 5], i64)})
    t["embeddings"] = pa.table({
        "vec_id": pa.array([1, 2], i64),
        "embedding": pa.array([[1.0, 0.0], [0.0, 1.0]],
                              pa.list_(pa.float32())),
        "label": pa.array([0, 1], i32)})
    for name, table in t.items():
        _write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
    return {"orders": n_orders, "lineitem": n_li, "customer": n_cust,
            "supplier": n_supp, "part": n_part}
