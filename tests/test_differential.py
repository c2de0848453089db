"""Tier-3 randomized differential testing (SURVEY §5B): compose
random filter/join/agg/having/set-op/top-k pipelines from a small
grammar, render each AST BOTH as a DataFrame plan and as DuckDB SQL,
and require exact equality.  Catches semantics drift the
hand-written corpus misses (null ordering, coercion, literal typing,
post-agg filter/truncation, set-op duplicate semantics).

Grammar (r5 extensions marked): scan | inner/left/SEMI/ANTI join ->
filters -> group agg -> having -> optional WINDOW over the
aggregated frame (r5b) -> optional UNION ALL / UNION /
INTERSECT / EXCEPT against a differently-filtered copy of the same
pipeline -> optional deterministic LIMIT.

Deterministic: seeds are fixed; the same 110 pipelines run each time.
The top-k stage orders by ALL output columns — a total order even
after a union — so LIMIT selects the same set on both engines.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from samplebatchprocessing_spark.catalog import load_table
from samplebatchprocessing_spark.exprs import dsum, sql_dsum
from samplebatchprocessing_spark.oracle import compare

META = {
    "orders": {
        "int": ["o_orderkey", "o_custkey"],
        "dbl": ["o_totalprice"],
        "cat": {"o_orderstatus": ["O", "F", "P"],
                "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                    "4-NOT SPECIFIED", "5-LOW"]},
        "ranges": {"o_totalprice": (1000.0, 500000.0),
                   "o_custkey": (0, 1500), "o_orderkey": (0, 15000)},
    },
    "lineitem": {
        "int": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "dbl": ["l_quantity", "l_extendedprice", "l_discount"],
        "cat": {"l_returnflag": ["A", "N", "R"],
                "l_linestatus": ["O", "F"]},
        "ranges": {"l_quantity": (1.0, 50.0),
                   "l_extendedprice": (900.0, 105000.0),
                   "l_discount": (0.0, 0.1),
                   "l_partkey": (0, 2000), "l_suppkey": (0, 10),
                   "l_orderkey": (0, 15000), "l_linenumber": (1, 7)},
    },
    "customer": {
        "int": ["c_custkey", "c_nationkey"],
        "dbl": ["c_acctbal"],
        "cat": {"c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                 "HOUSEHOLD", "MACHINERY"]},
        "ranges": {"c_acctbal": (-1000.0, 10000.0),
                   "c_custkey": (0, 1500), "c_nationkey": (0, 24)},
    },
}


JOINS = [
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
]


def _merged_meta(t1: str, t2: str) -> dict:
    a, b = META[t1], META[t2]
    return {
        "int": a["int"] + b["int"],
        "dbl": a["dbl"] + b["dbl"],
        "cat": {**a["cat"], **b["cat"]},
        "ranges": {**a["ranges"], **b["ranges"]},
    }


def _gen_preds(rng: random.Random, m: dict) -> list:
    preds = []
    for _ in range(rng.randint(0, 3)):
        kind = rng.choice(["num_cmp", "cat_eq", "cat_in"])
        if kind == "num_cmp":
            col = rng.choice(m["int"] + m["dbl"])
            lo, hi = m["ranges"][col]
            v = rng.uniform(lo, hi)
            if col in m["int"]:
                v = int(v)
            preds.append(("cmp", col, rng.choice([">=", "<=", "<", ">"]), v))
        elif kind == "cat_eq":
            col = rng.choice(list(m["cat"]))
            preds.append(("eq", col, rng.choice(m["cat"][col])))
        else:
            col = rng.choice(list(m["cat"]))
            vals = rng.sample(m["cat"][col],
                              rng.randint(1, len(m["cat"][col])))
            preds.append(("in", col, sorted(vals)))
    return preds


def gen_ast(seed: int) -> dict:
    rng = random.Random(seed)
    join = None
    if rng.random() < 0.5:
        t1, t2, k1, k2 = rng.choice(JOINS)
        # r5: semi/anti join shapes join the grammar — they expose
        # only the LEFT table's columns downstream.
        jtype = rng.choice(["inner", "left", "semi", "anti"])
        join = (t1, t2, k1, k2, jtype)
        table = t1
        m = META[t1] if jtype in ("semi", "anti") else _merged_meta(t1, t2)
    else:
        table = rng.choice(list(META))
        m = META[table]
    preds = _gen_preds(rng, m)
    group = rng.sample(list(m["cat"]), rng.randint(1, len(m["cat"])))
    aggs = [("count",)]
    for _ in range(rng.randint(1, 3)):
        kind = rng.choice(["min", "max", "sumint", "sumdbl"])
        if kind in ("min", "max"):
            aggs.append((kind, rng.choice(m["int"] + m["dbl"])))
        elif kind == "sumint":
            aggs.append(("sumint", rng.choice(m["int"])))
        else:
            aggs.append(("sumdbl", rng.choice(m["dbl"])))
    # post-aggregate stages: HAVING on the count, and a deterministic
    # top-k.  r5: an optional SET OPERATION combines the pipeline
    # with a second differently-filtered copy of itself (same group/
    # aggs -> identical schema); ordering then uses ALL output
    # columns, since group keys alone are no longer a total order
    # after a union.
    having = rng.randint(1, 25) if rng.random() < 0.4 else None
    # r5b: optional WINDOW stage over the aggregated frame —
    # partition by the first group key, order by the remaining
    # output columns (a total order: rows are unique on the full
    # group-key set).  Non-null window functions only, so downstream
    # LIMIT ordering never hits engine null-ordering defaults.
    window = (rng.choice(["row_number", "rank", "sum_over", "max_over"])
              if rng.random() < 0.35 else None)
    setop = None
    preds2 = None
    if rng.random() < 0.3:
        setop = rng.choice(["union all", "union", "intersect", "except"])
        preds2 = _gen_preds(rng, m)
    limit = rng.randint(1, 8) if rng.random() < 0.4 else None
    return {"table": table, "join": join, "preds": preds,
            "group": group, "aggs": aggs,
            "having": having, "limit": limit, "window": window,
            "setop": setop, "preds2": preds2}


def _agg_alias(i: int) -> str:
    return f"agg_{i}"


def _pipeline_spark(ast: dict, preds: list, spark, sf_dir):
    df = load_table(spark, sf_dir, ast["table"])
    if ast.get("join"):
        t1, t2, k1, k2, jtype = ast["join"]
        right = load_table(spark, sf_dir, t2)
        how = {"semi": "left_semi", "anti": "left_anti"}.get(jtype, jtype)
        df = df.join(right, df[k1] == right[k2], how)
    for p in preds:
        if p[0] == "cmp":
            _, col, op, v = p
            c = F.col(col)
            cond = {"<": c < v, ">": c > v, "<=": c <= v, ">=": c >= v}[op]
        elif p[0] == "eq":
            cond = F.col(p[1]) == p[2]
        else:
            cond = F.col(p[1]).isin(p[2])
        df = df.filter(cond)
    aggs = []
    for i, a in enumerate(ast["aggs"]):
        name = _agg_alias(i)
        if a[0] == "count":
            aggs.append(F.count(F.lit(1)).alias(name))
        elif a[0] == "min":
            aggs.append(F.min(a[1]).alias(name))
        elif a[0] == "max":
            aggs.append(F.max(a[1]).alias(name))
        elif a[0] == "sumint":
            aggs.append(F.sum(a[1]).alias(name))
        else:
            aggs.append(dsum(a[1], name))
    out = df.groupBy(*ast["group"]).agg(*aggs)
    if ast.get("having"):
        out = out.filter(F.col(_agg_alias(0)) >= ast["having"])
    if ast.get("window"):
        from pyspark.sql import Window as W
        part = ast["group"][0]
        ordcols = (list(ast["group"][1:])
                   + [_agg_alias(i) for i in range(len(ast["aggs"]))])
        if ast["window"] in ("sum_over", "max_over"):
            w = W.partitionBy(part)
            fn = {"sum_over": F.sum(_agg_alias(0)),
                  "max_over": F.max(_agg_alias(0))}[ast["window"]]
            col = fn.over(w)
        else:
            w = W.partitionBy(part).orderBy(*ordcols)
            fn = {"row_number": F.row_number(),
                  "rank": F.rank()}[ast["window"]]
            col = fn.over(w).cast("long")
        out = out.withColumn("win_0", col)
    return out


def to_spark(ast: dict, spark, sf_dir):
    out = _pipeline_spark(ast, ast["preds"], spark, sf_dir)
    if ast.get("setop"):
        other = _pipeline_spark(ast, ast["preds2"], spark, sf_dir)
        out = {"union all": lambda: out.union(other),
               "union": lambda: out.union(other).distinct(),
               "intersect": lambda: out.intersect(other),
               "except": lambda: out.subtract(other)}[ast["setop"]]()
    if ast.get("limit"):
        all_cols = (list(ast["group"])
                    + [_agg_alias(i) for i in range(len(ast["aggs"]))])
        if ast.get("window"):
            all_cols.append("win_0")
        out = out.orderBy(*all_cols).limit(ast["limit"])
    return out


def _pipeline_sql(ast: dict, preds: list) -> str:
    conds = []
    for p in preds:
        if p[0] == "cmp":
            _, col, op, v = p
            conds.append(f"{col} {op} {v!r}" if isinstance(v, float)
                         else f"{col} {op} {v}")
        elif p[0] == "eq":
            conds.append(f"{p[1]} = '{p[2]}'")
        else:
            vals = ", ".join(f"'{v}'" for v in p[2])
            conds.append(f"{p[1]} IN ({vals})")
    where = (" WHERE " + " AND ".join(conds)) if conds else ""
    frm = ast["table"]
    if ast.get("join"):
        t1, t2, k1, k2, jtype = ast["join"]
        kw = {"inner": "JOIN", "left": "LEFT JOIN",
              "semi": "SEMI JOIN", "anti": "ANTI JOIN"}[jtype]
        frm = f"{t1} {kw} {t2} ON {k1} = {k2}"
    sels = list(ast["group"])
    for i, a in enumerate(ast["aggs"]):
        name = _agg_alias(i)
        if a[0] == "count":
            sels.append(f"COUNT(*) AS {name}")
        elif a[0] == "min":
            sels.append(f"MIN({a[1]}) AS {name}")
        elif a[0] == "max":
            sels.append(f"MAX({a[1]}) AS {name}")
        elif a[0] == "sumint":
            sels.append(f"SUM({a[1]}) AS {name}")
        else:
            sels.append(f"{sql_dsum(a[1])} AS {name}")
    having = (f" HAVING COUNT(*) >= {ast['having']}"
              if ast.get("having") else "")
    q = (f"SELECT {', '.join(sels)} FROM {frm}{where} "
         f"GROUP BY {', '.join(ast['group'])}{having}")
    if ast.get("window"):
        part = ast["group"][0]
        ordcols = (list(ast["group"][1:])
                   + [_agg_alias(i) for i in range(len(ast["aggs"]))])
        oc = ", ".join(f"{c} NULLS FIRST" for c in ordcols)
        over_o = f"PARTITION BY {part} ORDER BY {oc}"
        over_p = f"PARTITION BY {part}"
        expr = {
            "row_number": f"CAST(ROW_NUMBER() OVER ({over_o}) AS BIGINT)",
            "rank": f"CAST(RANK() OVER ({over_o}) AS BIGINT)",
            "sum_over": f"SUM({_agg_alias(0)}) OVER ({over_p})",
            "max_over": f"MAX({_agg_alias(0)}) OVER ({over_p})",
        }[ast["window"]]
        q = f"SELECT *, {expr} AS win_0 FROM ({q})"
    return q


def to_sql(ast: dict) -> str:
    q = _pipeline_sql(ast, ast["preds"])
    if ast.get("setop"):
        q2 = _pipeline_sql(ast, ast["preds2"])
        op = ast["setop"].upper()
        q = f"({q}) {op} ({q2})"
    if ast.get("limit"):
        all_cols = (list(ast["group"])
                    + [_agg_alias(i) for i in range(len(ast["aggs"]))])
        if ast.get("window"):
            all_cols.append("win_0")
        oc = ", ".join(f"{c} NULLS FIRST" for c in all_cols)
        q = (f"SELECT * FROM ({q}) "
             f"ORDER BY {oc} LIMIT {ast['limit']}")
    return q


@pytest.mark.parametrize("seed", range(110))
def test_differential(spark, sf_oracle, seed):
    ast = gen_ast(seed)
    report = compare(to_spark(ast, spark, sf_oracle), to_sql(ast), sf_oracle)
    assert report["ok"], f"seed={seed} ast={ast} report={report}"


# ---------------------------------------------------------------------------
# r8 (VERDICT r7 #7): generator coverage for the two newest nontrivial
# operators — random token corpora with planted dups through the
# lossless prefix-filter join, and random graphs (ER + planted cliques
# + hub skew + dirty input) through the triangle census.  Both compare
# against independent pure-Python truth, not the operator's own logic.
# ---------------------------------------------------------------------------

def _gen_corpus(seed: int):
    """Random corpus + exact threshold: mixes the closed-vocab
    (<= 63 tokens -> popcount branch) and open-vocab (> 63 -> array
    branch) regimes, and plants exact/near dup clones so qualifying
    pairs always exist."""
    rng = random.Random(10_000 + seed)
    vocab_size = rng.choice([20, 40, 63, 80, 120])
    vocab = [f"tk{i:03d}" for i in range(vocab_size)]
    num, den = rng.choice([(4, 5), (3, 4), (9, 10)])
    rows = []
    for i in range(rng.randint(20, 50)):
        s = rng.randint(3, min(15, vocab_size))
        rows.append((i, " ".join(rng.sample(vocab, s))))
    next_id = 1000
    for _ in range(rng.randint(3, 8)):       # planted dup clones
        base_id, base_text = rng.choice(rows)
        toks = base_text.split()
        mode = rng.choice(["exact", "drop", "add"])
        if mode == "drop" and len(toks) > 3:
            toks = toks[:-1]
        elif mode == "add":
            extra = [t for t in vocab if t not in toks]
            if extra:
                toks = toks + [rng.choice(extra)]
        rows.append((next_id, " ".join(toks)))
        next_id += 1
    return rows, num, den


@pytest.mark.parametrize("seed", range(8))
def test_differential_prefix_filter_join(spark, seed):
    """x103 fuzz: the prefix-filtered pair relation — candidate
    generation, PPJoin positional filter, and whichever verify branch
    the vocabulary size dispatches to — must equal brute-force
    all-pairs truth exactly, (inter, uni) included, on random corpora
    with planted dups at random rational thresholds."""
    import itertools

    from samplebatchprocessing_spark.operators.dedup import (
        prefix_filter_pairs)
    rows, num, den = _gen_corpus(seed)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): (r["inter"], r["uni"])
           for r in prefix_filter_pairs(
               df, threshold_num=num, threshold_den=den).collect()}
    sets = {i: set(t.split()) for i, t in rows}
    truth = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if den * inter >= num * uni:
            truth[(a, b)] = (inter, uni)
    assert got == truth, f"seed={seed} num/den={num}/{den}"
    assert truth, "planted clones must yield qualifying pairs"


def _levenshtein(a: str, b: str) -> int:
    """Plain DP — independent of both engines' implementations."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _gen_edit_corpus(seed: int):
    """Random strings over a small alphabet with PLANTED <= k-edit
    clones (substitutions, insertions, deletions) plus unrelated
    strings — the k/q are fixed to the x116 defaults."""
    rng = random.Random(30_000 + seed)
    k, q = 10, 4
    alpha = "abcdefgh "
    rows = []
    for i in range(rng.randint(15, 30)):
        n = rng.randint(q * (k + 1), 200)    # inside the declared domain
        rows.append((i, "".join(rng.choice(alpha) for _ in range(n))))
    next_id = 500
    for _ in range(rng.randint(3, 6)):       # planted clones
        _bid, base = rng.choice(rows)
        s = list(base)
        for _ in range(rng.randint(0, k)):
            op = rng.choice(["sub", "ins", "del"])
            pos = rng.randrange(len(s))
            if op == "sub":
                s[pos] = rng.choice(alpha)
            elif op == "ins":
                s.insert(pos, rng.choice(alpha))
            elif len(s) > q * (k + 1):
                del s[pos]
        rows.append((next_id, "".join(s)))
        next_id += 1
    return rows, k, q


@pytest.mark.parametrize("seed", range(6))
def test_differential_edit_distance_join(spark, seed):
    """x116 fuzz: the q-gram prefix-filtered edit join must equal
    brute-force all-pairs truth (pure-Python DP, independent of both
    engines) on random corpora with planted <= k-edit clones — a
    single missed pair means the prefix bound is broken."""
    import itertools

    from samplebatchprocessing_spark.operators.dedup import (
        qgram_edit_pairs)
    rows, k, q = _gen_edit_corpus(seed)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["ed"]
           for r in qgram_edit_pairs(df, k=k, q=q).collect()}
    texts = dict(rows)
    truth = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        ta, tb = texts[a], texts[b]
        if len(ta) < q * (k + 1) or len(tb) < q * (k + 1):
            continue
        if abs(len(ta) - len(tb)) > k:
            continue
        ed = _levenshtein(ta, tb)
        if ed <= k:
            truth[(a, b)] = ed
    assert got == truth, f"seed={seed}"
    assert truth, "planted clones must yield qualifying pairs"


def _gen_graph(seed: int):
    """Random dirty edge list: ER base, optional planted clique,
    optional hub star (degree-orientation stress), plus duplicate,
    reversed, and self-loop edges the operator must canonicalize
    away.  Returns (dirty_edges, clean_edge_set)."""
    rng = random.Random(20_000 + seed)
    n = rng.randint(8, 40)
    p = rng.uniform(0.05, 0.5)
    clean = set()
    for u in range(n):
        for v in range(u + 1, n):
            if rng.random() < p:
                clean.add((u, v))
    if rng.random() < 0.6:                    # planted clique
        k = rng.sample(range(n), rng.randint(3, min(6, n)))
        for u, v in ((a, b) for a in k for b in k if a < b):
            clean.add((u, v))
    if rng.random() < 0.5:                    # hub star
        for v in range(1, n):
            clean.add((0, v))
    dirty = [list(e) for e in clean]
    for u, v in rng.sample(sorted(clean), min(10, len(clean))):
        dirty.append([v, u])                  # reversed copy
        dirty.append([u, v])                  # duplicate
    for _ in range(3):
        w = rng.randrange(n)
        dirty.append([w, w])                  # self-loop
    rng.shuffle(dirty)
    return dirty, clean


@pytest.mark.parametrize("seed", range(8))
def test_differential_triangle_census(spark, seed):
    """x112 fuzz: ALL THREE triangle kernels (degree-oriented,
    raw-id-oriented, and the r10 auto chooser) must match
    pure-Python truth on all five declared columns for random graphs
    with planted cliques, hub skew, and dirty
    (duplicate/reversed/self-loop) input — triangle counts are
    orientation-invariant, so the kernels are interchangeable by
    contract and the auto probe may pick either."""
    from samplebatchprocessing_spark.operators.graph import (
        triangle_count, triangle_count_auto, triangle_count_rawid)
    dirty, clean = _gen_graph(seed)
    if not clean:
        pytest.skip("degenerate empty graph")
    adj: dict[int, set[int]] = {}
    for u, v in clean:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    n_nodes = len(adj)
    n_edges = len(clean)
    n_wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())
    n_tri = sum(1 for u, v in clean
                for w in adj[u] & adj[v] if w > v)
    ppm = (3 * n_tri * 1_000_000 // n_wedges) if n_wedges else None
    df = spark.createDataFrame(dirty, "a long, b long")
    for kernel in (triangle_count, triangle_count_rawid,
                   triangle_count_auto):
        row = kernel(df).first()
        got = (row["n_nodes"], row["n_edges"], row["n_wedges"],
               row["n_triangles"], row["transitivity_ppm"])
        assert got == (n_nodes, n_edges, n_wedges, n_tri, ppm), \
            f"seed={seed} kernel={kernel.__name__}: got {got}, want " \
            f"{(n_nodes, n_edges, n_wedges, n_tri, ppm)}"


@pytest.mark.parametrize("seed", range(8))
def test_differential_kcore(spark, seed):
    """x118 fuzz: peel-to-fixpoint must match a pure-Python peeler
    (engine-independent truth) node-for-node WITH within-core
    degrees, on the same random dirty graphs (planted cliques, hub
    stars, duplicate/reversed/self-loop edges) the triangle census
    fuzzes — across k=2..4, including k values that empty the
    core."""
    from samplebatchprocessing_spark.operators.graph import kcore
    dirty, clean = _gen_graph(seed)
    if not clean:
        pytest.skip("degenerate empty graph")
    df = spark.createDataFrame(dirty, "a long, b long")
    for k in (2, 3, 4):
        adj: dict[int, set[int]] = {}
        for u, v in clean:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        while True:
            drop = [u for u, s in adj.items() if len(s) < k]
            if not drop:
                break
            for u in drop:
                for v in adj.pop(u):
                    if v in adj:
                        adj[v].discard(u)
        truth = {(u, len(s)) for u, s in adj.items()}
        got = {(r["node"], r["core_degree"])
               for r in kcore(df, k=k).collect()}
        assert got == truth, f"seed={seed} k={k}"


@pytest.mark.parametrize("seed", range(8))
def test_differential_label_propagation(spark, seed):
    """x120 fuzz: the fixed-round synchronous LPA must match a
    pure-Python implementation of the SAME declared recurrence
    (labels init = node id; each round every node takes the most
    frequent neighbor label, ties -> smallest label) node-for-node on
    the same random dirty graphs the census/k-core fuzz uses —
    duplicate, reversed, and self-loop edges must not perturb the
    neighbor multiset."""
    from samplebatchprocessing_spark.operators.graph import (
        label_propagation)
    dirty, clean = _gen_graph(seed)
    if not clean:
        pytest.skip("degenerate empty graph")
    rounds = 1 + seed % 4
    adj: dict[int, set[int]] = {}
    for u, v in clean:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    lbl = {u: u for u in adj}
    for _ in range(rounds):
        nxt = {}
        for u, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for v in nbrs:
                cnt[lbl[v]] = cnt.get(lbl[v], 0) + 1
            nxt[u] = min(cnt, key=lambda c: (-cnt[c], c))
        lbl = nxt
    df = spark.createDataFrame(dirty, "a long, b long")
    got = {(r["node"], r["community"])
           for r in label_propagation(df, rounds=rounds).collect()}
    assert got == set(lbl.items()), f"seed={seed} rounds={rounds}"


@pytest.mark.parametrize("seed", range(4))
def test_differential_bnl_topk(spark, seed):
    """x119 fuzz: the block nested-loop top-k must return the same
    (query_id, vec_id, rank) relation as a driver-side numpy truth
    under RANDOM tile sizes (including degenerate 1-vector tiles and
    single-tile runs), with cosines within fp tolerance.  Zero-norm
    vectors are planted on both sides of the contract (as query:
    emits nothing; as candidate: never matches)."""
    import numpy as np

    from samplebatchprocessing_spark.operators.similarity import (
        bnl_topk)
    rng = random.Random(31_000 + seed)
    n, dim, k = rng.randint(30, 120), 8, rng.randint(1, 5)
    rows = [(i, ([0.0] * dim if i == n - 1     # last vector zero-norm
                 else [rng.uniform(-1, 1) for _ in range(dim)]))
            for i in range(n)]
    ids = np.array([r[0] for r in rows])
    # truth must see the float32-rounded values Spark hands the
    # kernel (embedding is array<float>), or near-tie orderings
    # could legitimately differ between truth and operator
    mat = np.array([r[1] for r in rows],
                   dtype=np.float32).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    step = rng.choice((3, 7, 10))
    truth = {}
    for qi in range(n):
        if ids[qi] % step or np.isnan(sims[qi]).all():
            continue
        col = sims[:, qi]
        mask = (ids != ids[qi]) & ~np.isnan(col)
        if np.isnan(sims[qi, qi]):            # zero-norm query
            continue
        cid, cs = ids[mask], col[mask]
        top = np.lexsort((cid, -cs))[:k]
        for rank, t in enumerate(top, 1):
            truth[(ids[qi], rank)] = (cid[t], round(cs[t], 6))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qb, cb = rng.randint(1, n), rng.randint(1, n)
    got = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
           for r in bnl_topk(emb, F.col("vec_id") % step == 0,
                             k=k, q_block=qb, c_block=cb).collect()}
    assert set(got) == set(truth), f"seed={seed} qb={qb} cb={cb}"
    for key, (vid, cos) in truth.items():
        gvid, gcos = got[key]
        assert gvid == vid, f"seed={seed} {key}: {gvid} != {vid}"
        assert abs(gcos - cos) < 2e-6, f"seed={seed} {key}"
    assert truth, "generator must produce at least one query"


@pytest.mark.parametrize("seed", range(4))
def test_differential_layered_postings(spark, seed, tmp_path):
    """s24/x121 fuzz: a random corpus split into a base index plus
    1-3 epoch delta layers must answer every conjunctive probe
    identically to (a) a from-scratch index over the full corpus and
    (b) pure-python truth — including probes whose AND is satisfied
    only ACROSS layers and terms absent from the corpus."""
    from samplebatchprocessing_spark.operators import text as T
    rng = random.Random(41_000 + seed)
    vocab = [f"w{i:02d}" for i in range(rng.randint(8, 20))]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randint(1, 12))))
            for i in range(rng.randint(15, 40))]
    n_epochs = rng.randint(1, 3)
    splits = [rng.randrange(n_epochs + 1) for _ in rows]  # 0 = base
    base = [r for r, s in zip(rows, splits) if s == 0]
    nb = rng.choice([1, 4, 8])
    idx = str(tmp_path / "base")
    T.postings_index_write(
        spark.createDataFrame(base or [(999, "filler")],
                              "doc_id long, text string"), idx,
        n_buckets=nb)
    cols = ["tok", "doc_id", "tf", "bucket"]
    layered = spark.read.parquet(idx).select(cols)
    for ep in range(1, n_epochs + 1):
        delta = [r for r, s in zip(rows, splits) if s == ep]
        if not delta:
            continue
        layered = layered.unionByName(
            T._postings(spark.createDataFrame(
                delta, "doc_id long, text string"),
                "text", "doc_id", nb).select(cols))
    corpus = (base or [(999, "filler")]) + [
        r for r, s in zip(rows, splits) if s > 0]
    toks = {i: t.split() for i, t in corpus}
    for _ in range(3):
        q = sorted(set(rng.sample(vocab, rng.randint(1, 3))
                       + (["zz_absent"] if rng.random() < 0.3 else [])))
        got = {(r["doc_id"], r["total_tf"])
               for r in T.postings_probe_and_df(
                   layered, q, n_buckets=nb).collect()}
        truth = {(i, sum(ts.count(t) for t in q))
                 for i, ts in toks.items()
                 if all(t in ts for t in q)}
        assert got == truth, f"seed={seed} q={q} nb={nb}"


@pytest.mark.parametrize("seed", range(6))
def test_differential_pack_offsets(spark, seed):
    """x122 fuzz: the two-phase distributed prefix sum equals the
    sequential cumsum truth for random token counts (zeros included),
    random seq_len, random n_parts, ids arriving shuffled."""
    from samplebatchprocessing_spark.operators.curation import (
        pack_offsets)
    rng = random.Random(42_000 + seed)
    n = rng.randint(1, 120)
    stride = rng.choice([1, 3, 1000])        # sparse vs dense id space
    rows = [(i * stride + 7,
             rng.choice([0, 1, 2, 5, 17, 64, 200]))
            for i in range(n)]
    rng.shuffle(rows)
    seq_len = rng.choice([1, 4, 16, 100])
    n_parts = rng.choice([1, 2, 8, 32])
    exp, off = {}, 0
    for i, t in sorted(rows):
        first, last = off // seq_len, (off + max(t, 1) - 1) // seq_len
        exp[i] = (t, off, first, last, 0 if t == 0 else last - first + 1)
        off += t
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {r["doc_id"]: (r["n_tok"], r["start_off"], r["first_seq"],
                         r["last_seq"], r["n_seqs"])
           for r in pack_offsets(df, seq_len=seq_len,
                                 n_parts=n_parts).collect()}
    assert got == exp, f"seed={seed} seq_len={seq_len} n_parts={n_parts}"


@pytest.mark.parametrize("seed", range(4))
def test_differential_nb_quality_eval(spark, seed, tmp_path):
    """x115 fuzz: the whole query (fixed-point NB train + score +
    exact confusion matrix) replayed on RANDOM synthetic documents
    fixtures against an independent pure-python reimplementation —
    counts, Laplace floors, unseen-token constant, prior-only empty
    docs, and the ppm metrics all exact."""
    import math
    import os

    from samplebatchprocessing_spark.queries.llm import (
        x115_nb_quality_eval)
    rng = random.Random(43_000 + seed)
    vocab = [f"w{i:02d}" for i in range(rng.randint(6, 15))]
    rows = []
    for i in range(rng.randint(20, 60)):
        src = rng.choice(["src0", "src0", "src1", "src2"])
        # bias src0 toward the low-index half so the classifier has
        # signal; allow empty docs (prior-only path)
        pool = vocab[:len(vocab) // 2] if src == "src0" else vocab
        k = rng.choice([0, 1, 2, 5, 9])
        txt = " ".join(rng.choices(pool, k=k))
        rows.append((i, txt, "en", src, len(txt)))
    sf = str(tmp_path / "fix")
    os.makedirs(sf)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long").write.parquet(os.path.join(
            sf, "documents.parquet"))
    row = x115_nb_quality_eval(spark, sf).collect()[0]
    # x128: the merged-count model must equal direct training on the
    # same random fixture — merge == retrain exactly for count-based
    # models, fuzzed alongside the python truth
    from samplebatchprocessing_spark.queries.llm import (
        x128_incremental_nb)
    assert (sorted(map(tuple, x128_incremental_nb(spark, sf).collect()))
            == [tuple(row)])
    got = {k: row[k] for k in ("n_test", "tp", "fp", "tn", "fn",
                               "precision_ppm", "recall_ppm",
                               "accuracy_ppm")}

    toks = {i: t.split() if t else [] for i, t, *_ in rows}
    pos = {i for i, _, _, s, _ in rows if s == "src0"}
    train = [i for i, *_ in rows if i % 3 != 0]
    test = [i for i, *_ in rows if i % 3 == 0]
    pc, nc = {}, {}
    for i in train:
        for t in toks[i]:
            (pc if i in pos else nc)[t] = (
                (pc if i in pos else nc).get(t, 0) + 1)
    seen = set(pc) | set(nc)
    ptot, ntot, v = sum(pc.values()), sum(nc.values()), len(seen)
    w = {t: math.floor(1e6 * (
        math.log((pc.get(t, 0) + 1) / (ptot + v))
        - math.log((nc.get(t, 0) + 1) / (ntot + v)))) for t in seen}
    npos = sum(1 for i in train if i in pos)
    nneg = len(train) - npos
    prior = math.floor(1e6 * math.log((npos + 1) / (nneg + 1)))
    w_unseen = math.floor(1e6 * (math.log(1 / (ptot + v))
                                 - math.log(1 / (ntot + v))))
    tp = fp = tn = fn = 0
    for i in test:
        score = prior + sum(w.get(t, w_unseen) for t in toks[i])
        pred, actual = score > 0, i in pos
        tp += pred and actual
        fp += pred and not actual
        tn += not pred and not actual
        fn += not pred and actual
    exp = {"n_test": len(test), "tp": tp, "fp": fp, "tn": tn,
           "fn": fn,
           "precision_ppm": tp * 1_000_000 // (tp + fp)
           if tp + fp else None,
           "recall_ppm": tp * 1_000_000 // (tp + fn)
           if tp + fn else None,
           "accuracy_ppm": (tp + tn) * 1_000_000 // len(test)}
    for k_, v_ in exp.items():
        assert got.get(k_) == v_, (
            f"seed={seed} {k_}: got {got.get(k_)} want {v_}")


@pytest.mark.parametrize("seed", range(4))
def test_differential_postings_lifecycle(spark, seed, tmp_path):
    """VERDICT r8 #7: the PERSISTED serving lifecycle composed end to
    end — build -> delta-append(s) -> compact -> append-after-compact
    — probing vs incrementally-maintained pure-python truth after
    EVERY mutation step (the r8 fuzz covered the layered relation in
    memory; this drives the on-disk verbs x117/x121/x123 compose)."""
    from samplebatchprocessing_spark.operators import text as T
    rng = random.Random(43_000 + seed)
    vocab = [f"w{i:02d}" for i in range(rng.randint(8, 18))]
    nb = rng.choice([1, 4, 8])
    next_id = 0

    def batch(lo_docs, hi_docs):
        nonlocal next_id
        out = []
        for _ in range(rng.randint(lo_docs, hi_docs)):
            out.append((next_id,
                        " ".join(rng.choices(vocab,
                                             k=rng.randint(1, 12)))))
            next_id += 1
        return out

    toks: dict[int, list[str]] = {}

    def ingest(rows):
        toks.update({i: t.split() for i, t in rows})

    def probe_all(idx):
        for _ in range(2):
            q = sorted(set(rng.sample(vocab, rng.randint(1, 3))
                           + (["zz_absent"] if rng.random() < 0.3
                              else [])))
            got = {(r["doc_id"], r["total_tf"])
                   for r in T.postings_probe_and(
                       spark, idx, q, n_buckets=nb).collect()}
            truth = {(i, sum(ts.count(t) for t in q))
                     for i, ts in toks.items()
                     if all(t in ts for t in q)}
            assert got == truth, f"seed={seed} q={q} nb={nb}"

    idx = str(tmp_path / "idx")
    base = batch(3, 10)
    ingest(base)
    T.postings_index_write(
        spark.createDataFrame(base, "doc_id long, text string"),
        idx, n_buckets=nb)
    probe_all(idx)

    for _ in range(rng.randint(1, 3)):            # delta epochs
        delta = batch(1, 6)
        ingest(delta)
        T.postings_index_append(
            spark.createDataFrame(delta, "doc_id long, text string"),
            idx, n_buckets=nb)
        probe_all(idx)

    compacted = str(tmp_path / "compacted")       # fold the layers
    T.postings_index_compact(spark, [idx], compacted)
    probe_all(compacted)

    late = batch(1, 5)                            # append AFTER compact
    ingest(late)
    T.postings_index_append(
        spark.createDataFrame(late, "doc_id long, text string"),
        compacted, n_buckets=nb)
    probe_all(compacted)


@pytest.mark.parametrize("seed", range(4))
def test_differential_pack_extend_chain(spark, seed):
    """VERDICT r8 #7: x122 -> x125 composed as a CHAIN of extensions
    (pack a base, then extend 2-3 times, each delta's base_off = the
    running token total) — the union of the incremental manifests
    must equal both the from-scratch full pack and sequential
    pure-python truth."""
    from samplebatchprocessing_spark.operators.curation import (
        pack_offsets)
    rng = random.Random(44_000 + seed)
    n = rng.randint(6, 60)
    rows = [(i * rng.choice([1, 5]) + 3,
             rng.choice([0, 1, 2, 5, 17, 64]))
            for i in range(n)]
    rows.sort()
    seq_len = rng.choice([1, 4, 16])
    n_parts = rng.choice([1, 2, 8])
    # python truth over the full ordered corpus
    exp, off = {}, 0
    for i, t in rows:
        first, last = off // seq_len, (off + max(t, 1) - 1) // seq_len
        exp[i] = (t, off, first, last, 0 if t == 0 else last - first + 1)
        off += t
    # split into 3-4 ordered chunks, pack chunk 0, extend with the rest
    n_chunks = rng.randint(3, 4)
    cuts = sorted(rng.sample(range(1, n), n_chunks - 1)) \
        if n > n_chunks else [1] * (n_chunks - 1)
    chunks, lo = [], 0
    for c in cuts + [n]:
        chunks.append(rows[lo:c])
        lo = c
    got: dict[int, tuple] = {}
    total = 0
    for chunk in chunks:
        if not chunk:
            continue
        df = spark.createDataFrame(chunk, "doc_id long, n_tok long")
        inc = pack_offsets(df, seq_len=seq_len, n_parts=n_parts,
                           base_off=total)
        got.update({r["doc_id"]: (r["n_tok"], r["start_off"],
                                  r["first_seq"], r["last_seq"],
                                  r["n_seqs"])
                    for r in inc.collect()})
        total += sum(t for _, t in chunk)
    assert got == exp, f"seed={seed} seq_len={seq_len} n_parts={n_parts}"
    # and the chain equals the from-scratch pack
    full = {r["doc_id"]: (r["n_tok"], r["start_off"], r["first_seq"],
                          r["last_seq"], r["n_seqs"])
            for r in pack_offsets(
                spark.createDataFrame(rows, "doc_id long, n_tok long"),
                seq_len=seq_len, n_parts=n_parts).collect()}
    assert got == full, f"seed={seed}"


@pytest.mark.parametrize("seed", range(4))
def test_differential_cogrouped_last_touch(spark, seed):
    """d10 fuzz: the cogrouped merge_asof attribution replayed on
    random event sets against pure-python truth — empty sides, equal
    timestamps (max-event_id tie-break), purchases before any click,
    multi-user interleaving."""
    import datetime as dt

    from samplebatchprocessing_spark.queries.udf import (
        d10_cogrouped_pandas)
    rng = random.Random(45_000 + seed)
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for user in range(rng.randint(1, 6)):
        for _ in range(rng.randint(0, 12)):
            ts = base + dt.timedelta(
                seconds=rng.randint(0, 50),
                microseconds=rng.choice([0, 0, 123456]))
            etype = rng.choice(["purchase", "click", "view"])
            rows.append((eid, ts, user, etype, 0.0, "{}"))
            eid += 1
    if not rows:
        rows = [(0, base, 0, "view", 0.0, "{}")]
    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {r["purchase_id"]: (r["user_id"], r["click_id"],
                                  r["lag_us"])
               for r in d10_cogrouped_pandas(spark, d).collect()}
    exp = {}
    for pid, pts, pu, pt, _, _ in rows:
        if pt != "purchase":
            continue
        cands = [(cts, cid) for cid, cts, cu, ct, _, _ in rows
                 if ct == "click" and cu == pu and cts <= pts]
        if not cands:
            continue
        cts, cid = max(cands)        # (ts, event_id) lexmax == tie-break
        exp[pid] = (pu, cid,
                    (pts - cts) // dt.timedelta(microseconds=1))
    assert got == exp, f"seed={seed}"


@pytest.mark.parametrize("seed", range(3))
def test_differential_quarantine_policy(spark, seed, tmp_path):
    """p20 fuzz: random per-file fail/recover patterns over random
    drain counts — quarantine_sweep must move EXACTLY the files whose
    newest delivery failed with >= max_attempts total failures, and
    the ledger failure counts must equal the python-simulated
    history."""
    import os

    from samplebatchprocessing_spark.pipeline.manifest import (
        quarantine_sweep, watch_prefix)
    rng = random.Random(46_000 + seed)
    bucket = str(tmp_path / "bucket")
    in_dir = os.path.join(bucket, "input")
    os.makedirs(in_dir)
    n_files = rng.randint(2, 5)
    n_drains = rng.randint(1, 4)
    max_attempts = rng.randint(1, 3)
    # schedule[f][d] = True -> file f fails on drain d
    schedule = {f"f{i}.bin": [rng.random() < 0.5
                              for _ in range(n_drains)]
                for i in range(n_files)}

    def content(name, drain):
        return (b"POISON " if schedule[name][drain]
                else b"ok ") + name.encode()

    def guard(raw: bytes) -> bytes:
        if raw[:6] == b"POISON":
            raise ValueError("poison input")
        return raw

    for d in range(n_drains):
        for name in schedule:
            with open(os.path.join(in_dir, name), "wb") as f:
                f.write(content(name, d))
        watch_prefix(spark, bucket, transform=guard,
                     checkpoint=os.path.join(bucket, f"_ckpt{d}"))
    ledger = quarantine_sweep(spark, bucket,
                              max_attempts=max_attempts)
    got = {(r["file_name"], r["n_failures"]) for r in ledger.collect()}
    exp = {(name, sum(fails))
           for name, fails in schedule.items()
           if fails[-1] and sum(fails) >= max_attempts}
    assert got == exp, f"seed={seed} sched={schedule} ma={max_attempts}"
    for name, fails in schedule.items():
        present = os.path.exists(os.path.join(in_dir, name))
        assert present == ((name, sum(fails)) not in exp), name


@pytest.mark.parametrize("seed", range(3))
def test_differential_quarantine_store_reconcile(spark, seed, tmp_path):
    """p21 fuzz (r10): the object-store sweep under random
    crash-interruption states.  Each poison candidate starts in one
    of three states — still in ``input/``, already moved to
    ``quarantine/`` AND ledgered (a completed earlier sweep), or
    moved but NOT ledgered (a sweep that died between the move and
    the ledger append) — alongside recovered files that must never
    be touched.  One sweep must converge every state: every
    candidate ends in quarantine with EXACTLY ONE ledger row
    carrying the python-simulated failure count; a second sweep
    changes nothing."""
    import os

    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient, quarantine_sweep)
    rng = random.Random(48_000 + seed)
    store = LocalObjectStoreClient(str(tmp_path / "objects"))
    log_dir = str(tmp_path / "log")
    ledger_dir = str(tmp_path / "ledger")
    ma = rng.randint(1, 3)

    log_rows, expected, pre_ledgered = [], {}, []
    for i in range(rng.randint(3, 7)):
        name = f"f{i}.bin"
        n_fail = rng.randint(0, 4)
        recovered = rng.random() < 0.4
        for k in range(n_fail):
            log_rows.append((name, 1, 0, "", False, float(k + 1), 0))
        if recovered:
            log_rows.append((name, 1, 1, "out", True,
                             float(n_fail + 1), 0))
        is_poison = (not recovered) and n_fail >= ma and n_fail > 0
        state = rng.choice(["input", "orphaned", "done"]) \
            if is_poison else "input"
        key_in = f"b/input/{name}"
        key_q = f"b/quarantine/{name}"
        if state == "input":
            store.put(key_in, b"x")
        else:
            store.put(key_q, b"x")      # already moved...
            if state == "done":         # ...and ledgered
                pre_ledgered.append((name, n_fail,
                                     f"mock://{key_q}"))
        if is_poison:
            expected[name] = n_fail
    schema = ("file_name string, in_bytes long, out_bytes long, "
              "out_path string, ok boolean, run_seq double, "
              "batch_id long")
    spark.createDataFrame(log_rows, schema).write.parquet(log_dir)
    if pre_ledgered:
        from samplebatchprocessing_spark.pipeline.manifest import (
            LEDGER_SCHEMA)
        (spark.createDataFrame(pre_ledgered, LEDGER_SCHEMA)
         .write.parquet(ledger_dir))

    for _ in range(2):                  # sweep + idempotence
        ledger = quarantine_sweep(spark, "mock://b", store=store,
                                  log_dir=log_dir,
                                  ledger_dir=ledger_dir,
                                  max_attempts=ma)
        got = sorted((r["file_name"], r["n_failures"])
                     for r in ledger.collect())
        assert got == sorted(expected.items()), \
            f"seed={seed} ma={ma}: {got} != {sorted(expected.items())}"
        q_names = {k.rsplit("/", 1)[-1]
                   for k in store.list("b/quarantine/")}
        assert q_names == set(expected), f"seed={seed}"
        in_names = {k.rsplit("/", 1)[-1] for k in store.list("b/input/")}
        assert not (in_names & set(expected)), f"seed={seed}"


@pytest.mark.parametrize("seed", range(3))
def test_differential_lsh_index_lifecycle(spark, seed, tmp_path):
    """x132 fuzz: build -> append -> probe on random corpora must
    equal the in-flight banding twin exactly (identity contract:
    the persisted form changes WHERE corpus band rows come from,
    never WHAT they are), appended index == from-scratch rebuild,
    and an exact copy planted in the batch MUST surface as a
    candidate (identical text -> identical signature -> all bands
    collide)."""
    import os

    from samplebatchprocessing_spark.operators import dedup as D
    rng = random.Random(47_000 + seed)
    vocab = [f"w{i:02d}" for i in range(rng.randint(6, 15))]

    def doc():
        return " ".join(rng.choices(vocab, k=rng.randint(3, 15)))

    base = [(i, doc()) for i in range(rng.randint(4, 15))]
    delta = [(100 + i, doc()) for i in range(rng.randint(0, 6))]
    batch = [(200 + i, doc()) for i in range(rng.randint(1, 8))]
    planted_src = rng.choice(base + delta if delta else base)
    batch.append((299, planted_src[1]))          # exact copy
    nb = rng.choice([1, 4, 16])
    schema = "doc_id long, text string"
    b_df = spark.createDataFrame(base, schema)
    d_df = spark.createDataFrame(delta or [(999, "zz_filler")], schema)
    q_df = spark.createDataFrame(batch, schema)

    idx = str(tmp_path / "idx")
    D.lsh_index_write(b_df, idx, n_buckets=nb)
    D.lsh_index_append(d_df, idx, n_buckets=nb)
    got = {(r["batch_id"], r["corpus_id"]) for r in
           D.lsh_index_probe(spark, idx, q_df, n_buckets=nb).collect()}

    corpus = b_df.unionByName(d_df)
    inflight = {(r["batch_id"], r["corpus_id"]) for r in
                (D.lsh_band_relation(corpus, n_buckets=nb)
                 .withColumnRenamed("did", "corpus_id")
                 .join(D.lsh_band_relation(q_df, n_buckets=nb)
                       .withColumnRenamed("did", "batch_id"),
                       ["bucket", "band_idx", "band_hash"])
                 .filter(F.col("batch_id") != F.col("corpus_id"))
                 .select("batch_id", "corpus_id").distinct().collect())}
    assert got == inflight, f"seed={seed} nb={nb}"
    assert (299, planted_src[0]) in got, f"seed={seed}: planted copy missed"

    rebuild = str(tmp_path / "rebuild")
    D.lsh_index_write(corpus, rebuild, n_buckets=nb)
    re_got = {(r["batch_id"], r["corpus_id"]) for r in
              D.lsh_index_probe(spark, rebuild, q_df,
                                n_buckets=nb).collect()}
    assert got == re_got, f"seed={seed}: append != rebuild"

    # l17 (r10): compaction is a pure LAYOUT change under ANY split —
    # full band relation identical, probe identical, buckets frozen
    compacted = str(tmp_path / "compacted")
    D.lsh_index_compact(spark, [idx], compacted)
    cols = ["did", "band_idx", "band_hash", "bucket"]
    lay = spark.read.parquet(idx).select(cols)
    cmp_ = spark.read.parquet(compacted).select(cols)
    assert lay.exceptAll(cmp_).count() == 0, f"seed={seed}: lost rows"
    assert cmp_.exceptAll(lay).count() == 0, f"seed={seed}: dup rows"
    c_got = {(r["batch_id"], r["corpus_id"]) for r in
             D.lsh_index_probe(spark, compacted, q_df,
                               n_buckets=nb).collect()}
    assert got == c_got, f"seed={seed}: compact != layered probe"


@pytest.mark.parametrize("seed", range(6))
def test_differential_bpe_sql_twin(seed):
    """x44's r10 DuckDB twin vs the pure-python BPE reference on
    random corpora — no Spark involved, so this isolates the SQL
    side of the triangle (Spark vs python is the existing
    test_operators gate; Spark vs SQL is the registry parity gate).
    Exercises the replace-equivalence edge cases the proof leans on:
    runs of repeated characters (greedy non-overlap), multi-char
    symbols merging in later rounds (whole-symbol matching), and
    words shorter than a pair."""
    import duckdb
    from collections import Counter

    rng = random.Random(50_000 + seed)
    alphabet = "ab" if seed % 2 == 0 else "abc"
    docs = [" ".join(
        "".join(rng.choices(alphabet, k=rng.randint(1, 6)))
        for _ in range(rng.randint(1, 12)))
        for _ in range(rng.randint(2, 10))]
    n_merges = rng.randint(1, 6)

    # pure-python reference (the test_operators spec)
    words = Counter()
    for t in docs:
        for w in t.split():
            words[w] += 1
    vocab = {tuple(w): f for w, f in words.items()}
    expect = []
    for rnd in range(1, n_merges + 1):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (lft, rgt), c = min(pairs.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merged = lft + rgt
        expect.append((rnd, lft, rgt, merged, c))
        nv = {}
        for syms, f in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == lft and s == rgt:
                    out[-1] = merged
                else:
                    out.append(s)
            nv[tuple(out)] = nv.get(tuple(out), 0) + f
        vocab = nv

    from samplebatchprocessing_spark.queries.llm import _x44_sql
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?)",
                    [(d,) for d in docs])
    got = sorted(con.execute(_x44_sql(n_merges)).fetchall())
    # early stop agrees by construction: when no word has >= 2
    # symbols left, python breaks AND the SQL round's argmax CTE is
    # empty, which empties every later round's arm too
    assert got == sorted(expect), \
        f"seed={seed} docs={docs}\nsql:    {got}\npython: {expect}"


@pytest.mark.parametrize("seed", range(3))
def test_differential_ivf_recluster(spark, seed, tmp_path):
    """x133 fuzz: build -> frozen-quantizer delta append -> RECLUSTER
    must equal a from-scratch rebuild over the same corpus EXACTLY
    (same deterministic sample order + seeds -> same centroids ->
    same assignment), under random corpora, random split fractions,
    and random cell counts; and reassignment must conserve the
    vec_id multiset."""
    import numpy as np

    from samplebatchprocessing_spark.operators import similarity as S
    rng = random.Random(49_000 + seed)
    np_rng = np.random.default_rng(49_000 + seed)
    n = rng.randint(12, 60)
    dim = rng.choice([4, 8])
    n_cells = rng.choice([2, 4, 8])
    rows = [(i, [float(x) for x in np_rng.normal(size=dim)])
            for i in range(n)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    cut = rng.randint(1, n - 1)
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)

    idx = str(tmp_path / "idx")
    recl = str(tmp_path / "recl")
    rebuild = str(tmp_path / "rebuild")
    cmat0 = S.ivf_index_write(base, idx, n_cells=n_cells)
    (S.ivf_assign(delta, cmat0).write.mode("append")
     .partitionBy("cell").parquet(idx))
    cmat_r = S.ivf_index_recluster(spark, idx, recl, n_cells=n_cells)
    cmat_b = S.ivf_index_write(emb, rebuild, n_cells=n_cells)
    assert np.allclose(cmat_r, cmat_b), f"seed={seed}: centroids drift"

    a = {(r["vec_id"], r["cell"]) for r in
         spark.read.parquet(recl).select("vec_id", "cell").collect()}
    b = {(r["vec_id"], r["cell"]) for r in
         spark.read.parquet(rebuild).select("vec_id", "cell").collect()}
    assert a == b, f"seed={seed}: recluster != rebuild assignment"
    assert sorted(v for v, _ in a) == list(range(n)), \
        f"seed={seed}: vec_ids not conserved"


@pytest.mark.parametrize("seed", range(4))
def test_differential_lateral_topk(spark, seed, tmp_path):
    """j16 fuzz: the decorrelated lateralJoin must equal pure-python
    per-key top-2 on random data — customers with zero orders drop
    (inner lateral), duplicate order dates stress the o_orderkey
    tie-break, and single-order customers emit one row."""
    import datetime as dt
    import os

    from samplebatchprocessing_spark.queries.relational import (
        j16_lateral_topk)
    rng = random.Random(48_000 + seed)
    custs = [(i, rng.choice(["A", "B"])) for i in range(rng.randint(2, 8))]
    orders, ok = [], 0
    for c, _ in custs:
        for _ in range(rng.randint(0, 5)):
            d = dt.datetime(2020, 1, 1) + dt.timedelta(
                days=rng.randint(0, 3))       # few days -> many ties
            orders.append((ok, c, "O", float(rng.randint(1, 9) * 100),
                           d, "1-URGENT"))
            ok += 1
    if not orders:
        orders = [(0, custs[0][0], "O", 100.0,
                   dt.datetime(2020, 1, 1), "1-URGENT")]
    d = str(tmp_path)
    spark.createDataFrame(
        [(c, f"c{c}", 0, 0.0, m) for c, m in custs],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string").write.parquet(
        os.path.join(d, "customer.parquet"))
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string").write.parquet(
        os.path.join(d, "orders.parquet"))
    got = {(r["c_custkey"], r["o_orderkey"], r["o_totalprice"])
           for r in j16_lateral_topk(spark, d).collect()}
    exp = set()
    for c, _ in custs:
        mine = sorted(((o[4], o[0]) for o in orders if o[1] == c),
                      key=lambda t: (-t[0].timestamp(), t[1]))[:2]
        for _, okey in mine:
            price = next(o[3] for o in orders if o[0] == okey)
            exp.add((c, okey, price))
    assert got == exp, f"seed={seed}"


@pytest.mark.parametrize("seed", range(4))
def test_differential_lsh_probe_under_maintenance(spark, seed,
                                                  tmp_path):
    """r11 (VERDICT r10 #4): the 'composes with in-flight probes'
    claim, interleaved.  Under random corpora/splits/bucket counts:
    a probe against the layered index while a compaction of the SAME
    layers lands in a fresh directory sees no effect; a probe
    through the versioned pointer returns identical candidates
    immediately before and immediately after the publish (compaction
    is a pure layout change); and a reader that resolved the pointer
    BEFORE the publish keeps reading its old layout consistently
    until the prune horizon passes it."""
    import os

    from samplebatchprocessing_spark.operators import (
        dedup as D2, publish as P)

    rng = random.Random(61_000 + seed)
    vocab = [f"w{i}" for i in range(rng.randint(6, 24))]

    def doc():
        return " ".join(rng.choices(vocab, k=rng.randint(3, 15)))

    base = [(i, doc()) for i in range(rng.randint(4, 12))]
    deltas = [[(100 * (d + 1) + i, doc())
               for i in range(rng.randint(1, 4))]
              for d in range(rng.randint(1, 3))]
    batch = [(9000 + i, doc()) for i in range(rng.randint(1, 6))]
    batch.append((9999, rng.choice(base)[1]))    # planted near-dup
    nb = rng.choice([1, 4, 16])
    schema = "doc_id long, text string"
    q_df = spark.createDataFrame(batch, schema)

    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    D2.lsh_index_write(spark.createDataFrame(base, schema), v1,
                       n_buckets=nb)
    P.publish(root, v1)
    for delta in deltas:
        D2.lsh_index_append(spark.createDataFrame(delta, schema),
                            root, n_buckets=nb)

    def probe(target):
        return sorted((r["batch_id"], r["corpus_id"]) for r in
                      D2.lsh_index_probe(spark, target, q_df,
                                         n_buckets=nb).collect())

    old_layout = P.resolve(root)            # reader resolves pre-swap
    p_layered = probe(root)
    assert any(b == 9999 for b, _ in p_layered), \
        f"seed={seed}: planted dup missed"

    # compaction LANDS (fresh dir, unpublished): in-flight probes of
    # the layered form and pointer-routed probes are both unaffected
    out = P.new_layout_dir(root)
    D2.lsh_index_compact(spark, [old_layout], out)
    assert probe(root) == p_layered, f"seed={seed}: pre-publish drift"
    assert probe(old_layout) == p_layered, f"seed={seed}"

    # the atomic swap: routed probes move to the compacted layout
    # with identical candidates; the pre-swap reader's layout stays
    # valid until pruned past the keep>=2 horizon
    P.publish(root, out)
    assert probe(root) == p_layered, f"seed={seed}: post-publish drift"
    assert probe(old_layout) == p_layered, f"seed={seed}: old reader"
    assert P.prune(root, keep=2) == []
    assert probe(old_layout) == p_layered, f"seed={seed}: horizon"
    assert P.prune(root, keep=1) == [old_layout]
    assert not os.path.exists(old_layout)
    assert probe(root) == p_layered, f"seed={seed}: live survives prune"


@pytest.mark.parametrize("seed", range(3))
def test_differential_ivf_probe_under_maintenance(spark, seed,
                                                  tmp_path):
    """r11 (VERDICT r10 #4), ANN flavor: a probe always pairs ONE
    version's cells with THAT version's centroids — resolving the
    pointer before the recluster publishes serves (old cells, old
    sidecar); after, (new cells, new sidecar); never a mix.  Routed
    probes equal direct probes of the version they resolved, both
    sides of the swap, under random corpora and cell counts."""
    import os

    import numpy as np

    from samplebatchprocessing_spark.operators import (
        publish as P, similarity as S)

    rng = random.Random(62_000 + seed)
    np_rng = np.random.default_rng(62_000 + seed)
    n = rng.randint(16, 48)
    dim = rng.choice([4, 8])
    n_cells = rng.choice([2, 4])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in np_rng.normal(size=dim)])
         for i in range(n)], "vec_id long, embedding array<float>")
    pred = f"vec_id < {rng.randint(2, 5)}"

    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    cmat1 = S.ivf_index_write(emb.filter(F.col("vec_id") % 3 != 0),
                              v1, n_cells=n_cells)
    S.ivf_centroids_write(v1, cmat1)
    P.publish(root, v1)
    (S.ivf_assign(emb.filter(F.col("vec_id") % 3 == 0), cmat1)
     .write.mode("append").partitionBy("cell").parquet(P.resolve(root)))

    def probe(layout, cm):
        return sorted(map(tuple,
                          S.ivf_index_probe(spark, layout, cm, emb,
                                            pred, k=3).collect()))

    # recluster lands unpublished: routed reads stay (v1, cmat1)
    out = P.new_layout_dir(root)
    cmat2 = S.ivf_index_recluster(spark, root, out, n_cells=n_cells)
    S.ivf_centroids_write(out, cmat2)
    before = probe(root, S.ivf_centroids_read(root))
    assert before == probe(v1, cmat1), f"seed={seed}: version mix"

    P.publish(root, out)
    assert (S.ivf_centroids_read(root) == cmat2).all(), \
        f"seed={seed}: sidecar not swapped with cells"
    after = probe(root, S.ivf_centroids_read(root))
    assert after == probe(out, cmat2), f"seed={seed}: version mix"
    # the old version remains self-consistent for in-flight readers
    assert probe(v1, cmat1) == before, f"seed={seed}: old reader"


@pytest.mark.parametrize("seed", range(6))
def test_differential_publish_lifecycle_invariants(seed, tmp_path):
    """r11: randomized publish/crash/prune sequences against the
    pointer primitive all three index families now depend on.
    Invariants after EVERY operation: resolve() names an existing
    published directory; the version is strictly monotone; orphans
    (crashed writers) are never resolved, never name-reused, never
    pruned; prune never deletes the live layout or any of the newest
    ``keep`` published ones."""
    import os
    import random as _r

    from samplebatchprocessing_spark.operators import publish as P

    rng = _r.Random(63_000 + seed)
    root = str(tmp_path / "root")
    os.makedirs(root)
    published = []          # dirs in publish order

    def _write_layout(d):
        # one file, as a real writer leaves: a layout exists iff it
        # holds a file
        os.makedirs(d)
        open(os.path.join(d, "part-0.parquet"), "wb").close()

    orphans = []
    last_version = 0

    def check():
        live = P.resolve(root)
        if published:
            assert live == published[-1] and os.path.isdir(live)
            assert P.current_version(root) == last_version
        else:
            assert live == root
        for o in orphans:
            assert os.path.isdir(o), "orphan deleted"
            assert live != o, "orphan resolved"

    for _ in range(rng.randint(5, 20)):
        op = rng.choice(["publish", "crash", "prune"])
        if op == "publish":
            d = P.new_layout_dir(root)
            assert d not in published and d not in orphans
            _write_layout(d)
            v = P.publish(root, d)
            last_version += 1
            assert v == last_version, f"seed={seed}: version skew"
            published.append(d)
        elif op == "crash":
            d = P.new_layout_dir(root)
            assert d not in published and d not in orphans
            _write_layout(d)        # written, never published
            orphans.append(d)
        elif published:
            keep = rng.randint(1, 3)
            deleted = P.prune(root, keep=keep)
            keep_set = set(published[-keep:]) | {published[-1]}
            for d in deleted:
                assert d not in keep_set, f"seed={seed}: horizon"
                assert d not in orphans
                published.remove(d)
        check()


@pytest.mark.parametrize("seed", range(4))
def test_differential_vocab_artifact_lifecycle(seed, tmp_path):
    """r11 (x135/s27): randomized retrain/crash/read/prune sequences
    over the PUBLISHED BPE-vocab artifact — the format layer on top
    of the pointer fuzz above.  Invariants after every op: a read
    through the root returns EXACTLY the last PUBLISHED merge list,
    in training order (never a crashed writer's, never a pruned
    one's); a reader pinned to a pre-publish layout keeps serving its
    own version byte-for-byte."""
    import os
    import random as _r

    from samplebatchprocessing_spark.operators import artifacts as A
    from samplebatchprocessing_spark.operators import publish as P

    rng = _r.Random(64_000 + seed)
    root = str(tmp_path / "vroot")
    os.makedirs(root)

    def fake_merges(version: int):
        n = rng.randint(1, 5)
        return [(k + 1, f"l{version}_{k}", f"r{version}_{k}",
                 f"m{version}_{k}", rng.randint(1, 99))
                for k in range(n)]

    published = []      # (dir, expected_tuple) in publish order
    n_written = 0
    pinned = None       # (layout_dir, expected_tuple) mid-flight reader
    for _ in range(rng.randint(6, 18)):
        op = rng.choice(["retrain", "crash", "read", "prune", "pin"])
        if op in ("retrain", "crash"):
            n_written += 1
            m = fake_merges(n_written)
            d = P.new_layout_dir(root)
            A.bpe_vocab_write(m, d)
            if op == "retrain":
                P.publish(root, d)
                published.append(
                    (d, tuple((l, r, mm) for _, l, r, mm, _ in m)))
        elif op == "read" and published:
            assert A.bpe_vocab_read(root) == published[-1][1], \
                f"seed={seed}: read != last published"
        elif op == "prune" and published:
            keep = rng.randint(2, 3)
            deleted = set(P.prune(root, keep=keep))
            published = [(d, t) for d, t in published
                         if d not in deleted]
            if pinned and pinned[0] in deleted:
                pinned = None
        elif op == "pin" and published:
            pinned = published[-1]
        if pinned:
            # a resolve()-pinned reader re-reads ITS layout directly,
            # untouched by later publishes (prune(keep>=2) horizon)
            assert A.bpe_vocab_read(pinned[0]) == pinned[1], \
                f"seed={seed}: pinned reader disturbed"
    if published:
        assert A.bpe_vocab_read(root) == published[-1][1]


@pytest.mark.parametrize("seed", range(3))
def test_differential_nb_model_artifact_lifecycle(spark, seed,
                                                  tmp_path):
    """r11 (x136): randomized train/delta-merge/crash/read/prune
    sequences over the PUBLISHED NB-model artifact — the parquet +
    prior-sidecar format layer on the pointer fuzz.  The reference
    model is a pure-python dict of keyed counts; invariants after
    every op: a read through the root returns EXACTLY the last
    published count multiset and priors (never a crashed writer's,
    never partially-merged state); the published-model lineage is
    the prefix-sum of the applied deltas, so merge order can never
    leak into the artifact."""
    import os
    import random as _r

    from samplebatchprocessing_spark.operators import artifacts as A
    from samplebatchprocessing_spark.operators import publish as P

    rng = _r.Random(65_000 + seed)
    root = str(tmp_path / "nbroot")
    os.makedirs(root)
    vocab = [f"t{j}" for j in range(6)]

    def rand_delta():
        toks = rng.sample(vocab, rng.randint(1, 4))
        return ({t: (rng.randint(0, 5), rng.randint(0, 5))
                 for t in toks},
                rng.randint(0, 9), rng.randint(0, 9))

    def merged_plus(base, delta):
        cnt = dict(base)
        for t, (pc, nc) in delta.items():
            b = cnt.get(t, (0, 0))
            cnt[t] = (b[0] + pc, b[1] + nc)
        return cnt

    def write_and(publish_it):
        nonlocal model, np_, nn
        d_cnt, d_np, d_nn = rand_delta()
        new_cnt = merged_plus(model[0], d_cnt) if model else d_cnt
        new_np = (model[1] if model else 0) + d_np
        new_nn = (model[2] if model else 0) + d_nn
        df = spark.createDataFrame(
            [(t, pc, nc) for t, (pc, nc) in new_cnt.items()],
            "tok string, pc long, nc long")
        d = P.new_layout_dir(root)
        A.nb_model_write(df, new_np, new_nn, d)
        if publish_it:
            P.publish(root, d)
            model, np_, nn = (new_cnt, new_np, new_nn), new_np, new_nn

    model, np_, nn = None, None, None
    published_once = False
    for _ in range(rng.randint(4, 8)):
        op = rng.choice(["update", "crash", "read", "prune"])
        if op == "update":
            write_and(True)
            published_once = True
        elif op == "crash":
            write_and(False)        # layout written, never published
        elif op == "read" and published_once:
            got, gnp, gnn = A.nb_model_read(spark, root)
            assert (gnp, gnn) == (np_, nn), f"seed={seed}: priors"
            rows = {(r["tok"], r["pc"], r["nc"])
                    for r in got.collect()}
            want = {(t, pc, nc)
                    for t, (pc, nc) in model[0].items()}
            assert rows == want, f"seed={seed}: counts drifted"
        elif op == "prune" and published_once:
            P.prune(root, keep=2)
    if published_once:
        got, gnp, gnn = A.nb_model_read(spark, root)
        assert (gnp, gnn) == (np_, nn)


@pytest.mark.parametrize("seed", range(4))
def test_differential_bnl_hard_negatives(spark, seed):
    """x88b fuzz (the x119 discipline, plus labels): the tiled
    hard-negative miner must return the same (query_id, rank) ->
    (vec_id, labels) relation as a driver-side numpy truth under
    RANDOM tile sizes, with the label-inequality mask applied before
    the top-k and cosines within fp tolerance.  Zero-norm vectors
    planted on both sides; a query whose label covers the whole
    corpus-minus-itself still gets k rows (labels are random over a
    small alphabet, so ties and near-full masks occur)."""
    import numpy as np

    from samplebatchprocessing_spark.operators.similarity import (
        bnl_hard_negatives)
    rng = random.Random(88_000 + seed)
    n, dim, k = rng.randint(30, 120), 8, rng.randint(1, 4)
    n_labels = rng.choice((2, 3, 5))
    rows = [(i, rng.randrange(n_labels),
             ([0.0] * dim if i == n - 1       # last vector zero-norm
              else [rng.uniform(-1, 1) for _ in range(dim)]))
            for i in range(n)]
    ids = np.array([r[0] for r in rows])
    labs = np.array([r[1] for r in rows])
    mat = np.array([r[2] for r in rows],
                   dtype=np.float32).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    step = rng.choice((3, 7, 10))
    truth = {}
    for qi in range(n):
        if ids[qi] % step or np.isnan(sims[qi, qi]):
            continue                          # not a query / zero-norm
        col = sims[:, qi]
        mask = (labs != labs[qi]) & ~np.isnan(col)
        cid, cl, cs = ids[mask], labs[mask], col[mask]
        top = np.lexsort((cid, -cs))[:k]
        for rank, t in enumerate(top, 1):
            truth[(ids[qi], rank)] = (cid[t], labs[qi], cl[t],
                                      round(cs[t], 6))
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    qb, cb = rng.randint(1, n), rng.randint(1, n)
    got = {(r["query_id"], r["rank"]):
           (r["vec_id"], r["q_label"], r["neg_label"], r["cosine"])
           for r in bnl_hard_negatives(
               emb, F.col("vec_id") % step == 0, k=k,
               q_block=qb, c_block=cb).collect()}
    assert set(got) == set(truth), f"seed={seed} qb={qb} cb={cb}"
    for key, (vid, ql, nl, cos) in truth.items():
        gvid, gql, gnl, gcos = got[key]
        assert (gvid, gql, gnl) == (vid, ql, nl), f"seed={seed} {key}"
        assert abs(gcos - cos) < 2e-6, f"seed={seed} {key}"


@pytest.mark.parametrize("seed", range(3))
def test_bnl_hard_negatives_null_label_parity(spark, seed):
    """ADVICE r13 #1: the expression path's `neg_label != q_label`
    is NULL-rejecting (a null-label row drops from either side),
    but numpy's object-dtype `c_lab != q_lab[j]` evaluates
    None != x as True — before the r14 fix the tile kernel admitted
    null-label candidates as negatives.  Plant NULL labels on ~25%
    of rows (both query and candidate positions) and assert the two
    paths return the identical (query_id, rank) -> (vec_id, labels)
    relation, cosines to fp tolerance."""
    from samplebatchprocessing_spark.operators.similarity import (
        bnl_hard_negatives, hard_negative_topk)
    rng = random.Random(88_500 + seed)
    n, dim, k = rng.randint(30, 80), 6, rng.randint(1, 3)
    rows = [(i, None if rng.random() < 0.25 else rng.randrange(3),
             [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(n)]
    # the scenario under test must actually occur: null-label rows
    # on the query side AND in the candidate pool
    assert any(lab is None and i % 5 == 0 for i, lab, _ in rows), seed
    assert any(lab is None and i % 5 != 0 for i, lab, _ in rows), seed
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    pred = F.col("vec_id") % 5 == 0
    exp = {(r["query_id"], r["rank"]):
           (r["vec_id"], r["q_label"], r["neg_label"], r["cosine"])
           for r in hard_negative_topk(emb, pred, k=k).collect()}
    qb, cb = rng.randint(1, n), rng.randint(1, n)
    got = {(r["query_id"], r["rank"]):
           (r["vec_id"], r["q_label"], r["neg_label"], r["cosine"])
           for r in bnl_hard_negatives(emb, pred, k=k,
                                       q_block=qb, c_block=cb).collect()}
    assert set(got) == set(exp), f"seed={seed} qb={qb} cb={cb}"
    for key, (vid, ql, nl, cos) in exp.items():
        gvid, gql, gnl, gcos = got[key]
        assert (gvid, gql, gnl) == (vid, ql, nl), f"seed={seed} {key}"
        assert abs(gcos - cos) < 2e-6, f"seed={seed} {key}"
    # no null label ever appears in the output of either path
    assert all(ql is not None and nl is not None
               for _, ql, nl, _ in exp.values())
    assert all(ql is not None and nl is not None
               for _, ql, nl, _ in got.values())


# ---------------------------------------------------------------------------
# r14 (VERDICT r13 #7): generator coverage for the newest window/as-of
# surface — random FRAME specs (ROWS / RANGE / GROUPS bounds, tied and
# NULL order keys, NULL aggregate inputs) and random AS-OF joins with
# PLANTED TIMESTAMP TIES (the j8/j14/j15 tie-break machinery), each
# against an engine-independent oracle: DuckDB window SQL for
# ROWS/RANGE, a pure-python peer-group evaluator for GROUPS (DuckDB
# 1.0 does not implement GROUPS framing), and DuckDB ASOF LEFT JOIN
# over a tie-deduped right side for as-of.  200 pipelines total.
# ---------------------------------------------------------------------------

def _frame_sql_bound(b) -> str:
    if b == "unb_p":
        return "UNBOUNDED PRECEDING"
    if b == "unb_f":
        return "UNBOUNDED FOLLOWING"
    if b == 0:
        return "CURRENT ROW"
    return f"{-b} PRECEDING" if b < 0 else f"{b} FOLLOWING"


def _frame_spark_bound(b):
    from pyspark.sql import Window as W
    return {"unb_p": W.unboundedPreceding,
            "unb_f": W.unboundedFollowing}.get(b, b)


_FRAME_FNS = {"sum": (F.sum, "SUM", sum),
              "min": (F.min, "MIN", min),
              "max": (F.max, "MAX", max),
              "count": (F.count, "COUNT", len)}


@pytest.mark.parametrize("seed", range(120))
def test_differential_window_frames(spark, seed):
    """Random window-frame pipelines (VERDICT r13 #7): a random
    aggregate over a random ROWS / RANGE / GROUPS frame, partitions
    with TIED order keys (small order domain), NULL order keys (ROWS/
    GROUPS modes) and NULL aggregate inputs, compared exactly against
    DuckDB (ROWS/RANGE) or a pure-python peer-group evaluator
    (GROUPS — DuckDB 1.0 rejects GROUPS framing; the python oracle is
    independent of the operator's groupBy+window+join composition).
    ROWS orders by (o, id) — a total order, required for ROWS
    determinism; RANGE/GROUPS order by o alone so TIES ARE EXERCISED
    (peers must aggregate identically in any engine)."""
    import duckdb

    rng = random.Random(814_000 + seed)
    mode = rng.choice(["rows", "range", "groups"])
    fn_name = rng.choice(list(_FRAME_FNS))
    n = rng.randint(40, 140)
    rows = [(i, rng.randrange(4),
             (None if mode != "range" and rng.random() < 0.12
              else rng.randrange(8)),
             (None if rng.random() < 0.15 else rng.randint(-20, 20)))
            for i in range(n)]
    df = spark.createDataFrame(rows, "id long, p int, o int, v int")
    f_spark, f_sql, f_py = _FRAME_FNS[fn_name]

    if mode == "groups":
        prec, foll = rng.randint(0, 3), rng.randint(0, 3)
        from samplebatchprocessing_spark.operators.windows import (
            groups_frame_agg)
        merge = {"sum": "sum", "count": "sum",
                 "min": "min", "max": "max"}[fn_name]
        out = groups_frame_agg(df, ["p"], "o",
                               {"w_out": (f_spark("v"), merge)},
                               preceding=prec, following=foll)
        got = {r["id"]: r["w_out"]
               for r in out.select("id", "w_out").collect()}
        # pure-python peer-group oracle (NULL o = one group, first)
        from collections import defaultdict
        parts = defaultdict(list)
        for r in rows:
            parts[r[1]].append(r)
        expect = {}
        for rs in parts.values():
            dist = sorted({r[2] for r in rs},
                          key=lambda o: (o is not None, o))
            gidx = {o: i for i, o in enumerate(dist)}
            for r in rs:
                g = gidx[r[2]]
                vals = [x[3] for x in rs
                        if g - prec <= gidx[x[2]] <= g + foll
                        and x[3] is not None]
                expect[r[0]] = (f_py(vals) if (vals or fn_name == "count")
                                else None)
        assert got == expect, (
            f"seed={seed} mode=groups prec={prec} foll={foll}")
        return

    from pyspark.sql import Window as W
    lo = rng.choice(["unb_p"] + list(range(-4, 5)))
    hi = rng.choice(list(range(-4, 5)) + ["unb_f"])
    if isinstance(lo, int) and isinstance(hi, int) and lo > hi:
        lo, hi = hi, lo
    if mode == "rows":
        w = (W.partitionBy("p")
             .orderBy(F.col("o").asc_nulls_first(), F.col("id"))
             .rowsBetween(_frame_spark_bound(lo), _frame_spark_bound(hi)))
        order_sql = "o ASC NULLS FIRST, id"
        unit = "ROWS"
    else:
        w = (W.partitionBy("p").orderBy(F.col("o").asc())
             .rangeBetween(_frame_spark_bound(lo), _frame_spark_bound(hi)))
        order_sql = "o ASC"
        unit = "RANGE"
    got = {r["id"]: r["w_out"]
           for r in df.select("id", f_spark("v").over(w).alias("w_out"))
           .collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, p INT, o INT, v INT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    expect = dict(con.execute(
        f"SELECT id, {f_sql}(v) OVER (PARTITION BY p ORDER BY "
        f"{order_sql} {unit} BETWEEN {_frame_sql_bound(lo)} AND "
        f"{_frame_sql_bound(hi)}) FROM t").fetchall())
    assert got == expect, f"seed={seed} mode={mode} lo={lo} hi={hi}"


@pytest.mark.parametrize("seed", range(80))
def test_differential_asof_ties(spark, seed):
    """Random as-of joins with PLANTED TIES (VERDICT r13 #7): tiny
    timestamp domain so exact-equal matches and MULTIPLE right rows
    at the same (key, ts) occur constantly; all four direction x
    strict combinations of :func:`asof_join` with the documented
    tie-break (smallest ``rid`` wins among equal-ts matches), plus
    the j15 multi-table one-shuffle read every third seed.  Oracle:
    DuckDB ASOF LEFT JOIN over the right side DEDUPED to the
    tie-break winner per (k, ts) — if the operator's tie-break
    honors its contract the two relations are identical; if it ever
    carried an arbitrary equal-ts row the dedup'd oracle differs."""
    import duckdb

    from samplebatchprocessing_spark.operators.asof import (
        asof_join, multi_asof_join)
    rng = random.Random(815_000 + seed)
    nk = rng.randint(1, 4)
    n_l, n_r = rng.randint(10, 40), rng.randint(10, 50)
    left_rows = [(i, rng.randrange(nk), rng.randrange(8))
                 for i in range(n_l)]
    # key 99 never occurs on the left; high keys may miss on the right
    right_rows = [(100 + j, rng.choice(list(range(nk)) + [99]),
                   rng.randrange(8), rng.randint(-50, 50))
                  for j in range(n_r)]
    # the scenario under test must actually occur: at least one
    # duplicated (k, ts) pair on the right
    if len({(k, t) for _, k, t, _ in right_rows}) == len(right_rows):
        right_rows.append((100 + n_r, right_rows[0][1],
                           right_rows[0][2], rng.randint(-50, 50)))
    left = spark.createDataFrame(left_rows, "id long, k int, ts int")
    right = spark.createDataFrame(right_rows,
                                  "rid long, k int, ts int, val int")
    con = duckdb.connect()
    con.execute("CREATE TABLE l (id BIGINT, k INT, ts INT)")
    con.execute("CREATE TABLE r (rid BIGINT, k INT, ts INT, val INT)")
    con.executemany("INSERT INTO l VALUES (?,?,?)", left_rows)
    con.executemany("INSERT INTO r VALUES (?,?,?,?)", right_rows)
    # tie-deduped right: per (k, ts) the smallest-rid row — exactly
    # the row the operator's tiebreak contract must carry
    dedup = ("SELECT k, ts, arg_min(val, rid) AS val, "
             "min(rid) AS rid FROM r GROUP BY k, ts")

    direction = rng.choice(["backward", "forward"])
    strict = rng.random() < 0.4
    op = {("backward", False): ">=", ("backward", True): ">",
          ("forward", False): "<=", ("forward", True): "<"}[
        (direction, strict)]
    got = {r["id"]: (r["val"], r["rid"])
           for r in asof_join(
               left, right, left_ts="ts", right_ts="ts",
               left_by="k", right_by="k", right_cols=["val", "rid"],
               strict=strict, direction=direction,
               tiebreak="rid").select("id", "val", "rid").collect()}
    expect = {i: (v, rid) for i, v, rid in con.execute(
        f"SELECT l.id, r1.val, r1.rid FROM l ASOF LEFT JOIN "
        f"({dedup}) r1 ON l.k = r1.k AND l.ts {op} r1.ts").fetchall()}
    # DuckDB ASOF is INNER-shaped on missing keys only with LEFT —
    # left-outer either way here; unmatched ids must still appear
    for i, *_ in left_rows:
        expect.setdefault(i, (None, None))
        got.setdefault(i, (None, None))
    assert got == expect, f"seed={seed} dir={direction} strict={strict}"

    if seed % 3 == 0:
        # j15: two right tables, ONE shuffle.  multi_asof_join has no
        # tiebreak parameter — its contract requires unique (k, ts)
        # per right table — so feed it the tie-deduped relations.
        r1_rows = con.execute(
            "SELECT k, ts, arg_min(val, rid), min(rid) "
            "FROM r GROUP BY k, ts").fetchall()  # k, ts, v1, rid
        r2_rows = [(k, t, v * 3) for k, t, v, _ in r1_rows
                   if (k + t) % 2 == 0]
        r1 = spark.createDataFrame(
            [(k, t, v) for k, t, v, _ in r1_rows],
            "k int, ts int, v1 int")
        r2 = spark.createDataFrame(r2_rows or [(99, 0, 0)],
                                   "k int, ts int, v2 int")
        con.execute("CREATE TABLE r1 AS SELECT k, ts, "
                    f"arg_min(val, rid) AS v1 FROM r GROUP BY k, ts")
        con.register("r2pd", __import__("pandas").DataFrame(
            r2_rows or [(99, 0, 0)], columns=["k", "ts", "v2"]))
        got_m = {r["id"]: (r["v1"], r["v2"])
                 for r in multi_asof_join(
                     left,
                     [{"df": r1, "ts": "ts", "by": "k", "cols": ["v1"]},
                      {"df": r2, "ts": "ts", "by": "k", "cols": ["v2"]}],
                     left_ts="ts", left_by="k")
                 .select("id", "v1", "v2").collect()}
        expect_m = {i: (a, b) for i, a, b in con.execute(
            "SELECT q.id, q.v1, r2.v2 FROM "
            "(SELECT l.id, l.k, l.ts, r1.v1 FROM l ASOF LEFT JOIN r1 "
            " ON l.k = r1.k AND l.ts >= r1.ts) q "
            "ASOF LEFT JOIN r2pd r2 ON q.k = r2.k AND q.ts >= r2.ts"
        ).fetchall()}
        for i, *_ in left_rows:
            expect_m.setdefault(i, (None, None))
            got_m.setdefault(i, (None, None))
        assert got_m == expect_m, f"seed={seed} multi"
