"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical parquet files and JSON streams.

* ``tables(sf, seed)``      TPC-H-ish star schema plus ``events``,
                            ``documents`` and ``embeddings``, with the
                            column types and value ranges the gate queries
                            expect (``SparkEntry.queries``).
* ``permuted(tables, seed)``  the same rows in a seed-dependent order.
* ``session_stream(...)``   the parameterized Cypher stream of
                            ``cypher-session``.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
US_PER_DAY = 86_400_000_000


def _ts(base, offsets_us):
    return pa.array((base + offsets_us.astype("timedelta64[us]")).astype("datetime64[us]"))


def _days(rng, n, start, end):
    span = (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)
    d = rng.integers(0, span + 1, n)
    return _ts(np.datetime64(start, "us"), d * US_PER_DAY)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vec_column(v):
    return pa.array(list(v), type=pa.list_(pa.float32()))


def tables(sf, seed):
    """The gate schema at scale factor ``sf`` (0.1 has 600k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf); n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf); n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf); n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf)); n_emb = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    ev_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.datetime64("2024-01-01", "us"), ev_us),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _vec_column(_unit_vectors(rng, n_emb)),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def _documents(rng, n):
    """Random 10-100 word texts; 5% are another doc's text plus " dup"."""
    texts = [_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    n_dup = n // 20
    for i, j in zip(rng.choice(n, n_dup, replace=False), rng.integers(0, n, n_dup)):
        if i != j:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def permuted(tabs, seed):
    """Same rows, seed-dependent order: the gate outputs (and their
    order-independent checksums) do not change, the physical input does."""
    rng = np.random.default_rng([seed, 2])
    return {k: v.take(pa.array(rng.permutation(v.num_rows))) for k, v in tabs.items()}


def write_tables(tabs, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in sorted(tabs.items()):
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


# ------------------------------------------------------------ cypher-session

# (name, kind, query, params spec, (distinct issues, repeats)) for one
# unit of the stream. Params: "cust" = Zipf-drawn customer key, "nation" =
# nation key, "seg" = market segment, "price" = threshold. No trace of
# real session traffic backs these weights; the mix follows the
# benchmark's specification: anchored lookups dominate, every heavier
# template (2-hop expand, var-length, the two aggregates, the cyclic
# pattern) is issued twice with distinct parameters, hot anchors repeat,
# about 5 % of the operations are writes (WRITES), and the distinct
# (query, params, graph version) reads outnumber the 64-entry plan cache.
TEMPLATES = [
    ("lookup", "read",
     "MATCH (c:Customer) WHERE c.c_custkey = $cust "
     "RETURN c.c_name AS name, c.c_acctbal AS bal", ["cust"], (48, 8)),
    ("expand1", "read",
     "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey = $cust "
     "RETURN o.o_orderkey AS ok, o.o_totalprice AS price", ["cust"], (6, 2)),
    ("expand2", "read",
     "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p:Part) "
     "WHERE c.c_custkey = $cust "
     "RETURN o.o_orderkey AS ok, p.p_name AS part, l.l_quantity AS qty", ["cust"], (2, 1)),
    ("varlen", "read",
     "MATCH (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION*1..2]->(r:Region) "
     "WHERE c.c_custkey = $cust RETURN r.r_name AS region", ["cust"], (2, 1)),
    ("agg_nation", "read",
     "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) WHERE n.n_nationkey = $nation "
     "RETURN c.c_mktsegment AS seg, count(*) AS n, sum(c.c_acctbal) AS bal "
     "ORDER BY seg", ["nation"], (2, 1)),
    ("agg_segment", "read",
     "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_mktsegment = $seg "
     "AND o.o_totalprice > $price RETURN o.o_orderpriority AS prio, "
     "count(*) AS n ORDER BY prio", ["seg", "price"], (2, 0)),
    ("cyclic", "read",
     "MATCH (c:Customer)-[:IN_NATION]->(n:Nation)<-[:IN_NATION]-(s:Supplier), "
     "(c)-[:PLACED]->(o:Order) WHERE c.c_custkey = $cust "
     "RETURN s.s_name AS supplier, count(o) AS orders ORDER BY supplier", ["cust"], (2, 1)),
]
WRITE = ("construct", "write",
         "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p:Part) "
         "WHERE c.c_custkey = $cust "
         "CONSTRUCT NEW (c)-[:BOUGHT {qty: l.l_quantity}]->(p) RETURN GRAPH", ["cust"])
READ_WRITTEN = ("read_written", "read_graph",
                "MATCH (c:Customer)-[b:BOUGHT]->(p:Part) "
                "RETURN c.c_custkey AS ck, count(*) AS n ORDER BY ck", [])
WRITTEN_GRAPH = "w0"
# per unit: CONSTRUCT writes, each followed by one read of the graph it
# wrote, and repeats of the least recently used lookups at the end of the
# stream, past the plan cache's capacity
WRITES = 4
FAR_REPEATS = 2
PLAN_CACHE_ENTRIES = 64


def _zipf_distinct(rng, k, n_keys, s=1.1):
    """k distinct keys in Zipf draw order: hot keys come first; which keys
    are hot depends on the seed."""
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    perm = rng.permutation(n_keys)
    out = []
    while len(out) < k:
        for key in perm[rng.choice(n_keys, 4 * k, p=p)]:
            if int(key) not in out:
                out.append(int(key))
            if len(out) == k:
                break
    return out


def _params(rng, spec, k, n_customers):
    """k distinct parameter maps for a template."""
    if spec == ["cust"]:
        return [{"cust": c} for c in _zipf_distinct(rng, k, n_customers)]
    if spec == ["nation"]:
        return [{"nation": n} for n in rng.choice(25, k, replace=False).tolist()]
    combos = [{"seg": g, "price": pr} for g in SEGMENTS
              for pr in (100000.0, 250000.0, 400000.0)]
    return [combos[i] for i in rng.choice(len(combos), k, replace=False)]


def session_stream(seed, n_customers, scale=1):
    """Op stream of fixed composition (``scale`` times the counts in
    TEMPLATES, WRITES and FAR_REPEATS) and fixed shape: distinct issues in
    a shuffled order, repeats after the issue they repeat, CONSTRUCT
    writes that all replace the same graph name, each followed by one read
    of the graph it wrote, and at the end repeats of the lookups used
    least recently. The seed draws the parameters; the shape is the same
    for every seed, so that where the session's consolidation work falls
    does not vary from run to run.

    Each op carries its plan-cache ``key`` (template, graph, graph
    version, params), ``issue`` ("cold" on the key's first issue, "warm"
    on a repeat) and, for a read of a written graph, ``replay``: the index
    of the write that defined the graph it reads."""
    shape = np.random.default_rng([0, 3])
    rng = np.random.default_rng([seed, 3])
    issues, reads = [], []  # reads: index of a first issue, or -1 - index of a repeat
    for name, kind, query, spec, (distinct, repeats) in TEMPLATES:
        first = len(issues)
        issues += [(name, kind, query, p)
                   for p in _params(rng, spec, distinct * scale, n_customers)]
        reads += range(first, len(issues))
        for _ in range(repeats * scale):
            hot = min(int(shape.zipf(1.5)) - 1, distinct * scale - 1)
            reads.append(-1 - (first + hot))
    seq, placed = [], set()
    pending = [reads[i] for i in shape.permutation(len(reads))]
    while pending:  # a repeat waits until the issue it repeats has run
        later = []
        for r in pending:
            if r < 0 and -1 - r not in placed:
                later.append(r)
                continue
            idx = r if r >= 0 else -1 - r
            seq.append(issues[idx])
            placed.add(idx)
        pending = later
    n, w = len(seq), WRITES * scale
    writes = _params(rng, WRITE[3], w, n_customers)
    w_at = sorted(shape.choice(np.arange(n // 8, n - 1), w, replace=False).tolist())
    inserts = []
    for j, (at, params) in enumerate(zip(w_at, writes)):
        nxt_at = w_at[j + 1] if j + 1 < w else n
        inserts.append((at, 0, WRITE[:3] + (params,)))
        inserts.append((int(shape.integers(at, nxt_at)), 1, READ_WRITTEN[:3] + ({},)))
    for at, k, op in sorted(inserts, key=lambda x: (x[0], x[1]), reverse=True):
        seq.insert(at + 1, op)
    last_use = {}
    for i, op in enumerate(seq):
        if op[0] == "lookup":
            last_use[json.dumps(op[3], sort_keys=True)] = (i, op)
    seq += [op for _, op in sorted(last_use.values(), key=lambda x: x[0])[:FAR_REPEATS * scale]]

    ops, version, last_write, seen = [], {}, {}, set()
    for i, (name, kind, query, params) in enumerate(seq):
        graph = WRITTEN_GRAPH if kind != "read" else "tpch"
        if kind == "write":
            version[graph] = version.get(graph, 0) + 1
            last_write[graph] = i
        key = json.dumps([name, graph, version.get(graph, 0), params], sort_keys=True)
        ops.append({"i": i, "template": name, "kind": kind, "graph": graph,
                    "query": query, "params": dict(params), "key": key,
                    "issue": "warm" if key in seen else "cold",
                    "replay": last_write.get(graph, -1) if kind == "read_graph" else -1})
        seen.add(key)
    return ops


def reuse_distances(ops):
    """Op index -> distinct plan-cache keys used since the last use of the
    op's key, for every read that repeats a key. Where it is at least
    PLAN_CACHE_ENTRIES, an LRU cache of that size has evicted the key."""
    last, out = {}, {}
    for o in ops:
        if o["kind"] == "write":
            continue
        if o["key"] in last:
            out[o["i"]] = len({p["key"] for p in ops[last[o["key"]] + 1:o["i"]]
                               if p["kind"] != "write"})
        last[o["key"]] = o["i"]
    return out


def write_stream(ops, path):
    with open(path, "w") as f:
        for op in ops:
            f.write(json.dumps(op, sort_keys=True) + "\n")
