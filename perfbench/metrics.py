"""Metrics and output checks computed from the harness's record file.

The JVM harness writes one JSON object per line: ``setup``, ``env``,
``phase``, ``op``, ``plan_cache``, ``verify``, ``end`` and, in
traced runs, ``span``, ``job`` and ``tasks`` records. Everything a
metric or a check needs is derived here, so it can be tested without
Spark.
"""
import json
import math

# the gates of gates-cold whose layers are pipeline operators
PIPELINE_GATES = ["p19_decontam"]
MB = 1048576.0


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pct(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def timed_ops(recs):
    return [r for r in recs if r["type"] == "op" and r["issue"] in ("cold", "warm")]


# ------------------------------------------------------------- end-to-end

def samples(recs):
    """Sample counts behind the end-to-end percentiles."""
    ops = [r for r in timed_ops(recs) if "error" not in r]
    return {"cold": sum(r["issue"] == "cold" for r in ops),
            "warm": sum(r["issue"] == "warm" for r in ops), "all": len(ops)}


def query_tail(recs):
    """The highest latency percentile with at least ten samples beyond it,
    over all operations; None with fewer than 20 operations."""
    lat = [r["latency_s"] for r in timed_ops(recs) if "error" not in r]
    if len(lat) < 20:
        return None
    q = 100.0 * (len(lat) - 10) / len(lat)
    return {"pct": q, "ms": pct(lat, q) * 1e3, "samples": len(lat)}


def end_to_end(recs):
    ops = [r for r in timed_ops(recs) if "error" not in r]
    cold = [r["latency_s"] for r in ops if r["issue"] == "cold"]
    warm = [r["latency_s"] for r in ops if r["issue"] == "warm"]
    lat = [r["latency_s"] for r in ops]
    return {
        "setup_s": pct([r["setup_s"] for r in recs if r["type"] == "setup"], 50),
        "cold_total_s": sum(cold),
        "warm_total_s": sum(warm),
        "query_p50_ms": pct(lat, 50) * 1e3,
        "queries_per_s": len(lat) / sum(lat) if lat else 0.0,
    }


def plan_cache(recs, distances, capacity):
    """Plan-cache use of cypher-session: the hit ratio over all reads, and
    the hits among repeats whose reuse distance (gen.reuse_distances) is
    past the cache's capacity, which an LRU cache of that size must miss."""
    hits = {r["id"]: r["hit"] for r in recs if r["type"] == "plan_cache"}
    far = [i for i, d in distances.items() if d >= capacity and i in hits]
    return {"hit_ratio": sum(hits.values()) / len(hits) if hits else 0.0,
            "reads": len(hits), "hits": sum(hits.values()),
            "repeats": sum(1 for i in distances if i in hits),
            "repeat_hits": sum(hits[i] for i in distances if i in hits),
            "repeats_past_capacity": len(far),
            "repeats_past_capacity_hits": sum(hits[i] for i in far)}


# ----------------------------------------------------------------- checks

# Each check returns a list of (operation id or None, message) failures.

def _errors(recs):
    return [(r["id"], f"op {r['id']} ({r['name']}, {r['issue']}): {r['error']}")
            for r in timed_ops(recs) if "error" in r]


def check_gates(recs, expected):
    """Every cold and warm issue must return the recorded row count and
    checksum of its gate."""
    bad = _errors(recs)
    for r in timed_ops(recs):
        exp = expected.get(r["name"])
        if "error" in r:
            continue
        if exp is None:
            bad.append((r["id"], f"{r['name']}: no expected value"))
        elif (r["rows"], r["checksum"]) != (exp["rows"], exp["checksum"]):
            bad.append((r["id"], f"{r['name']} ({r['issue']}): got {r['rows']} rows "
                        f"{r['checksum']}, expected {exp['rows']} {exp['checksum']}"))
    return bad


def check_session(recs, ops):
    """The answers marked ``verify`` (every read of a written graph and a
    sample of warm reads), recomputed in a fresh session, must match;
    every repeat of an issue key must return the first answer again."""
    bad = _errors(recs)
    by_id = {r["id"]: r for r in timed_ops(recs)}
    verified = 0
    for v in (r for r in recs if r["type"] == "verify"):
        got = by_id.get(v["id"])
        verified += 1
        if got is None or (got.get("rows"), got.get("checksum")) != (v["rows"], v["checksum"]):
            bad.append((v["id"], f"op {v['id']}: stream answer "
                        f"{got and got.get('checksum')} != fresh-session answer "
                        f"{v['checksum']}"))
    want = sum(1 for o in ops if o["verify"])
    if verified != want:
        bad.append((None, f"{verified} of {want} sampled answers were recomputed"))
    first = {}
    for o in ops:
        r = by_id.get(o["i"])
        if o["kind"] == "write" or r is None or "error" in r:
            continue
        prev = first.setdefault(o["key"], (r["rows"], r["checksum"]))
        if prev != (r["rows"], r["checksum"]):
            bad.append((o["i"], f"op {o['i']}: repeat of {o['key']} changed its answer"))
    return bad


# -------------------------------------------------------------- per-layer

def union_us(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, jobs):
    """Span id -> self time in µs: its duration minus the union of its
    children (child spans and the Spark jobs run under it), clipped to
    the span."""
    kids = {}
    for c in spans:
        kids.setdefault(c["parent"], []).append((c["start_us"], c["end_us"]))
    for j in jobs:
        kids.setdefault(j["parent"], []).append((j["start_us"], j["end_us"]))
    out = {}
    for s in spans:
        clipped = [(max(a, s["start_us"]), min(b, s["end_us"]))
                   for a, b in kids.get(s["id"], [])]
        clipped = [(a, b) for a, b in clipped if b > a]
        out[s["id"]] = (s["end_us"] - s["start_us"]) - union_us(clipped)
    return out


def _skew(task_ms):
    if not task_ms:
        return 0.0
    return max(task_ms) / max(pct(task_ms, 50), 1.0)


def per_layer(recs, codegen_fallbacks):
    timed = {r["id"] for r in timed_ops(recs)}
    spans = [r for r in recs if r["type"] == "span" and r["op"] in timed]
    jobs = [r for r in recs if r["type"] == "job" and r["op"] in timed]
    tasks = [r for r in recs if r["type"] == "tasks" and r["op"] in timed]
    selft = self_times(spans, jobs)
    ops = timed_ops(recs)

    def spans_named(n):
        return [s for s in spans if s["name"] == n]

    parse = [s["end_us"] - s["start_us"] for s in spans_named("cypher.parse")]
    eager = [j for j in jobs if j["layer"] == "plans.build"]
    hits = [r["hit"] for r in recs if r["type"] == "plan_cache"]
    setups = [r for r in recs if r["type"] == "setup"]
    all_task_ms = [t for r in tasks for t in r["task_ms"]]
    m = {
        "cypher.parse_ms": (sum(parse) / len(parse) / 1e3) if parse else 0.0,
        "plans.build_s": sum(selft[s["id"]] for s in spans_named("plans.build")) / 1e6,
        "plans.eager_jobs": len(eager),
        "plans.eager_job_s": sum(union_us([(j["start_us"], j["end_us"])
                                           for j in eager if j["op"] == o])
                                 for o in {j["op"] for j in eager}) / 1e6,
        "api.plan_cache_hit_ratio": sum(hits) / len(hits) if hits else 0.0,
        "api.cached_tables": max([r.get("cached_tables", 0) for r in ops] or [0]),
        "api.cached_mb": max([r.get("cached_mb", 0.0) for r in ops] or [0.0]),
        "graph.load_s": pct([r["load_s"] for r in setups], 50),
        "graph.construct_s": sum(s["end_us"] - s["start_us"]
                                 for s in spans_named("graph.construct")) / 1e6,
        "spark.catalyst.analysis_ms": float(sum(r.get("analysis_ms", 0) for r in ops)),
        "spark.catalyst.optimization_ms": float(sum(r.get("optimization_ms", 0) for r in ops)),
        "spark.catalyst.planning_ms": float(sum(r.get("planning_ms", 0) for r in ops)),
        "spark.exec.s": union_us([(j["start_us"], j["end_us"]) for j in jobs]) / 1e6,
        "spark.exec.jobs": len(jobs),
        "spark.exec.tasks": sum(r["tasks"] for r in tasks),
        "spark.exec.shuffle_read_mb": sum(r["shuffle_read_bytes"] for r in tasks) / MB,
        "spark.exec.shuffle_write_mb": sum(r["shuffle_write_bytes"] for r in tasks) / MB,
        "spark.exec.spill_mb": sum(r["spill_bytes"] for r in tasks) / MB,
        "spark.exec.task_skew": _skew(all_task_ms),
        "functions.codegen_fallbacks": codegen_fallbacks,
    }
    cold = {r["name"]: r for r in ops if r["issue"] == "cold" and "error" not in r}
    for g in PIPELINE_GATES:
        r = cold.get(g)
        t = [x for x in tasks if r and x["op"] == r["id"]]
        rows_in = sum(x.get("input_records", 0) for x in t)
        rows_out = r["rows"] if r else 0
        m[f"pipeline.{g}.build_s"] = r["build_s"] if r else 0.0
        m[f"pipeline.{g}.exec_s"] = r["exec_s"] if r else 0.0
        m[f"pipeline.{g}.rows_out_per_in"] = rows_out / rows_in if rows_in else 0.0
        m[f"pipeline.{g}.shuffle_records_per_row_out"] = \
            sum(x["shuffle_write_records"] for x in t) / max(rows_out, 1)
        m[f"pipeline.{g}.spill_mb"] = sum(x["spill_bytes"] for x in t) / MB
        m[f"pipeline.{g}.task_skew"] = _skew([v for x in t for v in x["task_ms"]])
    return m
