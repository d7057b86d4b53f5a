"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The checksum test builds the harness (as a benchmark run does) and starts
a small local Spark session.
"""
import copy
import filecmp
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):
    def _write_all(self, d, seed):
        gen.write_tables(gen.tables(0.001, seed), os.path.join(d, "t"))
        gen.write_tables(gen.permuted(gen.tables(0.001, 1), seed), os.path.join(d, "p"))
        gen.write_stream(gen.session_stream(seed, 150), os.path.join(d, "stream.jsonl"))

    def _files(self, d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self._write_all(a, 11)
            self._write_all(b, 11)
            files = self._files(a)
            self.assertEqual(files, self._files(b))
            self.assertGreater(len(files), 10)
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self._write_all(a, 11)
            self._write_all(b, 12)
            _, mismatch, _ = filecmp.cmpfiles(a, b, self._files(a), shallow=False)
            self.assertIn("stream.jsonl", mismatch)
            self.assertIn(os.path.join("t", "lineitem.parquet"), mismatch)
            self.assertIn(os.path.join("p", "lineitem.parquet"), mismatch)

    def test_permutation_keeps_rows(self):
        t = gen.tables(0.001, 3)
        p = gen.permuted(t, 4)
        for name in t:
            self.assertEqual(sorted(map(str, t[name].to_pylist())),
                             sorted(map(str, p[name].to_pylist())), name)

    def test_stream_reads_written_graphs_only_after_a_write(self):
        written = set()
        for o in gen.session_stream(4, 1000, scale=2):
            if o["kind"] == "write":
                written.add(o["graph"])
            elif o["kind"] == "read_graph":
                self.assertIn(o["graph"], written)
        self.assertTrue(written)

    def test_stream_composition_is_fixed(self):
        def counts(seed):
            c = {}
            for o in gen.session_stream(seed, 1000):
                c[o["template"]] = c.get(o["template"], 0) + 1
            return c
        self.assertEqual(counts(1), counts(2))
        self.assertEqual(counts(1)["lookup"], sum(gen.TEMPLATES[0][4]) + gen.FAR_REPEATS)
        self.assertEqual(counts(1)["construct"], gen.WRITES)

    def test_stream_mix(self):
        for scale in (1, 2):
            ops = gen.session_stream(3, 15000, scale)
            writes = sum(o["kind"] == "write" for o in ops) / len(ops)
            self.assertTrue(0.04 <= writes <= 0.06, writes)
            keys = {o["key"] for o in ops if o["kind"] != "write"}
            self.assertGreater(len(keys), gen.PLAN_CACHE_ENTRIES * scale)
            for name, _, _, _, (distinct, _) in gen.TEMPLATES:
                self.assertGreaterEqual(distinct, 2, name)

    def test_far_repeats_are_past_the_plan_cache(self):
        for seed in (1, 2, 3):
            ops = gen.session_stream(seed, 15000)
            d = gen.reuse_distances(ops)
            far = [i for i, n in d.items() if n >= gen.PLAN_CACHE_ENTRIES]
            self.assertEqual(far, [len(ops) - 2, len(ops) - 1])
            self.assertTrue(all(ops[i]["issue"] == "warm" for i in far))

    def test_reuse_distance(self):
        ops = [{"i": i, "kind": k, "key": key} for i, (k, key) in
               enumerate([("read", "a"), ("read", "b"), ("write", "w"), ("read", "b"),
                          ("read", "c"), ("read", "a")])]
        self.assertEqual(gen.reuse_distances(ops), {3: 0, 5: 2})


class ChecksumOrderIndependence(unittest.TestCase):
    def test_checksum_ignores_order_and_partitioning_but_not_content(self):
        classpath, _ = run.build()
        with tempfile.TemporaryDirectory() as tmp:
            p = subprocess.run(
                ["java", "-Xmx1g", f"-Djava.io.tmpdir={tmp}"]
                + [a for o in ("java.base/java.lang", "java.base/java.nio",
                               "java.base/sun.nio.ch", "java.base/java.util",
                               "java.base/java.lang.invoke")
                   for a in ("--add-opens", f"{o}=ALL-UNNAMED")]
                + ["-cp", classpath, "perfbench.SelfTest"],
                cwd=tmp, capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        self.assertEqual(p.stdout.strip().splitlines()[-1], "ok")


class SelfTime(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_us([]), 0)
        self.assertEqual(metrics.union_us([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_us([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 1, "parent": -1, "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "start_us": 10, "end_us": 40},
            {"id": 3, "parent": 1, "start_us": 50, "end_us": 60},
            {"id": 4, "parent": 2, "start_us": 15, "end_us": 20},
        ]
        jobs = [
            {"parent": 2, "start_us": 18, "end_us": 30},   # overlaps span 4
            {"parent": 3, "start_us": 55, "end_us": 70},   # runs past its parent
            {"parent": 1, "start_us": 90, "end_us": 95},
        ]
        st = metrics.self_times(spans, jobs)
        self.assertEqual(st[1], 100 - (30 + 10 + 5))
        self.assertEqual(st[2], 30 - 15)       # union of 15-20 and 18-30
        self.assertEqual(st[3], 10 - 5)        # job clipped at 60
        self.assertEqual(st[4], 5)

    def test_per_layer_build_excludes_eager_jobs(self):
        recs = [
            {"type": "op", "id": 0, "name": "g", "issue": "cold", "latency_s": 1.0},
            {"type": "span", "id": 1, "name": "op", "op": 0, "parent": -1,
             "start_us": 0, "end_us": 1_000_000},
            {"type": "span", "id": 2, "name": "plans.build", "op": 0, "parent": 1,
             "start_us": 0, "end_us": 600_000},
            {"type": "job", "op": 0, "layer": "plans.build", "parent": 2,
             "start_us": 100_000, "end_us": 500_000},
            {"type": "tasks", "op": 0, "layer": "plans.build", "parent": 2, "tasks": 2,
             "shuffle_read_bytes": 0, "shuffle_read_records": 0,
             "shuffle_write_bytes": 0, "shuffle_write_records": 0, "spill_bytes": 0,
             "task_ms": [100, 300]},
        ]
        m = metrics.per_layer(recs, 0)
        self.assertAlmostEqual(m["plans.build_s"], 0.2)
        self.assertAlmostEqual(m["plans.eager_job_s"], 0.4)
        self.assertEqual(m["plans.eager_jobs"], 1)
        self.assertAlmostEqual(m["spark.exec.task_skew"], 1.5)


def _gate_recs():
    return [{"type": "op", "id": i, "name": n, "issue": iss, "rows": 3,
             "checksum": "00000000000000aa", "latency_s": 0.5}
            for i, (n, iss) in enumerate([("g1", "cold"), ("g1", "warm")])]


class TamperedResultsFailChecks(unittest.TestCase):
    def test_gates(self):
        expected = {"g1": {"rows": 3, "checksum": "00000000000000aa"}}
        self.assertEqual(metrics.check_gates(_gate_recs(), expected), [])
        recs = _gate_recs()
        recs[1]["checksum"] = "00000000000000ab"
        self.assertEqual([i for i, _ in metrics.check_gates(recs, expected)], [1])
        recs = _gate_recs()
        recs[0]["rows"] = 2
        self.assertEqual(len(metrics.check_gates(recs, expected)), 1)
        recs = _gate_recs()
        recs[0]["error"] = "boom"
        self.assertEqual([i for i, _ in metrics.check_gates(recs, expected)], [0])

    def test_session(self):
        ops = [{"i": 0, "kind": "read", "key": "k", "verify": False},
               {"i": 1, "kind": "read", "key": "k", "verify": True}]
        recs = _gate_recs() + [{"type": "verify", "id": 1, "rows": 3,
                                "checksum": "00000000000000aa"}]
        self.assertEqual(metrics.check_session(recs, ops), [])
        stale = copy.deepcopy(recs)
        stale[2]["checksum"] = "00000000000000ff"
        self.assertTrue(metrics.check_session(stale, ops))
        changed = copy.deepcopy(recs)
        changed[1]["checksum"] = changed[2]["checksum"] = "00000000000000ff"
        self.assertTrue(metrics.check_session(changed, ops))


def _answer(key):
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def _session_recs(ops):
    """Records of a session in which every answer is right: one answer
    per plan-cache key, and a fresh-session recomputation of every op
    marked for verification."""
    recs = []
    for o in ops:
        r = {"type": "op", "id": o["i"], "name": o["template"], "issue": o["issue"],
             "latency_s": 0.1}
        if o["kind"] != "write":
            r.update(rows=1, checksum=_answer(o["key"]))
        recs.append(r)
    recs += [{"type": "verify", "id": o["i"], "rows": 1, "checksum": _answer(o["key"])}
             for o in ops if o["verify"]]
    return recs


class StaleReadAfterWrite(unittest.TestCase):
    def test_every_read_of_a_written_graph_is_verified(self):
        ops = run.session_ops(5, 1, 15000)
        reads = [o for o in ops if o["kind"] == "read_graph"]
        self.assertEqual(len(reads), gen.WRITES)
        self.assertTrue(all(o["verify"] for o in reads))
        self.assertEqual(sum(o["verify"] for o in ops), gen.WRITES + run.VERIFY_WARM)
        self.assertEqual([o["replay"] for o in reads],
                         [o["i"] for o in ops if o["kind"] == "write"])

    def test_stale_answer_after_a_write_fails(self):
        ops = run.session_ops(5, 1, 15000)
        self.assertEqual(metrics.check_session(_session_recs(ops), ops), [])
        reads = [o for o in ops if o["kind"] == "read_graph"]
        for prev, cur in zip(reads, reads[1:]):
            recs = _session_recs(ops)
            # the read after a write returns the frame of the write before
            recs[cur["i"]]["checksum"] = _answer(prev["key"])
            self.assertEqual([i for i, _ in metrics.check_session(recs, ops)], [cur["i"]])


class PlanCacheStats(unittest.TestCase):
    def test_hits_past_capacity(self):
        recs = [{"type": "plan_cache", "id": i, "hit": h}
                for i, h in enumerate([False, False, True, False])]
        pc = metrics.plan_cache(recs, {2: 1, 3: 70}, 64)
        self.assertEqual(pc["hit_ratio"], 0.25)
        self.assertEqual((pc["repeats"], pc["repeat_hits"]), (2, 1))
        self.assertEqual((pc["repeats_past_capacity"], pc["repeats_past_capacity_hits"]),
                         (1, 0))


if __name__ == "__main__":
    unittest.main()
