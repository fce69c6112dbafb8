"""Tests for the benchmark itself (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import tempfile
import unittest

import gen
import run

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def digest(d):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in gen.WORKLOADS:
                a, b, c = (os.path.join(tmp, f"{w}-{i}") for i in range(3))
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                self.assertEqual(digest(a), digest(b), w)
                self.assertNotEqual(digest(a), digest(c), w)

    def test_query_mix_is_stratified(self):
        mix = gen.query_mix(gen.rng_for(3, "query_service", 4))
        n = len(gen.ROUND_TEMPLATE)
        for r in range(gen.QUERY_ROUNDS):
            rnd = mix[r * n:(r + 1) * n]
            self.assertEqual(sum(q["syntax"] == "LUCENE" for q in rnd),
                             gen.LUCENE_PER_ROUND)
            # a repeat is the same query as an earlier slot's
            earlier = {(q["syntax"], q["query"]) for q in mix[:r * n]}
            repeats = sum((q["syntax"], q["query"]) in earlier for q in rnd)
            self.assertGreaterEqual(repeats, gen.REPEATS_PER_ROUND if r else 0)


class CheckTest(unittest.TestCase):
    """The DuckDB query check accepts the true answer and rejects a page
    that skips a row."""

    def test_query_check(self):
        with tempfile.TemporaryDirectory() as tmp:
            inputs = os.path.join(tmp, "in")
            m = gen.generate("query_service", 5, inputs)
            q = next(q for q in m["queries"]
                     if q["kind"] == "range" and q["next_pages"] >= 1)
            import duckdb
            src = f"read_parquet('{os.path.join(inputs, q['table'] + '.parquet')}')"
            key = " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in q["order"])
            keys = [r[0] for r in duckdb.connect().execute(
                f"SELECT {key} FROM {src} WHERE {q['sql']} ORDER BY "
                f"{', '.join(q['order'])} LIMIT {2 * m['page_size']}").fetchall()]
            self.assertEqual(len(keys), 2 * m["page_size"])
            good = {"slot": q["slot"], "ok": True, "keys": keys,
                    "pages": [m["page_size"]] * 2, "exhausted": False}
            skipped = dict(good, keys=keys[:10] + keys[11:] + ["0"])
            run.check_queries(m, inputs, [good, skipped])
            self.assertTrue(good["ok"])
            self.assertFalse(skipped["ok"])


class ResultTest(unittest.TestCase):
    """The printed line parses and carries every metric BENCHMARK.json
    names, with its unit."""

    def setUp(self):
        with open(BENCHMARK_JSON) as f:
            self.bench = json.load(f)

    def test_benchmark_json_matches_runner(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(gen.WORKLOADS))

    def fake(self, workload):
        if workload == "query_service":
            ops = [{"ok": True, "first_ms": 100.0 + i, "total_ms": 300.0, "slot": i}
                   for i in range(20)]
        elif workload == "curation_batch":
            ops = [{"ok": True, "ms": 4000.0 + i, "docs": 2000, "pairs": [[1, 2]],
                    "dup_recall": 1.0, "pq_recall": 0.9} for i in range(3)]
        else:
            ops = [{"ok": True, "ms": 2500.0 + i, "rows": 5100, "long_rows": 19900}
                   for i in range(5)]
        res = {"window_ms": 10000.0, "heap_live_mb": 300.0, "setup_end_ms": 0,
               "layers": {"spark.jobs": 12.0, "jvm.gc_ms": 40.0}}
        return ops, res

    def test_result_line(self):
        for w in gen.WORKLOADS:
            ops, res = self.fake(w)
            for trace in (0, 1):
                line = run.result_line(w, res, ops, trace, setup_s=12.5)
                out = json.loads(line)
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                names = self.bench["per_layer" if trace else "end_to_end"]
                for m in names:
                    self.assertIn(m["name"], out["metrics"], (w, trace))
                    self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
                    self.assertIsInstance(out["metrics"][m["name"]]["value"], float)
                self.assertEqual(len(out["metrics"]), len(names))
                self.assertTrue(out["correct"])
                self.assertEqual(out["attempted"], len(ops))


if __name__ == "__main__":
    unittest.main()
