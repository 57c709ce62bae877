"""Tests of the benchmark's own code (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = {
    "er_two_catalog": dict(n_a=60, n_b=50, vocab=500),
    "state_lifecycle": dict(n_base=80, batches=2, batch_docs=20, probe_docs=10,
                            delete_docs=15, vocab=300),
}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, workload, seed, tag):
        out = os.path.join(self.tmp, tag)
        gen.GENERATORS[workload](out, seed, SMALL[workload])
        return run.tree_hash(out)

    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(w):
                self.assertEqual(self.gen(w, 7, f"{w}-1"), self.gen(w, 7, f"{w}-2"))

    def test_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(w):
                self.assertNotEqual(self.gen(w, 7, f"{w}-1"), self.gen(w, 8, f"{w}-2"))

    def er_lines(self, name):
        with open(os.path.join(self.tmp, "er", name)) as f:
            return f.read().splitlines()

    def test_er_files_parse_with_the_ingest_patterns(self):
        z = SMALL["er_two_catalog"]
        sizes = gen.gen_er(os.path.join(self.tmp, "er"), 3, z)
        for side, n in (("a", z["n_a"]), ("b", z["n_b"])):
            rows = [re.match(checks.PRODUCT_PATTERN, line)
                    for line in self.er_lines(f"{side}.csv")]
            self.assertTrue(all(rows))
            self.assertEqual([m.group(1) for m in rows[1:]],
                             [f'"{side}{i}"' for i in range(n)])
            self.assertTrue(all(m.group(5) == '"0"' for m in rows[1:]))
        gold = [re.match(checks.GOLD_PATTERN, line).groups()
                for line in self.er_lines("gold.csv")[1:]]
        self.assertEqual(len(gold), sizes["gold_pairs"])
        self.assertEqual(len({b for _, b in gold}), len(gold))
        self.assertEqual(len(self.er_lines("stopwords.txt")), sizes["stopwords"])

    def test_duckdb_er_sweep_holds_its_invariants(self):
        import duckdb
        sizes = gen.gen_er(os.path.join(self.tmp, "er"), 5, SMALL["er_two_catalog"])
        d = os.path.join(self.tmp, "er")
        con = duckdb.connect()
        for t in ("a", "b", "gold"):
            con.register(f"{t}_lines", checks._lines(os.path.join(d, f"{t}.csv")))
        rows = con.execute(checks.ER_SQL.format(
            d=d, P=checks.PRODUCT_PATTERN, G=checks.GOLD_PATTERN)).fetchall()
        sweep = [dict(zip(("bin", "tp", "fp", "fn"), r[:4])) for r in rows]
        self.assertEqual(checks.sweep_invariants(sweep, sizes["gold_pairs"]), [])
        self.assertEqual(sweep[0]["tp"], sizes["gold_pairs"])
        self.assertGreater(rows[0][4], 0)


class MetricNamesTest(unittest.TestCase):
    def test_names_and_units(self):
        b = bench_json()
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
        for w in b["workloads"]:
            self.assertRegex(w["name"], NAME)

    def test_benchmark_json_matches_runner(self):
        b = bench_json()
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))


def fake_result(traced):
    layers = {"spark": {"jobs": 3.0, "bytes_written": 10.0}, "by_layer": {},
              "self_s": {"text": 1.0}, "plans": {"sorts": 2.0}, "driver_gap_s": 0.5}
    return {
        "items": 100, "setup_jvm_s": [3.0, 1.0, 1.1],
        "check": {"docs_a": 10, "docs_b": 10, "gold_found": 5},
        "passes": [{"traced": t, "wall_s": 2.0 + t, "ops": [["op", 1.0, True]] * 3,
                    "counts": {"candidate_pairs": 20.0},
                    "layers": layers if t else None}
                   for t in ([False, True] * 2 if traced else [False] * 3)],
    }


class OutputTest(unittest.TestCase):
    def test_every_metric_has_a_value(self):
        m, _ = run.metrics_e2e(fake_result(False), [0.5, 0.5, 0.5])
        self.assertEqual(set(m), set(run.END_TO_END))
        self.assertTrue(all(v > 0 for v in m.values()))
        m, _ = run.metrics_layers(fake_result(True))
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.5)
        self.assertAlmostEqual(m["similarity.blocking_ratio"], 0.2)
        self.assertAlmostEqual(m["similarity.useful_ratio"], 0.25)

    def test_sweep_invariants(self):
        good = [{"bin": b, "tp": 10 - b // 20, "fp": 100 - b, "fn": b // 20,
                 "precision": None, "recall": None} for b in range(101)]
        self.assertEqual(checks.sweep_invariants(good, 10), [])
        bad = [dict(r) for r in good]
        bad[50]["tp"] += 1
        self.assertTrue(checks.sweep_invariants(bad, 10))

    def test_sweep_diff_allows_edge_pairs_at_their_bin_only(self):
        want = [(b, 100 - b, 200 - 2 * b) for b in range(101)]
        edge = {100: 2, 37: 1}
        self.assertEqual(checks.sweep_diff(want, want, edge), [])
        # two cos = 1.0 pairs computed just below 1: bin 100 loses them
        moved = list(want)
        moved[100] = (100, 0, -2)
        self.assertEqual(checks.sweep_diff(moved, want, edge), [])
        # one edge pair more than bin 100 has
        moved[100] = (100, 0, -3)
        self.assertTrue(checks.sweep_diff(moved, want, edge))
        # a non-edge pair moved down from bin 60 to 59
        moved = list(want)
        moved[60] = (60, 40, 79)
        self.assertTrue(checks.sweep_diff(moved, want, edge))


if __name__ == "__main__":
    unittest.main()
