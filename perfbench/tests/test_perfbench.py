"""The benchmark's own tests, on sf0.001-sized inputs (``--profile test``).

    python3 -m unittest discover -s perfbench/tests      # from the checkout root

The JVM tests build the program once (cached under ``.bench_build``)."""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402

QUERIES = "op_map,agg_sum,fn_string"


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"run.py {args} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def assert_metrics(test, result, names):
    test.assertEqual(set(result["metrics"]), {n for n, _ in names})
    for name, unit in names:
        m = result["metrics"][name]
        test.assertEqual(set(m), {"value", "unit"})
        test.assertEqual(m["unit"], unit, name)
        test.assertIsInstance(m["value"], (int, float), name)


class Arithmetic(unittest.TestCase):
    def test_tail_is_highest_percentile_with_ten_beyond(self):
        v, p, n = M.tail(list(range(1, 41)))
        self.assertEqual((v, p, n), (30, 75.0, 40))
        self.assertEqual(M.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(M.tail(list(range(19)))[1], 100.0)

    def test_self_time_on_hand_built_span_tree(self):
        op = {"kind": "op", "name": "op_map", "tag": "op_map#0", "start": 0.0, "end": 100.0}
        jobs = [  # overlapping and partly outside the op
            {"kind": "job", "tag": "op_map#0", "start": 10.0, "end": 30.0, "task_ms": 50,
             "shuffle_write_bytes": 7, "spill_disk_bytes": 0, "scan_rdds": [1, 2]},
            {"kind": "job", "tag": "op_map#0", "start": 20.0, "end": 40.0, "task_ms": 30,
             "shuffle_write_bytes": 3, "spill_disk_bytes": 5, "scan_rdds": [2]},
            {"kind": "job", "tag": "op_map#0", "start": 90.0, "end": 120.0, "task_ms": 10,
             "shuffle_write_bytes": 0, "spill_disk_bytes": 0, "scan_rdds": []},
        ]
        self.assertEqual(M.self_time(op, jobs), 100.0 - 30.0 - 10.0)
        spans = [op, {"kind": "build", "tag": "op_map#0", "start": 0.0, "end": 15.0},
                 {"kind": "plan", "tag": "", "start": 1.0, "end": 4.0},
                 {"kind": "plan", "tag": "", "start": 95.0, "end": 105.0}] + jobs
        got = M.query_layers(spans, [["op_*", "core"]])
        self.assertEqual(got["core.jobs"], 3)
        self.assertAlmostEqual(got["core.driver_s"], 0.060)
        self.assertAlmostEqual(got["core.plan_s"], 0.003)
        self.assertAlmostEqual(got["core.build_s"], 0.015)
        self.assertAlmostEqual(got["core.task_s"], 0.090)
        self.assertEqual((got["core.shuffle_bytes"], got["core.spill_bytes"], got["core.scans"]), (10, 5, 2))

    def test_every_declared_query_has_a_layer(self):
        with open(os.path.join(BENCH, "layers.json")) as fh:
            rules = json.load(fh)["rules"]
        with open(os.path.join(BENCH, "reference.json")) as fh:
            names = json.load(fh)["registry"]
        self.assertEqual(len(names), 236)
        layers = {q: M.layer_of(q, rules) for q in names}
        self.assertEqual(layers["op_map"], "core")
        self.assertEqual(layers["op_join_asof"], "relational")
        self.assertEqual(layers["win_rank"], "relational")
        self.assertEqual(layers["agg_quantile_merge"], "agg")
        self.assertEqual(set(layers.values()), set(M.LAYERS))


class Generators(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b = gen.base_tables(0.001, 7), gen.base_tables(0.001, 7)
        self.assertTrue(all(a[t].equals(b[t]) for t in gen.TABLES))
        self.assertFalse(a["documents"].equals(gen.base_tables(0.001, 8)["documents"]))

    def test_replica_keeps_foreign_keys_and_perturbs_text(self):
        base = gen.base_tables(0.001, 42)
        rep = gen.replica(base, 2, 0)
        orders = set(rep["orders"]["o_orderkey"].to_pylist())
        self.assertTrue(set(rep["lineitem"]["l_orderkey"].to_pylist()) <= orders)
        custs = set(rep["customer"]["c_custkey"].to_pylist())
        self.assertTrue(set(rep["orders"]["o_custkey"].to_pylist()) <= custs)
        self.assertEqual(rep["documents"].num_rows, 2 * base["documents"].num_rows)
        self.assertEqual(len(set(rep["documents"]["doc_id"].to_pylist())), rep["documents"].num_rows)
        n = base["documents"].num_rows
        text = rep["documents"]["text"].to_pylist()
        self.assertGreater(sum(x != y for x, y in zip(text[:n], text[n:])), 0.9 * n)


class Jvm(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        cls.dir = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        cls.expected = os.path.join(cls.dir, "expected.json")
        cls.reference = os.path.join(cls.dir, "reference.json")
        shutil.copy(os.path.join(BENCH, "reference.json"), cls.reference)
        cls.common = ["--profile", "test", "--expected", cls.expected, "--reference", cls.reference]

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def run_bench(self, workload, *extra, seed=0, trace=0):
        return bench("--workload", workload, "--seed", str(seed), "--seconds", "3",
                     "--trace", str(trace), *self.common, *extra)

    def test_sink_runs_every_column_and_the_sort(self):
        r = bench("--workload", "selftest", "--seed", "0", "--seconds", "1")
        self.assertEqual(r["poisoned_count_rows"], 1000)  # count() pruned the column
        self.assertIn("poisoned column", r["poisoned_sink_error"])
        self.assertTrue(r["sorted_plan_has_sort"])
        self.assertTrue(r["same_rows_same_digest"])
        self.assertTrue(r["changed_value_changes_digest"])

    def test_registry_checks_results_and_prints_metrics(self):
        self.run_bench("registry", "--queries", QUERIES, "--record")
        ok = self.run_bench("registry", "--queries", QUERIES)
        self.assertTrue(ok["correct"])
        self.assertEqual((ok["attempted"], ok["failed"]), (3, 0))
        assert_metrics(self, ok, run.E2E)
        traced = self.run_bench("registry", "--queries", QUERIES, trace=1)
        assert_metrics(self, traced, run.per_layer_names("registry"))
        self.assertGreater(traced["metrics"]["core.jobs"]["value"], 0)
        # a corrupted expected checksum is a failed operation
        with open(self.expected) as fh:
            exp = json.load(fh)
        entry = exp["registry"]["sf0.001"]["agg_sum"]
        entry["checksum"] = str(int(entry["checksum"]) + 1)
        with open(self.expected, "w") as fh:
            json.dump(exp, fh)
        bad = self.run_bench("registry", "--queries", QUERIES)
        self.assertFalse(bad["correct"])
        self.assertEqual(bad["failed"], 1)

    def test_scale_up_and_stream_ingest_print_metrics(self):
        for w in ("scale_up", "stream_ingest"):
            self.run_bench(w, "--record")
            r = self.run_bench(w)
            self.assertTrue(r["correct"], w)
            assert_metrics(self, r, run.E2E)


if __name__ == "__main__":
    unittest.main()
