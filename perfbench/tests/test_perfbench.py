"""Tests of the benchmark's own parts (no Spark needed).

  python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen      # noqa: E402
import metrics  # noqa: E402
import run      # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_byte_identical_other_seed_differs(self):
        for wl in run.WORKLOADS:
            a, b, c = (os.path.join(self.tmp, f"{wl}{i}") for i in range(3))
            gen.generate(wl, 7, a)
            gen.generate(wl, 7, b)
            gen.generate(wl, 8, c)
            self.assertTrue(same_tree(a, b), wl)
            self.assertFalse(filecmp.cmp(os.path.join(a, "documents.parquet"),
                                         os.path.join(c, "documents.parquet"), shallow=False))

    def test_planted_properties(self):
        p = gen.generate("corpus_curation", 3, os.path.join(self.tmp, "c"))
        n = p["sizes"]["documents"]
        self.assertEqual(p["planted_docs"]["exact"], int(n * 0.08))
        self.assertEqual(p["planted_docs"]["near"], int(n * 0.08))
        self.assertEqual(p["planted_docs"]["boilerplate"], int(n * 0.10))
        self.assertGreater(p["hot_user_share"], 0.1)   # Zipf-skewed user_id
        q = gen.generate("ingest_serve", 3, os.path.join(self.tmp, "i"))
        self.assertGreaterEqual(q["jaccard_margin"], 0.15)
        self.assertGreater(q["stream_dropped"], 0)
        with open(os.path.join(self.tmp, "i", "truth.json")) as f:
            status = json.load(f)["lookup_status"]
        self.assertEqual(sorted(status.values()),     # the planted verdict mix
                         ["dup_corpus"] * 16 + ["near_corpus"] * 4 + ["new"] * 20)

    def test_repeat_across_batches_caught_only_by_grown_index(self):
        base = ["a b c d e f g h i j"]
        fresh = "k l m n o p q r s t u v"
        rewrite = "k l m n o p q r s t u w"
        admitted, dropped, _, _ = gen.near_verdicts(base, [[(1, fresh)], [(2, rewrite)]])
        self.assertEqual((admitted, dropped), ([1], [2]))
        admitted, dropped, _, _ = gen.near_verdicts(base, [[(2, rewrite)]])
        self.assertEqual((admitted, dropped), ([2], []))


class PercentileTest(unittest.TestCase):
    def test_ten_beyond_rule(self):
        self.assertIsNone(metrics.percentile(range(99), 0.9))
        self.assertEqual(metrics.percentile(range(1, 101), 0.9), 90)  # 10 samples above
        self.assertIsNone(metrics.percentile(range(1, 20), 0.5))       # 9 above the median
        self.assertEqual(metrics.percentile(range(1, 22), 0.5), 11)
        self.assertEqual(metrics.percentile([5.0, 1.0, 3.0], 0.5, beyond=0), 3.0)
        self.assertIsNone(metrics.percentile([], 0.5, beyond=0))


class SelfTimeTest(unittest.TestCase):
    def test_self_time(self):
        span = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 30.0}, {"start": 20.0, "end": 40.0},
                {"start": 90.0, "end": 120.0}, {"start": -5.0, "end": 5.0}]
        # covered: [0,5] + [10,40] + [90,100] = 45
        self.assertAlmostEqual(metrics.self_time(span, kids), 55.0)
        self.assertAlmostEqual(metrics.self_time(span, []), 100.0)
        self.assertAlmostEqual(metrics.union_length([(0, 1), (1, 2), (5, 4)]), 2.0)

    def test_per_layer_on_synthetic_spans(self):
        res = synthetic_result(traced=True)
        m = metrics.per_layer(res)
        self.assertAlmostEqual(m["driver.self_s"], 0.6)     # 1.0 s op, 0.4 s in jobs
        self.assertEqual(m["scheduler.jobs"], 2)
        self.assertEqual(m["operators.eager_jobs"], 1)       # the job under the build span
        self.assertEqual(m["scheduler.stages"], 2)
        self.assertAlmostEqual(m["executor.run_s"], 0.3)
        self.assertAlmostEqual(m["catalyst.planning_s"], 0.05)


def synthetic_result(traced):
    op = {"id": "o1", "parent": "", "kind": "op", "name": "q41_x", "start": 1000.0,
          "end": 2000.0, "attrs": {}}
    build = {"id": "b2", "parent": "o1", "kind": "build", "name": "q41_x", "start": 1000.0,
             "end": 1300.0, "attrs": {}}
    action = {"id": "a3", "parent": "o1", "kind": "action", "name": "q41_x", "start": 1300.0,
              "end": 2000.0, "attrs": {}}
    jobs = [{"id": "j1", "parent": "b2", "kind": "job", "name": "", "start": 1100.0,
             "end": 1300.0, "attrs": {"stages": 1, "stages_skipped": 0}},
            {"id": "j2", "parent": "a3", "kind": "job", "name": "", "start": 1500.0,
             "end": 1700.0, "attrs": {"stages": 2, "stages_skipped": 1}}]
    stages = [{"id": "s1.0", "parent": "j1", "kind": "stage", "name": "", "start": 1100.0,
               "end": 1300.0, "attrs": {"tasks": 4, "run_ms": 100.0}},
              {"id": "s2.0", "parent": "j2", "kind": "stage", "name": "", "start": 1500.0,
               "end": 1700.0, "attrs": {"tasks": 4, "run_ms": 200.0}}]
    phase = {"id": "", "parent": "", "kind": "phase", "name": "planning", "start": 1400.0,
             "end": 1450.0, "attrs": {}}
    o = {"name": "q41_x", "pass": 0, "traced": traced, "wall_s": 1.0, "build_s": 0.3,
         "action_s": 0.7, "cpu_s": 1.0, "rows": 5, "hash": "11", "storage_mb": 2.0,
         "cached_mb": 1.0, "pins_pending": 2, "release_s": 0.001, "error": ""}
    untraced = dict(o, traced=False)
    return {"workload": "corpus_curation", "session_s": 5.0, "warmup_s": 10.0,
            "fit_s": [3.0], "heap_peak_mb": 100.0, "streaming": [],
            "lake": {"input_bytes": 10.0, "bytes_added": 20.0, "files_added": 3, "versions": 2},
            "passes": [{"pass": 0, "traced": False, "wall_s": 1.0, "cpu_s": 2.0, "gc_s": 0.1},
                       {"pass": 1, "traced": True, "wall_s": 1.1, "cpu_s": 2.0, "gc_s": 0.1}],
            "ops": [untraced, o],
            "spans": [op, build, action, phase] + jobs + stages}


class MetricNamesTest(unittest.TestCase):
    def test_printed_names_match_benchmark_json(self):
        spec = run.benchmark_spec()
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         [w for w in run.WORKLOADS if w in {x["name"] for x in spec["workloads"]}])
        for wl in [w["name"] for w in spec["workloads"]]:
            res = dict(synthetic_result(traced=True), workload=wl)
            e2e = metrics.end_to_end(res, 0.5)
            layer = metrics.per_layer(res)
            for m in spec["end_to_end"]:
                self.assertIn(m["name"], e2e)
                self.assertIsNotNone(e2e[m["name"]], m["name"])
                self.assertEqual(metrics.UNITS[m["name"]], m["unit"])
            for m in spec["per_layer"]:
                self.assertIn(m["name"], layer, wl)
                self.assertEqual(metrics.UNITS[m["name"]], m["unit"])

    def test_recall_floor_is_the_one_recorded(self):
        why = {w["name"]: w["why"] for w in run.benchmark_spec()["workloads"]}["ingest_serve"]
        self.assertIn(f"recall@5 >= {run.RECALL_FLOOR}", why)


class CorrectnessCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.inputs = os.path.join(self.tmp, "inputs")
        gen.generate("corpus_curation", 1, self.inputs)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def dump(self, corrupt):
        import duckdb
        dump = os.path.join(self.tmp, "dump")
        shutil.rmtree(dump, ignore_errors=True)
        os.makedirs(os.path.join(dump, "q_top"))
        sql = ("SELECT o_orderkey, o_totalprice FROM orders "
               "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5")
        with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
            json.dump({"q_top": sql}, f)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM '{self.inputs}/orders.parquet'")
        bump = " + 0.01" if corrupt else ""
        con.execute(f"COPY (SELECT o_orderkey, o_totalprice{bump} AS o_totalprice "
                    f"FROM ({sql})) TO '{dump}/q_top/part-0.parquet' (FORMAT parquet)")
        return dump

    def test_corrupted_result_fails_the_oracle_check(self):
        self.assertEqual(run.oracle_check(self.inputs, self.dump(corrupt=False)), [])
        fails = run.oracle_check(self.inputs, self.dump(corrupt=True))
        self.assertTrue(fails and "q_top" in fails[0], fails)

    def test_checksum_drift_between_passes_fails(self):
        res = synthetic_result(traced=True)
        res["ops"][1] = dict(res["ops"][1], hash="12")
        os.makedirs(os.path.join(self.tmp, "w", "dump"))
        fails = [f for f in run.check_results(res, self.inputs, os.path.join(self.tmp, "w"))
                 if "checksum" in f]
        self.assertEqual(len(fails), 1)

    def test_timed_result_must_equal_the_checked_warm_up_result(self):
        work = os.path.join(self.tmp, "w")
        os.makedirs(os.path.join(work, "dump"))
        res = synthetic_result(traced=True)

        def warm_up_fails(fingerprint):
            res["warmup_fingerprints"] = {"q41_x": fingerprint}
            return [f for f in run.check_results(res, self.inputs, work) if "warm-up" in f]
        self.assertEqual(warm_up_fails([5, "11"]), [])
        self.assertEqual(len(warm_up_fails([5, "13"])), 1)   # same rows, drifted fingerprint
        self.assertEqual(len(warm_up_fails([4, "11"])), 1)


if __name__ == "__main__":
    unittest.main()
