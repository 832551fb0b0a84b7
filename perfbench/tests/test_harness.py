"""Tests of the benchmark harness itself (no Spark needed):

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import check, datagen, metrics, streams  # noqa: E402

SIZES = datagen.sizes(0.001)


def _base():
    cust = {f"c:{k}": [f"Customer#{k}", k * 1.25, k % 25]
            for k in range(SIZES["customer"])}
    placed = {(f"c:{k % SIZES['customer']}", f"o:{k}", 0): k + 0.5
              for k in range(SIZES["orders"])}
    return cust, placed


def _stream_bytes(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "s.json")
        if workload == "interactive":
            streams.write(path, streams.interactive_setup(), [],
                          streams.interactive(seed, SIZES, 200))
        else:
            streams.write(path, streams.mutate_setup(),
                          streams.mutate_warmup(seed, SIZES, _base()),
                          streams.mutate(seed, SIZES, 200, _base())[0])
        with open(path, "rb") as f:
            return f.read()


class SeededStream(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in ("interactive", "mutate"):
            self.assertEqual(_stream_bytes(w, 7), _stream_bytes(w, 7), w)

    def test_other_seed_other_stream(self):
        for w in ("interactive", "mutate"):
            self.assertNotEqual(_stream_bytes(w, 7), _stream_bytes(w, 8), w)

    def test_fetch_lists_distinct_parts(self):
        for seed in range(50):
            for it in streams.interactive(seed, SIZES, 4 * streams.BLOCK):
                if it["tpl"] == "fetch":
                    self.assertEqual(len(set(it["params"].values())), 3, it)

    def test_blocks_hold_every_template(self):
        items = streams.interactive(3, SIZES, 4 * streams.BLOCK)
        for b in range(0, len(items), streams.BLOCK):
            block = items[b:b + streams.BLOCK]
            self.assertEqual(sorted(i["tpl"] for i in block if i["cls"] == "light"),
                             sorted(streams.SHORT))
            self.assertEqual(sum(i["cls"] == "heavy" for i in block), 2)
        heavy = [i["tpl"] for i in items[:2 * streams.BLOCK] if i["cls"] == "heavy"]
        self.assertEqual(sorted(heavy), sorted(streams.COMPLEX))
        muts = streams.mutate(3, SIZES, 3 * streams.MUTATE_BLOCK, _base())[0]
        for b in range(0, len(muts), streams.MUTATE_BLOCK):
            block = muts[b:b + streams.MUTATE_BLOCK]
            self.assertEqual(sorted(i["tpl"] for i in block if i["cls"] == "heavy"),
                             sorted(streams.WRITES))

    def test_mutate_prefix_replay_matches_stream(self):
        items, space = streams.mutate(5, SIZES, 40, _base())
        # a read's expectation is the replayed model right before it
        for it in items:
            if it["cls"] == "light":
                s = streams.replay_mutate(5, SIZES, _base(), it["i"])
                vid = it["params"]["vid"]
                want = s.fetch(vid) if it["tpl"] == "fetch" else s.go(vid)
                self.assertEqual(want, it["expect"])
        self.assertEqual(streams.replay_mutate(5, SIZES, _base(), 40).cust, space.cust)


class Percentiles(unittest.TestCase):
    def test_sample_count_rule(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.percentile(list(range(1, 21)), 0.5), 10)
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_class_latency_is_geomean_of_template_medians(self):
        recs = [{"cls": "light", "tpl": "a", "start": 0, "end": ms * 10 ** 6}
                for ms in (1, 2, 30)]
        recs += [{"cls": "light", "tpl": "b", "start": 0, "end": 10 * 10 ** 6}]
        recs += [{"cls": "heavy", "tpl": "c", "start": 0, "end": 10 ** 9}]
        self.assertAlmostEqual(metrics.class_latency_ms(recs, "light"), 20 ** 0.5)
        self.assertAlmostEqual(metrics.class_latency_ms(recs, "heavy"), 1000.0)

    def test_ops_per_s_counts_busy_time_once(self):
        recs = [{"start": 0, "end": 10 ** 9}, {"start": 5 * 10 ** 8, "end": 10 ** 9},
                {"start": 3 * 10 ** 9, "end": 4 * 10 ** 9}]
        self.assertAlmostEqual(metrics.ops_per_s(recs), 1.5)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "request", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "name": "nql.parse", "start": 10, "end": 20},
            {"id": 3, "parent": 1, "name": "nql.exec", "start": 20, "end": 90},
            {"id": 4, "parent": 3, "name": "x", "start": 30, "end": 50},
            # overlapping siblings count once, clipped to the parent
            {"id": 5, "parent": 3, "name": "y", "start": 40, "end": 95},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 80)
        self.assertEqual(st[2], 10)
        self.assertEqual(st[3], 70 - (90 - 30))
        self.assertEqual(st[4], 20)
        self.assertEqual(st[5], 55)

    def test_layer_totals_attribute_jobs_and_phases(self):
        ms = 10 ** 6
        recs = [{"i": 0, "cls": "light", "tpl": "go", "start": 0, "end": 100 * ms,
                 "sample": {"gc_ms": 5, "ckpt_rdds": 2, "ckpt_cached_bytes": 64}}]
        trace = {
            "spans": [
                {"id": 1, "parent": 0, "name": "request", "req": 0, "start": 0, "end": 100 * ms},
                {"id": 2, "parent": 1, "name": "nql.parse", "req": 0, "start": 0, "end": 10 * ms},
                {"id": 3, "parent": 1, "name": "nql.exec", "req": 0, "start": 10 * ms, "end": 90 * ms},
            ],
            "jobs": [
                {"job": 0, "span": 3, "exec": 7, "start_ms": 20, "end_ms": 40, "cpu_ns": 10 ** 9,
                 "shuffle_write": 1, "shuffle_read": 2, "spill": 0, "input": 3, "output": 0, "tasks": 4},
                {"job": 1, "span": 3, "exec": 7, "start_ms": 30, "end_ms": 60, "cpu_ns": 0,
                 "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "input": 5, "output": 0, "tasks": 1},
                {"job": 2, "span": 0, "exec": -1, "start_ms": 0, "end_ms": 100, "cpu_ns": 9,
                 "shuffle_write": 9, "shuffle_read": 9, "spill": 9, "input": 9, "output": 9, "tasks": 9},
            ],
            "qes": [{"qe": 70, "analysis_ms": 1, "optimizer_ms": 2, "planning_ms": 3},
                    {"qe": 80, "analysis_ms": 4, "optimizer_ms": 0, "planning_ms": 0},
                    {"qe": 90, "analysis_ms": 100, "optimizer_ms": 0, "planning_ms": 0}],
            "qe_exec": {"70": 7, "80": 8, "90": 9},
            "exec_tags": {"8": "graftbench-req-0", "9": "other"},
        }
        m = metrics.per_layer(recs, trace, {})
        self.assertEqual(m["light.spark.jobs"], 2)
        self.assertAlmostEqual(m["light.spark.in_job_s"], 0.040)
        self.assertAlmostEqual(m["light.spark.outside_job_frac"], 0.6)
        self.assertAlmostEqual(m["light.spark.task_cpu_s"], 1.0)
        self.assertEqual(m["light.spark.input_bytes"], 8)
        self.assertEqual(m["light.catalyst.analysis_ms"], 5)
        self.assertEqual(m["light.catalyst.planning_ms"], 3)
        self.assertAlmostEqual(m["light.nql.parse_ms"], 10)
        self.assertAlmostEqual(m["light.nql.exec_ms"], 70)
        self.assertAlmostEqual(m["light.self.unaccounted_ms"], 10)
        self.assertAlmostEqual(m["light.jvm.gc_s"], 0.005)
        self.assertEqual(m["heavy.samples"], 0)


class OracleComparison(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        datagen.make(self.tmp.name, 3, 0.001)
        self.con = datagen.connect(self.tmp.name)

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def _oracle(self):
        sql = check.substitute(
            "SELECT 'c:' || c_custkey AS vid, c_acctbal AS acctbal "
            "FROM customer WHERE c_custkey IN (1, 2)",
            [("IN (1, 2)", "IN ({a}, {b})")], {"a": 3, "b": 4})
        return check.Oracle(self.con).answer(sql)

    def test_accepts_same_rows_in_any_order(self):
        cols, rows = self._oracle()
        self.assertEqual(len(rows), 2)
        got = [list(r) for r in reversed(rows)]
        self.assertIsNone(check.compare(list(reversed(cols)),
                                        [list(reversed(r)) for r in got], cols, rows))

    def test_rejects_perturbed_results(self):
        cols, rows = self._oracle()
        bumped = [list(r) for r in rows]
        bumped[0][1] += 0.01
        self.assertIsNotNone(check.compare(cols, bumped, cols, rows))
        self.assertIsNotNone(check.compare(cols, rows[:1], cols, rows))
        self.assertIsNotNone(check.compare(["vid", "balance"], rows, cols, rows))
        self.assertNotEqual(check.digest(cols, bumped), check.digest(cols, rows))

    def test_substitution_requires_the_fragment(self):
        with self.assertRaises(ValueError):
            check.substitute("SELECT 1", [("c_custkey = 42", "c_custkey = {c}")],
                             {"c": 1})

    def test_stream_params_reach_every_oracle_fragment(self):
        # every template's substitutions format with the params it draws
        for it in streams.interactive(9, SIZES, streams.BLOCK * 2):
            _, _, _, subst = streams.TEMPLATES[it["tpl"]]
            for _, new in subst:
                new.format(**it["params"])


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the harness prints."""

    def setUp(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        path = os.path.join(root, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as f:
            self.bench = json.load(f)

    def test_per_layer_names_and_units(self):
        from harness import cli
        want = [f"{c}.{m}" for c in metrics.CLASSES for m in metrics.LAYER_METRICS]
        want += list(metrics.WORKLOAD_METRICS)
        got = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(sorted(got), sorted(want))
        for name, unit in got.items():
            self.assertEqual(unit, cli.layer_unit(name), name)

    def test_end_to_end_names_and_units(self):
        from harness import cli
        got = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(got, cli.E2E_UNITS)
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(cli.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
