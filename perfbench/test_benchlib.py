"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import json
import unittest
from pathlib import Path

import benchlib

HERE = Path(__file__).resolve().parent


class OrderTest(unittest.TestCase):
    NAMES = [f"q{i:02d}" for i in range(17)]

    def test_same_seed_same_orders(self):
        a = benchlib.plan([self.NAMES] * 3, 7, 2)
        b = benchlib.plan([list(reversed(self.NAMES))] * 3, 7, 2)
        self.assertEqual(a, b)

    def test_seed_changes_order_not_set(self):
        a = benchlib.order(self.NAMES, 1, 0, 0)
        b = benchlib.order(self.NAMES, 2, 0, 0)
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))

    def test_passes_and_clients_get_their_own_orders(self):
        p = benchlib.plan([self.NAMES] * 2, 5, 2)
        self.assertNotEqual(p[0][0], p[0][1])
        self.assertNotEqual(p[0][0], p[1][0])
        for clients in p:
            for names in clients:
                self.assertEqual(sorted(names), sorted(self.NAMES))

    def test_known_order_is_stable(self):
        # pins the generator, so a seed names the same run on any host
        self.assertEqual(benchlib.order(["a", "b", "c", "d"], 42, 0, 0),
                         benchlib.order(["d", "c", "b", "a"], 42, 0, 0))
        self.assertEqual(benchlib.order(["a", "b", "c", "d"], 42, 0, 0),
                         ["b", "a", "d", "c"])

    def test_strata_partition_the_names(self):
        names = [f"n{i:03d}" for i in range(228)]
        st = benchlib.chunks(list(reversed(names)), 8)
        self.assertEqual(sorted(sum(st, [])), names)
        self.assertEqual({len(s) for s in st}, {28, 29})
        self.assertEqual({len(s) for s in benchlib.chunks(names, 24)}, {9, 10})


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_above(self):
        self.assertIsNone(benchlib.tail_percentile(list(range(99)), 0.9))
        self.assertEqual(benchlib.tail_percentile(list(range(100)), 0.9), 89)
        self.assertEqual(
            benchlib.tail_percentile([float(x) for x in range(1, 201)], 0.9),
            180.0)

    def test_refuses_small_samples(self):
        self.assertIsNone(benchlib.tail_percentile([1.0] * 17, 0.9))
        self.assertIsNone(benchlib.tail_percentile([], 0.5))
        self.assertIsNone(benchlib.highest_supported_quantile(10))

    def test_highest_supported_quantile(self):
        self.assertAlmostEqual(benchlib.highest_supported_quantile(34), 24 / 34)
        xs = list(range(34))
        q = benchlib.highest_supported_quantile(34)
        v = benchlib.tail_percentile(xs, q)
        self.assertEqual(sum(1 for x in xs if x > v), 10)


def inv(name, status="ok", rows=1, h1="a", t0=0.0, t1=1000.0, **kw):
    d = dict(id=name, name=name, status=status, rows=rows, h1=h1, h2="b",
             schema="x:int", t0=t0, tc=t0, t1=t1, error=kw.get("error", ""))
    return d


class AccountingTest(unittest.TestCase):
    EXPECTED = {n: {"rows": 1, "h1": "a", "h2": "b", "schema": "x:int"}
                for n in ("q1", "q2", "q3", "q4", "q5")}

    def test_failures_are_counted_not_dropped(self):
        invs = [inv("q1"), inv("q2", h1="zz"), inv("q3", status="error"),
                inv("q4", status="timeout", t1=31000.0), inv("q5", t1=2000.0),
                inv("q9")]
        acc = benchlib.account(invs, self.EXPECTED, 30.0)
        self.assertEqual(acc["attempted"], 6)
        self.assertEqual(acc["failed"], 4)
        self.assertEqual(acc["counts"],
                         {"ok": 2, "wrong": 2, "error": 1, "timeout": 1})
        self.assertAlmostEqual(acc["failed_frac"], 4 / 6)
        # a failed invocation stands at the budget in the latency sample
        self.assertEqual(sorted(acc["latencies_s"]),
                         [1.0, 2.0, 30.0, 30.0, 30.0, 30.0])

    def test_unanchored_result_is_wrong(self):
        self.assertEqual(benchlib.classify(inv("q9"), self.EXPECTED), "wrong")

    def test_all_ok(self):
        acc = benchlib.account([inv("q1"), inv("q2")], self.EXPECTED, 30.0)
        self.assertEqual((acc["failed"], acc["failed_frac"]), (0, 0.0))


class SpanTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(benchlib.union_length([]), 0.0)
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(benchlib.union_length([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(benchlib.union_length([(5, 5), (7, 6)]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": "i", "parent": None, "t0": 0, "t1": 100},
            {"id": "c", "parent": "i", "t0": 0, "t1": 30},
            {"id": "e", "parent": "i", "t0": 40, "t1": 100},
            {"id": "j1", "parent": "e", "t0": 45, "t1": 70},
            {"id": "j2", "parent": "e", "t0": 60, "t1": 90},
            # a child running past its parent counts only inside it
            {"id": "s", "parent": "j1", "t0": 50, "t1": 80},
        ]
        st = benchlib.self_times(spans)
        self.assertEqual(st["i"], 10)
        self.assertEqual(st["c"], 30)
        self.assertEqual(st["e"], 15)
        self.assertEqual(st["j1"], 5)
        self.assertEqual(st["j2"], 30)
        self.assertEqual(st["s"], 30)

    def test_invocation_spans_account_for_wall(self):
        i = {"id": "w-0-0-0", "t0": 1000.0, "tc": 1100.0, "t1": 1500.0}
        cmd = {"phases": {"analysis": {"t0": 1101, "t1": 1105},
                          "optimization": {"t0": 1105, "t1": 1120},
                          "planning": {"t0": 1120, "t1": 1130}}}
        jobs = [{"job": 1, "t0": 1050, "t1": 1090, "stages": [3]},
                {"job": 2, "t0": 1140, "t1": 1450, "stages": [4, 5]}]
        stages = {(3, 0): {"t0": 1051, "t1": 1089},
                  (4, 0): {"t0": 1141, "t1": 1300},
                  (5, 0): {"t0": 1301, "t1": 1449}}
        spans, got = benchlib.spans_for(i, [cmd], jobs, stages)
        self.assertIs(got, cmd)
        by = {s["id"]: s for s in spans}
        self.assertEqual(by["w-0-0-0/job1"]["parent"], "w-0-0-0/construct")
        self.assertEqual(by["w-0-0-0/job2"]["parent"], "w-0-0-0/execute")
        self.assertEqual(by["w-0-0-0/execute"]["t0"], 1130)
        st = benchlib.self_times(spans)
        # the remainder not covered by construct, the phases or execute
        self.assertAlmostEqual(st["w-0-0-0"], 1.0)
        self.assertAlmostEqual(st["w-0-0-0/execute"], 370 - 310)
        self.assertAlmostEqual(st["w-0-0-0/job2"], 310 - 159 - 148)


    def test_each_stage_belongs_to_the_job_that_ran_it(self):
        jobs = [{"job": 1, "t0": 0, "t1": 50, "stages": [1]},
                {"job": 2, "t0": 60, "t1": 100, "stages": [1, 2]}]
        stages = {(1, 0): {"t0": 10, "t1": 40}, (2, 0): {"t0": 61, "t1": 99}}
        self.assertEqual(benchlib.assign_stages(jobs, stages),
                         {1: [(1, 0)], 2: [(2, 0)]})


class DictionaryTest(unittest.TestCase):
    def test_metric_dictionary_matches_benchmark_json(self):
        units = json.loads((HERE / "metrics.json").read_text())
        for k, v in units.items():
            self.assertEqual(set(v), {"unit", "better", "layer", "moves", "kind"}, k)
        bench = HERE.parent / "BENCHMARK.json"
        if not bench.is_file():
            self.skipTest("no BENCHMARK.json beside perfbench")
        b = json.loads(bench.read_text())
        per = {m["name"]: m["unit"] for m in b["per_layer"]}
        e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
        self.assertEqual(per, {k: v["unit"] for k, v in units.items()
                               if v["kind"] == "per_layer"})
        self.assertEqual(e2e, {k: v["unit"] for k, v in units.items()
                               if v["kind"] == "end_to_end"})


if __name__ == "__main__":
    unittest.main()
