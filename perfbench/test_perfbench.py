"""Tests for the benchmark's own code.

Run from the repository root:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
import txmodel  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_falls_back_to_median_with_fewer_than_ten_beyond(self):
        xs = [float(i) for i in range(1, 51)]   # 5 samples lie beyond p90
        self.assertEqual(metrics.percentile(xs, 0.9), 25.5)

    def test_reports_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # exactly 10 beyond p90
        self.assertEqual(metrics.percentile(xs, 0.9), 90.0)
        xs = [float(i) for i in range(1, 100)]  # 9 beyond: median
        self.assertEqual(metrics.percentile(xs, 0.9), 50.0)

    def test_empty(self):
        self.assertEqual(metrics.percentile([], 0.9), 0.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        children = [("build", 1, 1.0, 4.0), ("action", 1, 4.0, 9.0),
                    ("plans.analysis", 2, 4.5, 5.5), ("exec.job", 3, 5.0, 8.0),
                    ("exec.job", 3, 7.0, 8.5)]        # two jobs overlap each other
        got = metrics.self_times((0.0, 10.0), children)
        self.assertAlmostEqual(sum(got.values()), 10.0)
        self.assertAlmostEqual(got["root"], 2.0)             # [0,1] and [9,10]
        self.assertAlmostEqual(got["build"], 3.0)
        self.assertAlmostEqual(got["plans.analysis"], 0.5)   # [4.5,5], rest under a job
        self.assertAlmostEqual(got["exec.job"], 3.5)         # union [5,8.5]
        self.assertAlmostEqual(got["action"], 1.0)           # [4,4.5] and [8.5,9]

    def test_children_clipped_to_root(self):
        got = metrics.self_times((0.0, 2.0), [("build", 1, -1.0, 1.0), ("action", 1, 1.5, 5.0)])
        self.assertEqual(got, {"build": 1.0, "root": 0.5, "action": 0.5})


class IdleTime(unittest.TestCase):
    def test_idle_from_task_intervals(self):
        jobs = [(0.0, 10.0)]
        tasks = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0)]
        self.assertAlmostEqual(metrics.idle_time(jobs, tasks), 10.0 - 3.0 - 1.0 - 0.5)

    def test_overlapping_jobs_count_once(self):
        self.assertAlmostEqual(metrics.idle_time([(0.0, 4.0), (2.0, 6.0)], [(1.0, 5.0)]), 2.0)

    def test_no_tasks(self):
        self.assertAlmostEqual(metrics.idle_time([(0.0, 1.0)], []), 1.0)


class SeedDeterminism(unittest.TestCase):
    def test_txlog_ops(self):
        a = json.dumps(inputs.txlog_ops(7)).encode()
        self.assertEqual(a, json.dumps(inputs.txlog_ops(7)).encode())
        self.assertNotEqual(a, json.dumps(inputs.txlog_ops(8)).encode())

    def test_neows_feeds(self):
        def feed_bytes(seed):
            with tempfile.TemporaryDirectory() as d:
                days = inputs.medallion_days(seed, 1, d)
                out = []
                for day in days:
                    with open(day["path"], "rb") as f:
                        out.append(f.read())
                return out
        a = feed_bytes(3)
        self.assertEqual(a, feed_bytes(3))
        self.assertNotEqual(a, feed_bytes(4))

    def test_floor_order(self):
        self.assertEqual(inputs.floor_order(1), inputs.floor_order(1))
        self.assertNotEqual(inputs.floor_order(1), inputs.floor_order(2))
        self.assertTrue(all(sorted(r) == sorted(inputs.FLOOR_QUERIES)
                            for r in inputs.floor_order(1)))


class CorrectnessChecks(unittest.TestCase):
    def test_oracle_compare_normalises_and_rejects_perturbation(self):
        got = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
        exp = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0 + 1e-12]})
        self.assertIsNone(checks.compare(got, exp))
        bad = exp.assign(b=[1.0, 2.001])
        self.assertIn("values differ", checks.compare(got, bad))
        self.assertIn("row counts", checks.compare(got, exp.head(1)))

    def _txlog_record(self, seed_df, ops):
        """A record as the JVM would write it for a correct engine."""
        m = txmodel.from_seed(seed_df)
        commits = [{"op": -1, "version": 2, **dict(zip(("count", "hash"), txmodel.count_hash(m)))}]
        rec_ops, v = [], 2
        for i, op in enumerate(ops):
            r = {"id": i, "ok": True, "name": op["verb"]}
            if op["verb"] in ("append", "delete"):
                m, _ = txmodel.apply(m, op)
                v += 1
                r["version"] = v
                commits.append({"op": i, "version": v, "bytes_new": 1})
            elif op["verb"] == "read_latest":
                r["count"], r["hash"] = txmodel.count_hash(m)
                r["as_of"] = v
            else:
                sel = m[(m["id"] >= op["id_lo"]) & (m["id"] <= op["id_hi"])]
                r["count"], r["hash"] = txmodel.count_hash(sel)
            rec_ops.append(r)
        return {"ops": rec_ops, "workload": {"commits": commits}}

    @staticmethod
    def _txlog_seed():
        return pd.DataFrame({
            "l_orderkey": [1, 2, 3], "l_partkey": [4, 5, 6], "l_suppkey": [7, 8, 9],
            "l_linenumber": [1, 2, 3], "l_quantity": [1.0, 2.0, 3.0],
            "l_extendedprice": [100.25, 200.5, 300.75], "l_discount": [0.01, 0.02, 0.03],
            "l_tax": [0.0, 0.01, 0.02], "l_returnflag": ["A", "N", "R"],
            "l_linestatus": ["F", "O", "F"],
            "l_shipdate": pd.to_datetime(["1995-01-02", "1996-02-03", "1997-03-04"]),
            "id": [0, 1, 2], "bucket": [0, 0, 0]})

    def test_txlog_model_rejects_perturbed_snapshot(self):
        seed = self._txlog_seed()
        ops = [{"verb": "append", "new_lo": 3, "new_hi": 7},
               {"verb": "read_latest"},
               {"verb": "read_where", "id_lo": 1, "id_hi": 5},
               {"verb": "delete", "id_lo": 0, "id_hi": 1},
               {"verb": "read_latest"}]
        rec = self._txlog_record(seed, ops)
        errors, _ = txmodel.check(seed, ops, rec, 1000)
        self.assertEqual(errors, [])
        rec["ops"][4]["hash"] += 1
        rec["ops"][2]["count"] -= 1
        errors, _ = txmodel.check(seed, ops, rec, 1000)
        self.assertEqual(len(errors), 2)

    def test_txlog_model_rejects_vacuums_that_delete_nothing(self):
        seed = self._txlog_seed()
        ops = [{"verb": "vacuum", "retain": 4}] * 2
        rec = self._txlog_record(seed, [])
        rec["ops"] = [{"id": i, "ok": True, "name": "vacuum", "deleted": 0} for i in range(2)]
        errors, _ = txmodel.check(seed, ops, rec, 1000)
        self.assertEqual(errors, ["2 VACUUMs deleted no file"])
        rec["ops"][1]["deleted"] = 3
        self.assertEqual(txmodel.check(seed, ops, rec, 1000)[0], [])

    def test_txlog_rounds_checkpoint_every_second_commit(self):
        for ops in inputs.txlog_ops(3, rounds=4):
            verbs = [o["verb"] for o in ops]
            self.assertEqual(sorted(set(verbs) - {"checkpoint", "read_latest"}),
                             sorted(inputs.WRITES + inputs.READS + ["optimize", "vacuum"]))
            self.assertEqual(verbs.count("checkpoint"), 2)
            commits = 0
            for v in verbs:
                if v == "checkpoint":
                    self.assertEqual(commits % inputs.CHECKPOINT_EVERY, 0)
                commits += v in inputs.WRITES
            self.assertEqual(verbs[-3:], ["optimize", "read_latest", "vacuum"])
            self.assertEqual(verbs.count("read_latest"), len(inputs.WRITES) + 1)

    def test_medallion_rejects_perturbed_answer(self):
        with tempfile.TemporaryDirectory() as d:
            days = inputs.medallion_days(5, 1, d)
        history, day = days
        checks_rec = []
        for i, dd in enumerate(days):
            upto = [x["expected"] for x in days[:i + 1]]
            want = inputs.catalog_answers(upto)
            checks_rec.append({
                "date": dd["date"], "silver_rows": dd["expected"]["silver_rows"],
                "gold_rows": {"fact_asteroid_approach": sum(e["silver_rows"] for e in upto),
                              "dim_asteroid": sum(e["dim_asteroid"] for e in upto),
                              "dim_date": sum(e["dim_date"] for e in upto),
                              "dim_celestial_body": sum(e["dim_celestial_body"] for e in upto)},
                "answers": [{"name": q["name"], "rows": want[q["name"]]}
                            for q in inputs.CATALOG_QUERIES]})
        rec = {"workload": {"checks": checks_rec}}
        self.assertEqual(checks.medallion([day], history, rec), [])
        closest = checks_rec[1]["answers"][2]["rows"]
        closest[0] = [closest[0][0], closest[0][1] * (1 + 1e-9)]
        self.assertEqual(len(checks.medallion([day], history, rec)), 1)


class BenchmarkSpec(unittest.TestCase):
    def test_spec_matches_the_reducer(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)
        import run
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
