"""Tests for the benchmark's pure logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import benchlib
import datagen
import run


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_picks_an_observed_sample(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(benchlib.percentile(xs, 50), 3)
        self.assertEqual(benchlib.percentile(xs, 90), 5)
        self.assertEqual(benchlib.percentile(xs, 0), 1)
        self.assertEqual(benchlib.percentile(list(range(1, 101)), 90), 90)

    def test_median_interpolates_even_counts(self):
        self.assertEqual(benchlib.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(benchlib.median([7]), 7)

    def test_geomean(self):
        self.assertAlmostEqual(benchlib.geomean([100.0, 400.0]), 200.0)
        self.assertAlmostEqual(benchlib.geomean([7.0]), 7.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)
        with self.assertRaises(ValueError):
            benchlib.geomean([])


def stage_skew(xs):
    """The listener's per-stage fold, then the skew of its state."""
    return benchlib.skew(max(xs), min(xs), sum(xs), len(xs))


class SkewFoldTest(unittest.TestCase):
    def test_skew_of_the_fold(self):
        # avg 20: max(40 - 20, 20 - 10) / (40 - 10)
        self.assertAlmostEqual(stage_skew([10, 10, 40, 20]), 2 / 3)
        # a low outlier: avg 30, max(40 - 30, 30 - 0) / 40
        self.assertAlmostEqual(stage_skew([40, 40, 40, 0]), 0.75)

    def test_uniform_stage_has_zero_skew(self):
        # range 0: the denominator is forced to 1, as in Skewness.skewFromStats
        self.assertEqual(stage_skew([7, 7, 7]), 0.0)

    def test_reference_example(self):
        # one hot task of three: (98M - avg) / 97M = 2/3
        self.assertAlmostEqual(stage_skew([1e6, 1e6, 98e6]), 2 / 3)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(benchlib.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])
        self.assertEqual(benchlib.length([(0, 10), (5, 15), (20, 21)]), 16)

    def test_minus(self):
        self.assertEqual(benchlib.minus([(0, 10)], [(2, 3), (5, 7)]), [(0, 2), (3, 5), (7, 10)])
        self.assertEqual(benchlib.minus([(0, 10)], [(-5, 20)]), [])

    def test_split_partitions_the_window(self):
        op = {"t0": 0, "t1": 100, "builds": [(0, 40)],
              "jobs": [(10, 20), (50, 70), (65, 80)],
              "phases": {"analysis": [(30, 45)], "optimization": [(45, 52)],
                         "planning": [(52, 55)]}}
        parts = benchlib.split_op(op)
        self.assertEqual(parts["exec.job_ms"], 40)          # 10-20, 50-80
        self.assertEqual(parts["catalyst.analysis_ms"], 15)  # 30-45
        self.assertEqual(parts["catalyst.optimization_ms"], 5)  # 45-50
        self.assertEqual(parts["catalyst.planning_ms"], 0)   # inside a job
        self.assertEqual(parts["queries.build_ms"], 20)     # 0-10, 20-30
        self.assertEqual(parts["driver.gap_ms"], 20)        # 80-100
        self.assertEqual(sum(parts.values()), 100)

    def test_several_build_calls(self):
        op = {"t0": 0, "t1": 100, "builds": [(0, 10), (50, 60)],
              "jobs": [(10, 50), (60, 100)], "phases": {}}
        parts = benchlib.split_op(op)
        self.assertEqual((parts["queries.build_ms"], parts["driver.gap_ms"]), (20, 0))

    def test_events_outside_the_window_are_clipped(self):
        op = {"t0": 100, "t1": 200, "builds": [], "jobs": [(50, 150)], "phases": {}}
        self.assertEqual(benchlib.split_op(op)["exec.job_ms"], 50)


class CompareTest(unittest.TestCase):
    want = (["b", "a"], [[2.0, "x"], [1.0, "y"]])

    def test_column_and_row_order_do_not_matter(self):
        self.assertIsNone(benchlib.compare((["a", "b"], [["y", 1.0], ["x", 2.0]]), self.want))

    def test_floats_within_1e9_relative(self):
        self.assertIsNone(benchlib.compare((["b", "a"], [[2.0 + 1e-12, "x"], [1.0, "y"]]), self.want))
        self.assertIsNotNone(benchlib.compare((["b", "a"], [[2.0 + 1e-6, "x"], [1.0, "y"]]), self.want))

    def test_ints_and_strings_are_exact(self):
        self.assertIsNotNone(benchlib.compare((["n"], [[3]]), (["n"], [[4]])))
        self.assertIsNotNone(benchlib.compare((["n"], [[3]]), (["n"], [[3.0]])))
        self.assertIsNotNone(benchlib.compare((["s"], [["a"]]), (["s"], [["b"]])))
        self.assertIsNotNone(benchlib.compare((["s"], [["a"], ["a"]]), (["s"], [["a"]])))

    def test_canonical_forms(self):
        import datetime
        import decimal
        self.assertEqual(benchlib.canon(decimal.Decimal("12.3400")), "dec:12.34")
        self.assertEqual(benchlib.canon(decimal.Decimal("0E-10")), "dec:0")
        self.assertEqual(benchlib.canon(decimal.Decimal("100")), "dec:100")
        self.assertEqual(benchlib.canon(datetime.datetime(2024, 1, 2, 3, 4, 5, 6)),
                         "ts:2024-01-02 03:04:05.000006")
        self.assertEqual(benchlib.canon(datetime.date(2024, 1, 2)), "date:2024-01-02")


class PlantedWrongResultTest(unittest.TestCase):
    """A wrong result must be counted as failed, and its time dropped."""

    def test_planted_wrong_result_is_failed_and_untimed(self):
        with tempfile.TemporaryDirectory() as work:
            want = {"q": {"columns": ["n"], "rows": [[1], [2]]}}
            walls = (900.0, 300.0, 100.0, 5.0)  # cold, warm-up, measured, planted
            rec = {"passes": [{"pass": p, "ops": [
                {"name": "q", "err": None, "wall_ms": w, "t0": 0, "tb": 0, "t1": w}]}
                for p, w in enumerate(walls)]}
            results = ([[1], [2]], [[1], [2]], [[2], [1]], [[1], [3]])
            for p, rows in enumerate(results):
                d = os.path.join(work, "results", str(p))
                os.makedirs(d)
                with open(os.path.join(d, "q.json"), "w") as fh:
                    json.dump({"columns": ["n"], "rows": rows}, fh)
            rec["heap_after_gc_mb"] = 1.0
            run.check_queries(rec, want, work)
            oks = [op["ok"] for p in rec["passes"] for op in p["ops"]]
            self.assertEqual(oks, [True, True, True, False])
            metrics, samples = run.end_to_end(rec, "dashboard", setup=1.0)
            # the planted pass ran in 5 ms; it must not read as fast
            self.assertEqual(samples, 1)
            self.assertAlmostEqual(metrics["p50_ms"][0], 100.0)
            self.assertEqual(metrics["wall_s"][0], 0.1)


class PlantedWrongSinkTest(unittest.TestCase):
    """Ingest sinks are checked against the generator's expectations of
    the rounds that ran; a wrong sink fails every drain of its pipeline."""

    def test_planted_wrong_stateful_sink_fails_its_pipeline(self):
        with tempfile.TemporaryDirectory() as work:
            exp = [datagen.write_spool(os.path.join(work, f"round-{r}"), 7 + r, r,
                                       tasks=200, logs=50) for r in range(3)]
            ran = exp[:2]  # the third flush was generated but never delivered
            merged = lambda k: {key: v for x in ran for key, v in x[k].items()}
            results = os.path.join(work, "results", "ingest")
            os.makedirs(results)
            sinks = {"passthrough": run.stage_rows(merged("passthrough")),
                     "derived": run.stage_rows(merged("windows"), key_has_time=True),
                     "stateful": run.stage_rows(merged("stages")),
                     "tws": run.stage_rows(merged("stages"))}
            cols, rows = sinks["stateful"]
            rows[0] = rows[0][:4] + [rows[0][4] + 1] + rows[0][5:]  # planted
            for name, (c, r) in sinks.items():
                with open(os.path.join(results, name + ".json"), "w") as fh:
                    json.dump({"columns": c, "rows": r}, fh)
            names = ("metrics", "stateful", "tws", "logs")
            drain = lambda n: {"pipeline": n, "err": None}
            record = lambda: {
                "rounds": [{"round": r, "ops": [drain(n) for n in names]} for r in range(2)],
                "sinks": {"task_rows": sum(x["task_rows"] for x in ran),
                          "log_rows": sum(x["log_rows"] for x in ran)}}
            rec = record()
            run.check_ingest(rec, exp, work)
            for _, op in run.ops_of(rec):
                planted = op["pipeline"] == "stateful"
                self.assertEqual(op["ok"], not planted)
                if planted:
                    self.assertIn("stateful: row", op["err"])
            # without the planted value every pipeline passes
            rows[0] = run.stage_rows(merged("stages"))[1][0]
            with open(os.path.join(results, "stateful.json"), "w") as fh:
                json.dump({"columns": cols, "rows": rows}, fh)
            rec = record()
            run.check_ingest(rec, exp, work)
            self.assertTrue(all(op["ok"] for _, op in run.ops_of(rec)))


if __name__ == "__main__":
    unittest.main()
