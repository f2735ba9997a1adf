"""Unit tests of the benchmark's analysis code.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from benchlib import layers, stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(range(10)))
        self.assertIsNone(stats.tail([]))

    def test_eleven_samples_give_the_minimum(self):
        pct, value = stats.tail(range(11))
        self.assertEqual(value, 0)
        self.assertEqual(pct, 0.0)

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in (11, 20, 57, 1000):
            values = [float(i) for i in range(n)][::-1]
            pct, value = stats.tail(values)
            self.assertEqual(sum(v > value for v in values), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 11) / (n - 1))

    def test_summary_reports_count_and_median(self):
        s = stats.summary([3.0, 1.0, 2.0])
        self.assertEqual((s["median"], s["n"], s["tail"]), (2.0, 3, None))
        s = stats.summary(range(21))
        self.assertEqual((s["tail"], s["tail_pct"]), (10, 50.0))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(layers.covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(layers.covered([(0, 10)], 2, 4), 2)
        self.assertEqual(layers.covered([]), 0)

    def test_self_time_subtracts_covered_children(self):
        parent = layers.span("round 0", "phase", 0.0, 100.0)
        parent["children"] = [layers.span("a", "job", 10.0, 30.0),
                              layers.span("b", "job", 20.0, 50.0),
                              layers.span("c", "job", 90.0, 120.0)]
        # children cover 10..50 and 90..100 of the parent
        self.assertEqual(layers.self_time(parent), 50.0)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(layers.self_time(layers.span("x", "job", 3, 8)), 5)


def job(name, group="", start=0.0, end=1.0, **counts):
    j = {"name": name, "group": group, "start_ms": start, "end_ms": end,
         "tasks": 4, "cpu_ns": 0, "gc_ms": 0, "result_bytes": 0,
         "input_bytes": 0, "input_records": 0, "shuffle_write_bytes": 0,
         "spill_bytes": 0, "stages": 1}
    j.update(counts)
    return j


class LayerMapping(unittest.TestCase):
    def test_train_jobs_split_by_job_group(self):
        boost = job("aggregate at Trainer.scala:740", "graft-train-1234")
        self.assertEqual(layers.layer_of("train", boost), "boost")
        self.assertEqual(layers.job_kind("boost", boost), "hist")
        tree = job("treeAggregate at Trainer.scala:741", "graft-train-9")
        self.assertEqual(layers.job_kind("boost", tree), "hist")
        metric = job("collect at Metrics.scala:31", "graft-train-9")
        self.assertEqual(layers.job_kind("boost", metric), "eval")
        other = job("count at Trainer.scala:900", "graft-train-9")
        self.assertEqual(layers.job_kind("boost", other), "margin")

    def test_materialize_kinds_from_call_site(self):
        for name, kind in (("collect at Binner.scala:134", "cuts"),
                           ("foreachPartition at GraftBoost.scala:222",
                            "pack"),
                           ("$anonfun$withThreadLocalCaptured$2 at "
                            "CompletableFuture.java:1768", "scan")):
            j = job(name)
            self.assertEqual(layers.layer_of("train", j), "materialize")
            self.assertEqual(layers.job_kind("materialize", j), kind)

    def test_other_calls(self):
        j = job("head at Dedup.scala:778")
        self.assertEqual(layers.layer_of("predict", j), "predict")
        self.assertEqual(layers.layer_of("minhash", j), "ops")
        self.assertEqual(layers.layer_of("bigram_score", j), "ops")
        self.assertEqual(layers.layer_of("warmup", j), "harness")


def train_pass():
    """One pass: train 0..100 ms (materialize until 40, rounds end at 70
    and 95), then predict 100..120."""
    return {
        "start_ms": 0.0, "end_ms": 130.0, "failed": 0,
        "values": {"time_to_target_s": 0.07},
        "calls": [{"name": "train", "start_ms": 0.0, "end_ms": 100.0},
                  {"name": "predict", "start_ms": 100.0, "end_ms": 120.0}],
        "rounds": [{"call": 0, "round": 0, "t_ms": 70.0,
                    "cached_bytes": 1 << 20},
                   {"call": 0, "round": 1, "t_ms": 95.0,
                    "cached_bytes": 1 << 20}],
    }


TRAIN_JOBS = [
    job("count at Workloads.scala:1", start=2, end=12, input_records=500),
    job("collect at Binner.scala:134", start=15, end=20),
    job("foreachPartition at GraftBoost.scala:222", start=22, end=38),
    job("aggregate at Trainer.scala:740", "graft-train-1", 40, 50,
        result_bytes=1 << 20, cpu_ns=10 ** 9),
    job("collect at Metrics.scala:31", "graft-train-1", 55, 60),
    job("aggregate at Trainer.scala:740", "graft-train-1", 72, 90,
        result_bytes=1 << 20),
    job("parquet at Workloads.scala:2", start=101, end=115, tasks=6,
        input_records=500),
]


class SpanTree(unittest.TestCase):
    def test_jobs_land_in_their_phase(self):
        tree = layers.pass_tree(train_pass(), TRAIN_JOBS)
        train, predict = tree["children"]
        names = [ph["name"] for ph in train["children"]]
        self.assertEqual(names, ["materialize", "round 0", "round 1",
                                 "finish"])
        mat, r0, r1, _ = train["children"]
        self.assertEqual((mat["start"], mat["end"]), (0.0, 40.0))
        self.assertEqual(len(mat["children"]), 3)
        self.assertEqual(len(r0["children"]), 2)
        self.assertEqual(len(r1["children"]), 1)
        self.assertEqual(len(predict["children"]), 1)

    def test_pass_metrics(self):
        m = layers.pass_metrics(layers.pass_tree(train_pass(), TRAIN_JOBS))
        self.assertAlmostEqual(m["materialize.s"], 0.040)
        self.assertAlmostEqual(m["materialize.share_of_train"], 0.4)
        self.assertAlmostEqual(m["boost.share_of_train"], 0.55)
        self.assertEqual(m["boost.round_n"], 2)
        self.assertAlmostEqual(m["boost.round_first_s"], 0.030)
        # round 0: 30 ms wall, jobs cover 15 ms -> 15 ms on the driver;
        # round 1: 25 ms wall, 18 ms of jobs -> 7 ms
        self.assertAlmostEqual(m["boost.driver_s_per_round"], 0.011)
        self.assertAlmostEqual(m["boost.hist_s_per_round"], 0.014)
        self.assertEqual(m["boost.group_jobs"], 3)
        self.assertAlmostEqual(m["boost.result_mb_per_round"], 1.0)
        self.assertEqual(m["materialize.jobs"], 3)
        self.assertAlmostEqual(m["materialize.cuts_s"], 0.005)
        self.assertAlmostEqual(m["materialize.pack_s"], 0.016)
        self.assertAlmostEqual(m["data.count_s"], 0.010)
        self.assertEqual(m["data.input_rows"], 1000)
        self.assertEqual(m["predict.tasks"], 6)
        self.assertEqual(m["spark.jobs"], 7)
        self.assertEqual(m["ops.minhash.jobs"], 0)

    def test_per_layer_reports_every_listed_metric(self):
        p = train_pass()
        report = {"threads": 4, "timed": [dict(p, end_ms=100.0)],
                  "traced": [p], "jobs": TRAIN_JOBS,
                  "peak_heap_bytes": 2 << 20}
        out = layers.per_layer(report)
        self.assertEqual(set(out), set(layers.UNITS))
        self.assertAlmostEqual(out["trace.overhead_share"][0], 0.3)
        self.assertEqual(out["boost.scaling_eff"][0], 0.0)
        self.assertEqual(out["jvm.peak_heap_mb"], (2.0, "MiB"))

    def test_overhead_leaves_out_the_first_timed_pass(self):
        p = train_pass()
        # u t u: the first untimed pass runs cold and is not compared
        report = {"threads": 4, "timed": [dict(p, end_ms=500.0),
                                          dict(p, end_ms=100.0)],
                  "traced": [p], "jobs": TRAIN_JOBS, "peak_heap_bytes": 0}
        out = layers.per_layer(report)
        self.assertAlmostEqual(out["trace.overhead_share"][0], 0.3)

    def test_scaling_efficiency(self):
        p = train_pass()
        one = {"rounds": [{"call": 0, "round": 0, "t_ms": 0.0},
                          {"call": 0, "round": 1, "t_ms": 50.0}]}
        report = {"threads": 4, "traced": [p], "single_worker": one}
        # one worker: 50 ms per round; four workers: 25 ms
        self.assertAlmostEqual(layers.scaling_eff(report), 0.5)


METRICS = [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
           {"name": "work_per_s", "unit": "1/s", "better": "higher",
            "bound": 0.2}]


class Steadiness(unittest.TestCase):
    def test_quartiles_match_statistics(self):
        values = [10, 11, 9, 10.5, 12, 8, 10, 10.2, 9.8, 11]
        med, q1, q3, spread = stats.quartile_spread(values)
        self.assertEqual([q1, med, q3], statistics.quantiles(values, n=4)[:1]
                         + [statistics.median(values)]
                         + statistics.quantiles(values, n=4)[2:])
        self.assertAlmostEqual(spread, (q3 - q1) / med)

    def test_steady_sets_pass(self):
        a = {"setup_s": [1.0, 1.1, 0.9, 1.0], "work_per_s": [100, 102, 98, 101]}
        b = {"setup_s": [1.05, 1.0, 1.1, 1.0], "work_per_s": [99, 101, 100, 97]}
        rows = stats.compare_sets(a, b, METRICS)
        self.assertTrue(all(r["ok"] for r in rows))
        self.assertEqual(rows[1]["first"]["median"], 100.5)

    def test_drift_beyond_bound_fails(self):
        a = {"setup_s": [1.0] * 4, "work_per_s": [100, 101, 99, 100]}
        b = {"setup_s": [1.5] * 4, "work_per_s": [70, 71, 69, 70]}
        rows = {r["name"]: r for r in stats.compare_sets(a, b, METRICS)}
        self.assertFalse(rows["setup_s"]["ok"])
        self.assertAlmostEqual(rows["setup_s"]["worse_by"], 0.5)
        self.assertFalse(rows["work_per_s"]["ok"])

    def test_wide_spread_fails(self):
        a = {"setup_s": [1, 3, 1, 3], "work_per_s": [100, 101, 99, 100]}
        b = {"setup_s": [1, 1.1, 0.9, 1], "work_per_s": [50, 150, 50, 150]}
        rows = {r["name"]: r for r in stats.compare_sets(a, b, METRICS)}
        self.assertFalse(rows["setup_s"]["ok"])
        self.assertFalse(rows["work_per_s"]["ok"])
        self.assertAlmostEqual(rows["work_per_s"]["worse_by"], 0.0)


if __name__ == "__main__":
    unittest.main()
