"""Tests of the benchmark's pure helpers. Run from the repo root:

    python3 -m unittest discover -s perfbench/tests
"""

import json
import pathlib
import random
import statistics
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import benchlib  # noqa: E402

BENCH = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
CFG = json.loads((HERE.parent / "workloads.json").read_text())


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def op(kind, name, wall, **extra):
    return dict(kind=kind, name=name, t0=0.0, t1=wall, wall_s=wall, error=None, **extra)


def counters(**kv):
    c = {k: 0 for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
                        "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
                        "spill_bytes", "output_bytes", "blocks_dropped",
                        "blocks_demoted", "analysis_ms", "optimization_ms",
                        "planning_ms")}
    c.update(kv)
    return c


def raw_run(traced=False):
    """A small raw record of the shape the harness writes."""
    def with_counters(o, **kv):
        if traced:
            o["counters"] = counters(**kv)
        return o

    q1 = with_counters(op("query", "q_a", 1.0, build_s=0.25, exec_s=0.75,
                          n="3", x="7", s="9"), jobs=4, task_run_ms=2000)
    q2 = with_counters(op("query", "q_b", 3.0, build_s=0.5, exec_s=2.5,
                          n="0", x=None, s=None), jobs=2, task_run_ms=4000)
    if traced:
        q1["build_counters"] = counters(jobs=1)
        q2["build_counters"] = counters()
    appends = [with_counters(op("append", "r00", 0.5, rows=10), jobs=3),
               with_counters(op("append", "redeliver", 0.5, rows=0), jobs=2)]
    pub = with_counters(op("publish", "session_store", 2.0), jobs=5, output_bytes=100)
    return {
        "run_id": "r", "all_queries": ["q_a", "q_b"],
        "setup": {"build_s": 4.0, "s": 6.0, "publish": [pub]},
        "timed_s": 5.5, "query_phase_s": 4.5,
        "appends": appends, "queries": [q1, q2],
        "ingest_check": {"offered": [10, 10],
                         "distinct_ids": 10, "sink_rows": 10, "bytes_written": 50},
        "publish_in_query": [], "cache_peak_bytes": 1048576,
        "cache_entries_peak": 2, "rss_hwm_kb": 2048,
        "spans": [span(1, 0, "run", 0.0, 10.0), span(2, 1, "query:q_a", 1.0, 2.0)],
    }


EXPECTED = {"q_a": {"rows": "3", "xor": "7", "sum": "9"},
            "q_b": {"rows": "0", "xor": None, "sum": None}}


class PercentileRule(unittest.TestCase):
    def test_harrell_davis(self):
        self.assertEqual(benchlib.hd_quantile([4.0], 0.5), 4.0)
        self.assertAlmostEqual(benchlib.hd_quantile([1.0, 3.0], 0.5), 2.0, places=6)
        # symmetric data: the median estimate is the centre
        self.assertAlmostEqual(benchlib.hd_quantile([1, 2, 4, 6, 7], 0.5), 4.0, places=6)
        # it lies between the sample's quartiles ...
        rng = random.Random(3)
        xs = [rng.lognormvariate(0, 0.5) for _ in range(30)]
        q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertTrue(q1 <= benchlib.hd_quantile(xs, 0.5) <= q3)
        # ... converges to the sample quantile on many samples ...
        big = [rng.random() for _ in range(2000)]
        self.assertAlmostEqual(benchlib.hd_quantile(big, 0.75),
                               statistics.quantiles(big, n=4, method="inclusive")[2],
                               delta=0.01)
        self.assertAlmostEqual(benchlib.hd_quantile(big, 0.5), statistics.median(big),
                               delta=0.01)
        # ... and moves less than one order statistic when a gap sits at
        # the median and one value crosses it
        a = [0.5] * 7 + [1.0] * 8
        b = [0.5] * 8 + [1.0] * 7
        self.assertEqual(statistics.median(b) - statistics.median(a), -0.5)
        self.assertLess(abs(benchlib.hd_quantile(b, 0.5) - benchlib.hd_quantile(a, 0.5)), 0.2)

    def test_samples_beyond(self):
        # ten samples lie beyond p75 from 38 on, and beyond p90 from 101 on
        self.assertEqual(benchlib.beyond(40, 0.75), 10)
        self.assertEqual(benchlib.beyond(38, 0.75), 10)
        self.assertEqual(benchlib.beyond(37, 0.75), 9)
        self.assertEqual(benchlib.beyond(101, 0.90), 10)
        self.assertEqual(benchlib.beyond(20, 0.5), 10)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "query:q", 0.0, 10.0),
                 span(2, 1, "build", 1.0, 3.0),
                 span(3, 1, "exec", 2.0, 5.0),
                 span(4, 1, "plan", 8.0, 12.0)]  # clipped to the parent
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st["query"], 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(st["build"], 2.0)
        self.assertAlmostEqual(st["exec"], 3.0)
        self.assertAlmostEqual(st["plan"], 4.0)

    def test_kinds_sum_and_nesting(self):
        spans = [span(1, 0, "run", 0.0, 20.0),
                 span(2, 1, "query:a", 0.0, 5.0),
                 span(3, 2, "exec", 1.0, 5.0),
                 span(4, 3, "job:1", 2.0, 3.0),
                 span(5, 3, "job:2", 3.0, 4.0),
                 span(6, 1, "query:b", 6.0, 8.0)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st["run"], 20.0 - 5.0 - 2.0)
        self.assertAlmostEqual(st["query"], 1.0 + 2.0)
        self.assertAlmostEqual(st["exec"], 4.0 - 2.0)
        self.assertAlmostEqual(st["job"], 1.0 + 1.0)
        # self times of a tree add up to the root's duration
        self.assertAlmostEqual(sum(st.values()), 20.0)


class Partition(unittest.TestCase):
    def test_exact_cover(self):
        counts = benchlib.check_partition({"a": ["q1", "q2"], "b": ["q3"]},
                                          ["q1", "q2", "q3"])
        self.assertEqual(counts, {"a": 2, "b": 1})

    def test_failures_are_named(self):
        with self.assertRaisesRegex(benchlib.PartitionError, "q2 is in both a and b"):
            benchlib.check_partition({"a": ["q1", "q2"], "b": ["q2"]}, ["q1", "q2"])
        with self.assertRaisesRegex(benchlib.PartitionError, "q3 is in no workload"):
            benchlib.check_partition({"a": ["q1", "q2"]}, ["q1", "q2", "q3"])
        with self.assertRaisesRegex(benchlib.PartitionError, "q9 .a. is not a query"):
            benchlib.check_partition({"a": ["q1", "q9"]}, ["q1"])

    def test_frozen_lists(self):
        lists = {w: v["queries"] for w, v in CFG["workloads"].items()}
        names = list(CFG["modules"])
        counts = benchlib.check_partition(lists, names)
        self.assertEqual(counts, {"ga_etl": 144, "stats_tier": 127, "llm_curation": 101})
        # the rule that froze them: the implementing module, except that
        # a non-LLM query whose plan holds a Dist-tier function is stats_tier
        llm = set(CFG["workloads"]["llm_curation"]["modules"])
        for w, v in CFG["workloads"].items():
            for q in v["queries"]:
                mod = CFG["modules"][q]
                if mod in v["modules"]:
                    continue
                self.assertEqual(w, "stats_tier", q)
                self.assertIn(q, CFG["dist"])
                self.assertNotIn(mod, llm)
            if w == "ga_etl":
                self.assertFalse(set(v["queries"]) & set(CFG["dist"]))
            self.assertEqual(sorted(v["sample_order"]), sorted(v["queries"]))
            self.assertEqual(v["sample_order"][0], v["queries"][0])


class Planning(unittest.TestCase):
    def test_timed_prefix(self):
        ref = {"a": 1.0, "b": 2.0, "c": 3.0}
        self.assertEqual(benchlib.timed_queries(["a", "b", "c"], ref, 2.5), ["a", "b"])
        self.assertEqual(benchlib.timed_queries(["a", "b", "c"], ref, 99), ["a", "b", "c"])

    def test_seeded_order(self):
        qs = [f"q{i}" for i in range(30)]
        a, b = benchlib.seeded_order(qs, 1), benchlib.seeded_order(qs, 2)
        self.assertEqual(a, benchlib.seeded_order(qs, 1))
        self.assertEqual(a[0], "q0")
        self.assertEqual(sorted(a), sorted(qs))
        self.assertNotEqual(a, b)
        self.assertTrue(all(abs(a.index(q) - qs.index(q)) <= 3 for q in qs))

    def test_ingest_schedule(self):
        cuts, r = benchlib.ingest_schedule("2024-01-20", "2024-01-29", 5)
        self.assertEqual(len(cuts), 10)
        self.assertTrue(all(b - a == 86_400_000_000 for a, b in zip(cuts, cuts[1:])))
        self.assertTrue(0 <= r <= 10)
        self.assertEqual((cuts, r), benchlib.ingest_schedule("2024-01-20", "2024-01-29", 5))

    def test_fixtures_for(self):
        fx = {"q1": ["session_store"], "q2": ["stream_source", "gated_streams"]}
        order = ["session_store", "layout", "stream_source", "gated_streams"]
        self.assertEqual(benchlib.fixtures_for(["q2", "q1", "q3"], fx, order),
                         (["session_store", "stream_source"], ["q2"]))


class Checks(unittest.TestCase):
    def test_clean_run(self):
        attempted, failures = benchlib.check_run(raw_run(), EXPECTED)
        self.assertEqual((attempted, failures), (5, []))

    def test_each_problem_is_one_named_failure(self):
        raw = raw_run()
        raw["queries"][0]["x"] = "8"
        raw["queries"][1]["error"] = "java.lang.RuntimeException: boom"
        raw["appends"][1]["rows"] = 4
        raw["ingest_check"]["sink_rows"] = 11
        raw["publish_in_query"] = ["graft_e2_x"]
        _, failures = benchlib.check_run(raw, EXPECTED)
        self.assertEqual([f for f, _ in failures],
                         ["append:redeliver", "ingest:sink", "query:q_a",
                          "query:q_b", "setup"])
        self.assertIn("content hash", dict(failures)["query:q_a"])
        self.assertIn("RuntimeException", dict(failures)["query:q_b"])


class Metrics(unittest.TestCase):
    def test_end_to_end_names_match_the_benchmark(self):
        m = benchlib.end_to_end(raw_run())
        spec = {x["name"]: x["unit"] for x in BENCH["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in m.items()}, spec)
        self.assertAlmostEqual(m["queries_per_s"][0], 2 / 4.5)
        self.assertAlmostEqual(m["query_p50_s"][0], 2.0, places=6)
        self.assertAlmostEqual(m["cache_peak_mb"][0], 1.0)
        self.assertTrue(all(v > 0 for v, _ in m.values()))

    def test_per_layer_names_match_the_benchmark(self):
        cfg = dict(CFG, dist=["q_b"])
        m = benchlib.per_layer(raw_run(True), 5.5, cfg)
        spec = {x["name"]: x["unit"] for x in BENCH["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in m.items()}, spec)
        self.assertEqual(m["exec.jobs"][0], 4 + 2 + 3 + 2)
        self.assertEqual(m["functions.Dist.jobs"][0], 2)
        self.assertEqual(m["operators.build_jobs"][0], 1)
        self.assertAlmostEqual(m["exec.core_util"][0], 6.0 / (4 * 5.0))
        self.assertAlmostEqual(m["exec.round_s"][0], 5.0 - 6.0 / 4)
        self.assertAlmostEqual(m["IngestOps.useful_ratio"][0], 10 / 20)
        self.assertAlmostEqual(m["tracing.overhead_s"][0], 0.0)


class ResultLine(unittest.TestCase):
    def test_exact_shape(self):
        line = benchlib.result_line(True, 12, 0, {"run_s": (1.23456789, "s"),
                                                  "exec.jobs": (7, "count")})
        d = json.loads(line)
        self.assertEqual(list(d), ["correct", "attempted", "failed", "metrics"])
        self.assertIs(d["correct"], True)
        self.assertEqual(d["metrics"]["run_s"], {"value": 1.23456789, "unit": "s"})
        self.assertEqual(d["metrics"]["exec.jobs"], {"value": 7.0, "unit": "count"})
        self.assertNotIn("\n", line)


if __name__ == "__main__":
    unittest.main()
