"""Tests of the benchmark's own arithmetic.

Run from the repository root:  python3 -m unittest discover -s perfbench
"""

import json
import os
import statistics
import unittest

import layers
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class NumberTest(unittest.TestCase):
    def test_median_ignores_missing_values(self):
        self.assertEqual(stats.median([3.0, None, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertIsNone(stats.median([None]))

    def test_quartile_spread_uses_statistics_quantiles(self):
        xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / q2)
        self.assertAlmostEqual(stats.quartile_spread(xs), (17.25 - 11.75) / 14.5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)


class SpanTest(unittest.TestCase):
    def test_stage_task_skew_is_max_over_median_of_longest_stage(self):
        stages = [{"start_ms": 0, "end_ms": 100, "task_max_ms": 30, "task_median_ms": 10},
                  {"start_ms": 0, "end_ms": 900, "task_max_ms": 80, "task_median_ms": 40}]
        self.assertEqual(layers._stage_skew(stages), 2.0)
        self.assertEqual(layers._stage_skew([]), 0.0)

    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_of_nested_spans(self):
        # a 10 s round whose stages cover 1-4 and 3-6 (overlapping) and 8-9
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_self_time_clips_children_to_the_parent(self):
        self.assertEqual(stats.self_time((2, 6), [(0, 3), (5, 9)]), 2)

    def test_driver_time_is_round_minus_union_of_stages(self):
        ops = {"start_ms": 1000, "end_ms": 6000}
        stages = [{"start_ms": 1500, "end_ms": 3000}, {"start_ms": 2000, "end_ms": 4000},
                  {"start_ms": 5000, "end_ms": 5500}]
        got = stats.self_time(layers._op_span(ops), [layers._stage_span(s) for s in stages])
        self.assertAlmostEqual(got, 5.0 - 2.5 - 0.5)


class AttributionTest(unittest.TestCase):
    def test_parse_frame_normalises_objects_and_lambdas(self):
        self.assertEqual(stats.parse_frame(
            "graft.frontier.Frontier$.$anonfun$newOnly$2(Frontier.scala:160)"),
            ("graft.frontier.Frontier", "newOnly", 160))
        self.assertEqual(stats.parse_frame(
            "graft.pipeline.Crawler.round(Crawler.scala:436)"),
            ("graft.pipeline.Crawler", "round", 436))
        self.assertIsNone(stats.parse_frame("not a frame"))

    def test_round_jobs_split_by_write_target(self):
        site = "graft.pipeline.Crawler.$anonfun$round$9(Crawler.scala:441)"
        self.assertEqual(stats.attribute(site, "file:/w/crawl/docs/round=3"), "fetch")
        self.assertEqual(stats.attribute(site, "file:/w/crawl/seen/round=3"),
                         "frontier.seen_write")
        self.assertEqual(stats.attribute(site, "file:/w/crawl/politeness/round-3"),
                         "streaming")
        self.assertEqual(stats.attribute(site, ""), "pipeline")

    def test_frames_name_the_layer(self):
        self.assertEqual(stats.attribute(
            "graft.sources.IcebergishTable.$anonfun$commit$4(IcebergishTable.scala:230)"),
            "sources")
        self.assertEqual(stats.attribute(
            "graft.frontier.Frontier$.newOnly(Frontier.scala:160)"), "frontier.seed_dedup")
        self.assertEqual(stats.attribute(
            "graft.frontier.SeenIndex$.setFor(SeenIndex.scala:80)"), "frontier")
        self.assertEqual(stats.attribute(
            "graft.operators.Dedup$.connectedComponents(Dedup.scala:300)"),
            "operators.Dedup")
        self.assertEqual(stats.attribute(
            "graft.functions.GraftExpressions$.register(GraftExpressions.scala:10)"),
            "functions")

    def test_jobs_without_a_program_frame(self):
        # stages an adaptive plan submits from Spark's own threads carry no
        # program frame: the write target still places a commit
        self.assertEqual(stats.attribute("", "file:/w/crawl/frontier/data-r2-1a"), "sources")
        self.assertEqual(stats.attribute("", ""), "client")


def _op(kind, name, wall, cpu=1.0, **extra):
    return dict({"id": f"{kind}-{name}-{wall}", "kind": kind, "name": name, "leg": "ncore",
                 "ok": True, "wall_s": wall, "cpu_s": cpu}, **extra)


class ReductionTest(unittest.TestCase):
    def test_query_metrics_use_per_query_medians(self):
        ops = [_op("cold", "q01_a", 3.0), _op("cold", "q02_b", 5.0),
               _op("query", "q01_a", 1.0), _op("query", "q01_a", 3.0),
               _op("query", "q02_b", 2.0),
               _op("build", "q01_a", 0.1), _op("build", "q01_a", 0.4),
               _op("build", "q01_a", 0.2)]
        res = {"ops": ops, "workload": "queries", "cores": 4, "setups_s": [7.0],
               "facts": {"builders": 1}}
        m = stats.end_to_end(res, expected_queries=2)
        # medians 2.0 and 2.0 s: 2 queries in a 4 s suite
        self.assertAlmostEqual(m["rate_per_s"], 0.5)
        # one read-and-plan builder, median call 0.2 s
        self.assertAlmostEqual(m["ingest_s"], 0.2)
        self.assertAlmostEqual(m["cold_s"], 8.0)
        self.assertIsNone(stats.end_to_end(res, expected_queries=3)["rate_per_s"])
        res["facts"]["builders"] = 2
        self.assertIsNone(stats.end_to_end(res, expected_queries=2)["ingest_s"])

    def test_seed_dedup_is_the_median_seed_call_stage_time(self):
        seeds = [_op("ingest", "addSeedCandidates", w) for w in (1.0, 2.0, 3.0)]
        stages = {o["id"]: [{"start_ms": 0, "end_ms": 1000 * k}, {"start_ms": 0, "end_ms": 500}]
                  for k, o in zip((4, 2, 6), seeds)}
        res = {"ops": seeds, "facts": {"links": 6}, "cores": 4, "probes": {}}
        self.assertEqual(layers.crawl_layers(res, stages)["frontier.seed_dedup_s"], 4.0)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_the_reported_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], stats.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, stats.UNITS)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         layers.PER_LAYER)

    def test_operator_map_reads_query_entries(self):
        used = layers.operator_map(ROOT)
        self.assertIn("Dedup", used["q33"])
        self.assertIn("functions", used["q10"])
        self.assertEqual(used["q01"], set())


if __name__ == "__main__":
    unittest.main()
