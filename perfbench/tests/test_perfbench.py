"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import math
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd  # noqa: E402

import analysis  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS, orders  # noqa: E402

# the long-form call site Spark records for a stage, innermost frame first
DETAILS_DEDUP = """org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:812)
graft.dedup.DedupClusters$.starRound(DedupClusters.scala:210)
graft.dedup.DedupClusters$.componentsAuto(DedupClusters.scala:120)
graft.SparkEntry$.$anonfun$queries$45(SparkEntry.scala:2210)
graft.perfbench.Runner$$anon$1.call(Runner.scala:104)
java.base/java.util.concurrent.FutureTask.run(FutureTask.java:264)"""
DETAILS_EXEC = """org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:251)
graft.perfbench.Runner$.noop$1(Runner.scala:88)
graft.perfbench.Runner$$anon$1.call(Runner.scala:106)"""
DETAILS_POOL = """org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:812)
graft.CachePool$.pinCheckpoint(CachePool.scala:108)
graft.SparkEntry$.pin(SparkEntry.scala:55)"""
DETAILS_NONE = """org.apache.spark.sql.execution.exchange.BroadcastExchangeExec.doExecute(x.scala:1)
java.base/java.lang.Thread.run(Thread.java:840)"""


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(analysis.union_length([(0, 10), (5, 15), (20, 25), (21, 22)]), 20)

    def test_union_of_nothing_and_empty_intervals(self):
        self.assertEqual(analysis.union_length([]), 0)
        self.assertEqual(analysis.union_length([(3, 3), (5, 4)]), 0)

    def test_union_touching_intervals(self):
        self.assertEqual(analysis.union_length([(0, 5), (5, 7)]), 7)

    def test_self_time_subtracts_covered_part_only(self):
        # children overlap each other and stick out of the span
        self.assertEqual(analysis.self_time((10, 30), [(5, 12), (11, 15), (25, 40)]), 10)

    def test_self_time_without_children_is_duration(self):
        self.assertEqual(analysis.self_time((1, 4), []), 3)

    def test_query_breakdown_accounts_for_wall(self):
        q = {"start": 0.0, "build_end": 400.0, "exec_end": 900.0,
             "release_start": 950.0, "end": 1000.0}
        jobs = [{"start": 100.0, "end": 300.0}, {"start": 250.0, "end": 500.0},
                {"start": 600.0, "end": 1200.0}]
        b = analysis.query_breakdown(q, jobs)
        parts = b["build_s"] + b["exec_s"] + b["release_s"] + b["harness_s"]
        self.assertAlmostEqual(parts, b["wall_s"])
        self.assertAlmostEqual(b["in_jobs_s"], 0.8)
        self.assertAlmostEqual(b["in_jobs_s"] + b["outside_jobs_s"], b["wall_s"])

    def test_stage_owner_is_first_job(self):
        jobs = [{"id": 7, "stages": [3, 4]}, {"id": 5, "stages": [1, 3]}]
        self.assertEqual(analysis.stage_owners(jobs), {1: 5, 3: 5, 4: 7})


class AttributionTest(unittest.TestCase):
    def test_first_graft_frame_names_module(self):
        self.assertEqual(analysis.module_of(DETAILS_DEDUP, False, False), "dedup")

    def test_final_action_goes_to_spark_entry(self):
        self.assertEqual(analysis.module_of(DETAILS_EXEC, False, True), "SparkEntry")

    def test_top_level_object_is_its_own_module(self):
        self.assertEqual(analysis.module_of(DETAILS_POOL, False, False), "CachePool")

    def test_streaming_jobs_go_to_streaming(self):
        self.assertEqual(analysis.module_of(DETAILS_NONE, True, True), "streaming")

    def test_adaptive_job_takes_its_sql_execution_call_site(self):
        self.assertEqual(analysis.module_of(DETAILS_NONE, False, False, DETAILS_DEDUP), "dedup")
        self.assertEqual(analysis.module_of(DETAILS_NONE, False, True, DETAILS_EXEC), "SparkEntry")

    def test_no_graft_frame(self):
        self.assertEqual(analysis.module_of(DETAILS_NONE, False, True), "SparkEntry")
        self.assertEqual(analysis.module_of(DETAILS_NONE, False, False), "engine")


class OracleTest(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        got = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
        exp = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
        self.assertEqual(oracle.compare(got, exp), "")

    def test_cells_compare_exactly(self):
        got = pd.DataFrame({"a": [0.1 + 0.2]})
        exp = pd.DataFrame({"a": [0.3]})
        self.assertIn("value mismatch", oracle.compare(got, exp))

    def test_nan_and_null_match_themselves(self):
        got = pd.DataFrame({"a": [math.nan], "b": [None]})
        exp = pd.DataFrame({"a": [math.nan], "b": [None]})
        self.assertEqual(oracle.compare(got, exp), "")

    def test_row_count_and_columns_are_checked(self):
        self.assertIn("rows", oracle.compare(pd.DataFrame({"a": [1, 2]}),
                                             pd.DataFrame({"a": [1]})))
        self.assertIn("columns", oracle.compare(pd.DataFrame({"a": [1]}),
                                                pd.DataFrame({"b": [1]})))


class SeedTest(unittest.TestCase):
    def test_order_is_a_deterministic_permutation(self):
        for w in WORKLOADS:
            a, b = orders(w, 7, 5), orders(w, 7, 5)
            self.assertEqual(a, b)
            self.assertEqual(len(a), 5)
            for o in a:
                self.assertEqual(sorted(o), sorted(WORKLOADS[w]["queries"]))

    def test_other_seed_other_order(self):
        self.assertNotEqual(orders("geo_etl", 1, 8), orders("geo_etl", 2, 8))

    def test_inputs_depend_only_on_seed(self):
        sizes = {"customer": 20, "supplier": 5, "part": 10, "orders": 30, "lineitem": 60,
                 "events": 40, "documents": 30, "embeddings": 12}
        names = list(gen.BUILDERS)
        a, b, c = gen.tables(3, sizes, names), gen.tables(3, sizes, names), gen.tables(4, sizes, names)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(a["customer"].equals(c["customer"]))
        self.assertEqual(a["documents"].num_rows, 30)

    def test_a_table_does_not_depend_on_the_others_generated(self):
        sizes = {"customer": 20, "orders": 30}
        alone = gen.tables(3, sizes, ["orders"])
        both = gen.tables(3, sizes, ["customer", "orders"])
        self.assertEqual(list(alone), ["orders"])
        self.assertTrue(alone["orders"].equals(both["orders"]))


if __name__ == "__main__":
    unittest.main()
