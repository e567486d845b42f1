"""Self-checks for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

They need no JVM: they cover the interval arithmetic behind
`spark.driver_gap_s` and the self times, the call-site -> layer mapping,
and the seeded generators.
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import report  # noqa: E402

SRC = os.path.join(os.path.dirname(os.path.dirname(HERE)), "src", "main", "scala")


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(report.union([(3, 5), (0, 1), (1, 2), (4, 7)]), [(0, 2), (3, 7)])

    def test_union_drops_empty(self):
        self.assertEqual(report.union([(2, 2), (5, 4)]), [])

    def test_length_counts_overlap_once(self):
        self.assertAlmostEqual(report.length([(0, 4), (2, 6), (10, 11)]), 7)

    def test_minus(self):
        # [0,10] less jobs [1,3] and [2,5] and [9,12] leaves 1 + 4 + 0 + ... = 5
        self.assertAlmostEqual(report.minus([(0, 10)], [(1, 3), (2, 5), (9, 12)]), 5)
        self.assertAlmostEqual(report.minus([(0, 2), (4, 6)], []), 4)
        self.assertAlmostEqual(report.minus([(0, 2)], [(-1, 3)]), 0)

    def test_clip(self):
        self.assertEqual(report.clip([(0, 5), (6, 7), (8, 20)], 4, 10), [(4, 5), (6, 7), (8, 10)])

    def test_driver_gap_of_an_op(self):
        # op of 10 s with jobs covering [1,3] and [2,6]: 5 s cluster, 5 s gap
        run = {"cpus": 4, "heap_peak_mb": 1.0, "storage_peak_mb": 0.0,
               "passes": [{"pass": 1, "traced": True, "s": 10.0}],
               "op_runs": [{"pass": 1, "op": "a", "traced": True, "s": 10.0, "start": 0,
                            "end": 10000, "memo_live": 0, "outcome": {}}]}
        jobs = [dict(level="job", layer="spark", name="", start=s, end=e, op="a", pass_=1,
                     stages=1, tasks=4, run_ms=1000, cpu_ns=0, gc_ms=0, shuffle_read_b=0,
                     shuffle_write_b=0, spill_b=0) for s, e in ((1, 3), (2, 6))]
        m = report.per_layer(run, jobs, ["a"])
        self.assertAlmostEqual(m["spark.job_s"], 5)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 5)
        self.assertAlmostEqual(m["op.a.driver_gap_s"], 5)
        self.assertAlmostEqual(m["spark.core_busy"], 2 / (5 * 4))

    def test_memo_entries_left_by_earlier_ops_are_counted(self):
        # two traced passes; the ops found 3 and then 1 memo entries live
        run = {"cpus": 4, "heap_peak_mb": 1.0, "storage_peak_mb": 0.0,
               "passes": [{"pass": p, "traced": True, "s": 1.0} for p in (1, 2)],
               "op_runs": [{"pass": p, "op": "a", "traced": True, "s": 1.0, "start": 0,
                            "end": 1000, "memo_live": k, "outcome": {}} for p, k in ((1, 3), (2, 1))]}
        self.assertAlmostEqual(report.per_layer(run, [], ["a"])["queries.memo_hits"], 2)

    def test_self_time_subtracts_deeper_spans_only(self):
        sp = [dict(level="op", layer="bench", start=0, end=10, op="a", pass_=1),
              dict(level="call", layer="ml", start=1, end=9, op="a", pass_=1),
              dict(level="exec", layer="ml", start=2, end=6, op="a", pass_=1),
              dict(level="job", layer="spark", start=3, end=5, op="a", pass_=1)]
        report.self_times(sp)
        self.assertEqual([s["self"] for s in sp], [2, 4, 2, 2])


class LayerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        for rel in ("graft/graph/KCore.scala", "graft/ml/FixedEffects.scala",
                    "graft/Bench.scala", "org/apache/spark/sql/graftbridge/Bridge.scala"):
            os.makedirs(os.path.join(root, os.path.dirname(rel)), exist_ok=True)
            with open(os.path.join(root, rel), "w") as f:
                f.write("object X {\n  def truncate(df: DataFrame) = df\n  def iterCheckpointKeyed(df: DataFrame) = df\n}\n")
        self.index = report.layer_index(root)
        self.bridge = report.bridge_entries(root)

    def tearDown(self):
        self.tmp.cleanup()

    def classify(self, desc):
        return report.classify(desc, self.index, self.bridge, {"Main"})

    def test_index(self):
        self.assertEqual(self.index, {"KCore": "graph", "FixedEffects": "ml", "Bench": "graft",
                                      "Bridge": "graftbridge"})

    def test_bridge_entry_is_a_materialization_of_the_caller(self):
        self.assertEqual(self.classify("iterCheckpointKeyed at KCore.scala:74"), ("graph", "bridge"))
        self.assertEqual(self.classify("truncate at FixedEffects.scala:837"), ("ml", "bridge"))

    def test_raw_checkpoint(self):
        self.assertEqual(self.classify("localCheckpoint at KCore.scala:56"), ("graph", "checkpoint"))

    def test_plain_action_and_harness_and_unknown(self):
        self.assertEqual(self.classify("count at FixedEffects.scala:500"), ("ml", "action"))
        self.assertEqual(self.classify("collect at Main.scala:12"), ("bench", "action"))
        self.assertEqual(self.classify("collect at Elsewhere.scala:1"), ("other", "action"))
        self.assertEqual(self.classify(""), ("other", "action"))
        self.assertEqual(self.classify(None), ("other", "action"))

    @unittest.skipUnless(os.path.isdir(SRC), "library sources not present")
    def test_real_tree(self):
        index = report.layer_index(SRC)
        self.assertEqual(index["KCore"], "graph")
        self.assertEqual(index["MinHashLsh"], "dedup")
        self.assertEqual(index["Grouped"], "ops")
        self.assertEqual(index["PipelineQueries"], "queries")
        self.assertTrue({"iterCheckpointKeyed", "truncate", "staticCheckpointKeyed"}
                        <= report.bridge_entries(SRC))


class GeneratorTest(unittest.TestCase):
    def test_panel_is_deterministic_per_seed(self):
        a, fa = gen.panel(5, 300, 10)
        b, fb = gen.panel(5, 300, 10)
        c, _ = gen.panel(6, 300, 10)
        self.assertTrue(a.equals(b))
        self.assertEqual(fa, fb)
        self.assertFalse(a.equals(c))

    def test_panel_facts(self):
        t, f = gen.panel(3, 400, 20)
        cols = t.to_pydict()
        self.assertEqual(f["rows"], len(cols["y"]))
        self.assertEqual(f["rows"], 400 * gen.YEARS)
        cells = {(fi, y) for fi, y in zip(cols["firm"], cols["year"])}
        self.assertEqual(f["firm_year_cells"], len(cells))
        # every worker has exactly YEARS rows, one per year
        self.assertEqual(len(set(zip(cols["worker"], cols["year"]))), f["rows"])

    def test_tables_and_documents_are_deterministic(self):
        t1, _ = gen.tpch(9, 0.1)
        t2, _ = gen.tpch(9, 0.1)
        self.assertTrue(all(t1[k].equals(t2[k]) for k in t1))
        d1, _ = gen.documents(9, 50)
        d2, _ = gen.documents(9, 50)
        self.assertTrue(d1.equals(d2))

    def test_kcore_peel_takes_one_round_per_chain_layer(self):
        # synchronous peel of q186's co-order part graph, as KCore runs it
        for seed in (1, 2):
            li = gen.tpch(seed, 0.5)[0]["lineitem"].to_pydict()
            by_order = {}
            for o, p in zip(li["l_orderkey"], li["l_partkey"]):
                by_order.setdefault(o, set()).add(p)
            nb = {}
            for parts in by_order.values():
                for p in parts:
                    nb.setdefault(p, set()).update(parts - {p})
            alive, rounds = {p for p in nb if nb[p]}, 0
            while True:
                keep = {p for p in alive if len(nb[p] & alive) >= gen.KCORE_K}
                if keep == alive:
                    break
                alive, rounds = keep, rounds + 1
            self.assertEqual(rounds, gen.PEEL_LAYERS)
            self.assertGreater(len(alive), 0)

    def test_written_files_are_byte_identical(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("fe_panel", 4, os.path.join(d, "a"), dict(
                workers=100, firms=10, pois_workers=50, pois_firms=5, pois_movers=0.3, small_workers=20,
                small_firms=4, small_movers=1.0))
            gen.generate("fe_panel", 4, os.path.join(d, "b"), dict(
                workers=100, firms=10, pois_workers=50, pois_firms=5, pois_movers=0.3, small_workers=20,
                small_firms=4, small_movers=1.0))
            for name in ("panel.parquet", "panel_pois.parquet", "panel_small.parquet"):
                with open(os.path.join(d, "a", name), "rb") as fa, open(os.path.join(d, "b", name), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())


if __name__ == "__main__":
    unittest.main()
