"""Tests of the call-site-to-layer mapping, the input generator and the
build's source digest.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import csv
import json
import os
import tempfile
import unittest

import buckets
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = ("perfbench.Harness$.$anonfun$etlPass$2(Harness.scala:115)\n"
           "scala.Console$.withOut(Console.scala:164)\n"
           "perfbench.Harness$.main(Harness.scala:161)")


def site(*frames):
    return "\n".join(frames + (HARNESS,))


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


class EtlBucketTest(unittest.TestCase):
    def test_writes_go_to_the_function_that_issues_them(self):
        self.assertEqual("etl.writeParquet", buckets.etl_bucket(site(
            "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
            "graft.etl.SalesPipeline$.writeParquet(SalesPipeline.scala:73)",
            "graft.etl.RunSalesPipeline$.main(RunSalesPipeline.scala:30)")))

    def test_a_lambda_counts_as_its_enclosing_method(self):
        self.assertEqual("etl.writeReportTables", buckets.etl_bucket(site(
            "graft.etl.SalesPipeline$.$anonfun$writeReportTables$1(SalesPipeline.scala:95)",
            "graft.etl.SalesPipeline$.$anonfun$writeReportTables$1$adapted(SalesPipeline.scala:94)",
            "scala.collection.immutable.List.foreach(List.scala:334)",
            "graft.etl.SalesPipeline$.writeReportTables(SalesPipeline.scala:94)",
            "graft.etl.RunSalesPipeline$.main(RunSalesPipeline.scala:31)")))

    def test_innermost_owner_wins(self):
        self.assertEqual("etl.run", buckets.etl_bucket(site(
            "graft.etl.Cleaning$.withRowIdx(Cleaning.scala:33)",
            "graft.etl.Cleaning$.dedupKeepFirst(Cleaning.scala:47)",
            "graft.etl.ProdutosEtl$.treat(ProdutosEtl.scala:49)",
            "graft.etl.SalesPipeline$.run(SalesPipeline.scala:34)",
            "graft.etl.RunSalesPipeline$.main(RunSalesPipeline.scala:24)")))
        self.assertEqual("etl.ReportModel", buckets.etl_bucket(site(
            "graft.etl.ReportModel$.build(ReportModel.scala:40)",
            "graft.etl.RunSalesPipeline$.main(RunSalesPipeline.scala:34)")))

    def test_unowned_frames_fall_through_to_main(self):
        self.assertEqual("etl.main", buckets.etl_bucket(site(
            "graft.etl.EtlStats$.profile(EtlStats.scala:30)",
            "graft.etl.RunSalesPipeline$.main(RunSalesPipeline.scala:57)")))
        self.assertEqual("etl.main", buckets.etl_bucket(
            "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$1(SQLExecution.scala:300)"))


class RegistryBucketTest(unittest.TestCase):
    MODS = {"q1": "SalesAnalytics", "clus": "DedupOps", "asj": "StatOps",
            "mmm": "MultimodalOps", "prk": "GraphOps"}

    def bucket(self, kind, key, *frames):
        return buckets.registry_bucket(kind, key, site(*frames), self.MODS)

    def test_stage_scope_and_stage_builds(self):
        self.assertEqual("registry.stages", self.bucket("stage", "clearCaches"))
        self.assertEqual("registry.stages", self.bucket(
            "key", "clus",
            "graft.operators.DedupOps$.$anonfun$clusterLabels$3(DedupOps.scala:700)",
            "graft.operators.OpCaches$.memoPinned(OpCaches.scala:104)",
            "graft.operators.DedupOps$.memoStage(DedupOps.scala:109)"))

    def test_plan_extension_keys(self):
        self.assertEqual("registry.plans", self.bucket("key", "asj"))
        self.assertEqual("registry.plans", self.bucket("key", "rjk"))

    def test_issuing_module_then_key_module(self):
        self.assertEqual("registry.GraphOps", self.bucket(
            "key", "q1", "graft.operators.GraphOps$.pageRank(GraphOps.scala:80)"))
        self.assertEqual("registry.SalesAnalytics", self.bucket("key", "q1"))
        self.assertEqual("registry.other", self.bucket("key", "mmm"))
        self.assertEqual("registry.other", self.bucket("key", "unknown"))

    def test_key_modules_parse(self):
        src = ('object SparkEntry {\n  def queries: Map[String, X] = Map(\n'
               '    "q1" -> (SalesAnalytics.q1RevenueByCustomer _),\n'
               '    "tdata"    -> ((s: SparkSession, d: String) => PipelineOps.trainingData(s, d)),\n'
               '    "gapf" ->\n      (TimeSeriesOps.gapFill _),\n  )\n'
               '  def oracleSql: Map[String, String] = Map(\n    "q1" -> "SELECT 1")\n}')
        self.assertEqual({"q1": "SalesAnalytics", "tdata": "PipelineOps",
                          "gapf": "TimeSeriesOps"}, buckets.key_modules(src))

    def test_every_benchmarked_key_is_registered_and_checkable(self):
        entry = os.path.join(HERE, "..", "src", "main", "scala", "graft", "SparkEntry.scala")
        if not os.path.exists(entry):
            self.skipTest("engine sources not present")
        mods = buckets.key_modules(read(entry))
        correctness = json.loads(read(os.path.join(HERE, "..", "CORRECTNESS_r19.json")))
        rows = {k: v["oracle_rows"] for k, v in correctness.items()}
        keys = [l.strip() for l in read(os.path.join(HERE, "registry_keys.txt")).splitlines()
                if l.strip() and not l.startswith("#")]
        self.assertEqual(set(mods), set(rows))
        for k in keys:
            self.assertIn(k, mods)
        covered = {buckets.registry_bucket("key", k, "", mods) for k in keys}
        self.assertEqual(set(buckets.REGISTRY_BUCKETS) - {"registry.stages"}, covered)


class MetricNamesTest(unittest.TestCase):
    def test_traced_run_reports_the_declared_per_layer_metrics(self):
        declared = json.loads(read(os.path.join(HERE, "..", "BENCHMARK.json")))["per_layer"]
        self.assertEqual([m["name"] for m in declared], buckets.layer_metric_names())


class SourceDigestTest(unittest.TestCase):
    def test_any_engine_source_edit_changes_the_digest(self):
        with tempfile.TemporaryDirectory() as root:
            pkg = os.path.join(root, "src", "main", "scala", "graft")
            os.makedirs(pkg)
            src = os.path.join(pkg, "A.scala")
            with open(src, "w") as f:
                f.write("object A")
            before = run.source_digest(root)
            self.assertEqual(before, run.source_digest(root))
            with open(src, "a") as f:
                f.write(" { val x = 1 }")
            edited = run.source_digest(root)
            self.assertNotEqual(before, edited)
            with open(os.path.join(pkg, "B.scala"), "w") as f:
                f.write("object B")
            self.assertNotEqual(edited, run.source_digest(root))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs_and_reference_shape(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            inv = gen.generate(a, 1000, 5)
            self.assertEqual(inv, gen.generate(b, 1000, 5))
            for f in ("produtos.csv", "vendas.csv", "empregados.csv"):
                self.assertEqual(read(os.path.join(a, f)), read(os.path.join(b, f)))
            self.assertEqual(1343, inv["raw_rows"])  # 210 + 1025 + 108, as the reference
            with open(os.path.join(a, "vendas.csv"), encoding="utf-8") as f:
                rows = list(csv.DictReader(f, delimiter=";"))
            ids = [r["id_venda"] for r in rows]
            self.assertEqual(25, len(ids) - len(set(ids)))
            self.assertTrue(all((r["valor_unitario"] == "") == (r["valor_total"] == "") for r in rows))


if __name__ == "__main__":
    unittest.main()
