#!/usr/bin/env python3
"""Tests of the benchmark itself: its spec, its query table, its input
generator and its pipeline output check.

    python3 perfbench/test_perfbench.py

Run from the root of the source tree; builds the engine and the harness
first if needed (as run.py does).
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# layers the catalog queries are tagged with (Layers.catalog in src/Main.scala),
# each with plan_s/exec_s metrics
CATALOG_LAYERS = {"ml", "dedup", "text", "sketch", "web", "spark"}


def load_spec():
    with open(os.path.join(run.BENCH_DIR, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def load_queries():
    with open(os.path.join(run.BENCH_DIR, "queries.tsv")) as fh:
        return [line.rstrip("\n").split("\t") for line in fh
                if line.strip() and not line.startswith("#")]


class SpecTest(unittest.TestCase):
    def test_metric_names_and_units(self):
        spec = load_spec()
        metrics = spec["end_to_end"] + spec["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)), "names must be unique")
        for n in names:
            self.assertRegex(n, NAME)
        for m in metrics:
            self.assertRegex(m["unit"], UNIT)
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in spec["end_to_end"])}])

    def test_every_query_has_one_layer_and_a_known_workload(self):
        workloads = {w["name"] for w in load_spec()["workloads"]}
        rows = load_queries()
        for row in rows:
            self.assertEqual(len(row), 3, f"workload, query, layer: {row}")
            self.assertIn(row[0], workloads)
            self.assertIn(row[2], CATALOG_LAYERS)
        queries = [r[1] for r in rows]
        self.assertEqual(len(queries), len(set(queries)), "a query is listed once")
        self.assertEqual({r[2] for r in rows}, CATALOG_LAYERS, "every catalog layer is tagged")

    def test_plan_and_exec_metrics_only_for_catalog_layers(self):
        split = {m["name"].split(".")[0] for m in load_spec()["per_layer"]
                 if m["name"].endswith((".plan_s", ".exec_s"))}
        self.assertEqual(split, CATALOG_LAYERS)

    def test_every_query_has_a_pinned_result(self):
        with open(os.path.join(run.BENCH_DIR, "expected_digests.json")) as fh:
            pinned = json.load(fh)["digests"]
        self.assertEqual(set(pinned), {r[1] for r in load_queries()})


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath, _ = run.build(run.spark_jars())
        cls.work = os.path.join(run.BUILD, "test")
        shutil.rmtree(cls.work, ignore_errors=True)
        os.makedirs(os.path.join(cls.work, "tmp"))

    def harness(self, *args):
        subprocess.run(run.java_cmd(self.classpath, self.work, "1g") + list(args),
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)

    def test_every_query_is_in_the_catalog_with_oracle_sql(self):
        out = os.path.join(self.work, "info.json")
        self.harness("--catalog-info", os.path.join(run.BENCH_DIR, "queries.tsv"), out)
        with open(out) as fh:
            info = json.load(fh)
        for q, v in info.items():
            self.assertTrue(v["in_catalog"], q)
            self.assertTrue(v["oracle_sql"], q)

    def test_generator_is_deterministic_per_seed(self):
        dirs = {}
        for name, seed in (("a", "7"), ("b", "7"), ("c", "8")):
            dirs[name] = os.path.join(self.work, f"gen_{name}")
            self.harness("--gen", dirs[name], seed, "900")
        files = sorted(os.listdir(dirs["a"]))
        self.assertEqual(files, ["ensembl.csv", "mapping.csv", "opentargets.jsonl",
                                 "planted.tsv", "series_matrix.txt"])
        match, mismatch, errors = filecmp.cmpfiles(dirs["a"], dirs["b"], files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []), "same seed, same bytes")
        match, mismatch, errors = filecmp.cmpfiles(dirs["a"], dirs["c"], files, shallow=False)
        self.assertEqual(set(mismatch), set(files), "another seed changes every file")
        with open(os.path.join(dirs["a"], "planted.tsv")) as fh:
            kinds = {line.split("\t")[1].strip() for line in fh}
        self.assertEqual(kinds, {"up", "down"})

    def outputs(self, name, **tables):
        """A pipeline output tree: BASE_OUTPUTS with some files replaced."""
        root = os.path.join(self.work, "out_" + name)
        shutil.rmtree(root, ignore_errors=True)
        for key, body in dict(BASE_OUTPUTS, **tables).items():
            sink = key.startswith("data/")
            path = os.path.join(root, key, "part-00000.csv") if sink else os.path.join(root, key)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write(body)
        return root

    def agrees(self, name, **tables):
        base = self.outputs("base")
        cmd = run.java_cmd(self.classpath, self.work, "1g") + [
            "--compare", base, self.outputs(name, **tables)]
        return subprocess.run(cmd, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL).returncode == 0

    def test_output_check_allows_only_summation_order_noise(self):
        tiny = "0.5000000000000001"  # one ulp above 0.5
        # last-digit noise in a score, and the order and top-k choice of
        # tied genes, are accepted
        self.assertTrue(self.agrees("same"))
        self.assertTrue(self.agrees("ulp", **{
            "data/network_targets": NETWORK.replace("C,0.5,0.5", f"C,{tiny},{tiny}")}))
        self.assertTrue(self.agrees("tie_swap", **{
            "data/top_targets_barplot": "gene,composite_score\nA,1.0\nC," + tiny + "\n",
            "figures/top_targets.png": "other pixels"}))
        # anything else is not
        self.assertFalse(self.agrees("value", **{
            "data/network_targets": NETWORK.replace("B,0.5,0.5", "B,0.500001,0.5")}))
        self.assertFalse(self.agrees("not_tied", **{
            "data/top_targets_barplot": "gene,composite_score\nA,1.0\nD,0.2\n"}))
        self.assertFalse(self.agrees("swap_above_cut", **{
            "data/top_targets_barplot": "gene,composite_score\nE,1.0\nB,0.5\n"}))
        self.assertFalse(self.agrees("missing_gene", **{
            "data/network_targets": NETWORK.replace("D,0.2,0.2\n", "")}))
        self.assertFalse(self.agrees("other_file", **{
            "data/significant_genes": "gene,log2FC\nA,1.0000000000000002\n"}))
        self.assertFalse(self.agrees("figure_alone", **{"figures/top_targets.png": "other"}))


# A miniature pipeline output tree: B and C tie, and the top-2 barplot cuts
# between them.
NETWORK = ("gene,betweenness_centrality,composite_score\n"
           "A,1.0,1.0\nB,0.5,0.5\nC,0.5,0.5\nD,0.2,0.2\n")
BASE_OUTPUTS = {
    "data/significant_genes": "gene,log2FC\nA,1.0\n",
    "data/network_targets": NETWORK,
    "data/top_targets_barplot": "gene,composite_score\nA,1.0\nB,0.5\n",
    "figures/top_targets.png": "pixels",
}


if __name__ == "__main__":
    unittest.main()
