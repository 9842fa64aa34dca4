"""Tests of the benchmark itself. From the repository root:

    python3 -m unittest perfbench/test_perfbench.py
"""
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


class SpreadRule(unittest.TestCase):
    """Steadiness: interquartile range of a metric over runs, per median."""

    def test_constant_has_no_spread(self):
        self.assertAlmostEqual(metrics.spread([10.0] * 10), 0.0)

    def test_iqr_over_median(self):
        xs = [9.0, 10.0, 10.0, 11.0, 12.0]
        # exclusive quartiles of 5 samples: 9.5 and 11.5
        self.assertAlmostEqual(metrics.spread(xs), (11.5 - 9.5) / 10.0)

    def test_order_free(self):
        xs = [3.0, 1.0, 2.0, 5.0, 4.0, 6.0]
        self.assertAlmostEqual(metrics.spread(xs), metrics.spread(sorted(xs)))


def fake_raw(traced, etl):
    ops = [{"name": f"q{i}", "wall_s": 0.1 * (i + 1), "ok": True} for i in range(3)]
    layers = {n: 1.0 for n, _, _ in metrics.PER_LAYER
              if n.split(".")[0] not in ("geo", "Sinks", "trace")}
    passes = []
    for i in range(4):
        p = {"traced": traced and i % 2 == 1, "wall_s": 1.0 + i / 10, "cpu_s": 2.0,
             "ops": ops}
        if p["traced"]:
            p["layers"] = layers
            if etl:
                p["probe"] = {"noop_wall_s": 0.5, "noop_cpu_s": 1.5, "write_wall_s": 0.9,
                              "input_mb": 10.0, "output_mb": 30.0, "files": 240}
        passes.append(p)
    return {"rows": 1000, "setup_s": [3.0, 1.0, 1.2], "passes": passes,
            "attempted": 12, "failed": 0,
            "albers_ns_per_point": 200.0}


class OutputSchema(unittest.TestCase):
    def check(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(result["metrics"]), [n for n, _, _ in spec])
        for name, unit, _ in spec:
            self.assertEqual(result["metrics"][name]["unit"], unit)
            self.assertIsInstance(result["metrics"][name]["value"], float)

    def test_end_to_end(self):
        r = metrics.summarize(fake_raw(False, True), trace=False)
        self.check(r, metrics.END_TO_END)
        self.assertTrue(r["correct"])
        self.assertEqual(r["metrics"]["setup_s"]["value"], 1.2)
        self.assertAlmostEqual(r["metrics"]["pass_s"]["value"], 1.15)

    def test_per_layer(self):
        for etl in (True, False):
            r = metrics.summarize(fake_raw(True, etl), trace=True)
            self.check(r, metrics.PER_LAYER)
        self.assertAlmostEqual(r["metrics"]["trace.overhead_s"]["value"], 0.1)

    def test_failures_flip_correct(self):
        raw = fake_raw(False, False)
        raw["failed"] = 1
        self.assertFalse(metrics.summarize(raw, trace=False)["correct"])

    def test_benchmark_json_matches(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         metrics.PER_LAYER)


def data_pages(path):
    """A parquet file's bytes up to its footer. The footer itself is left
    out: parquet-mr lists each column's encodings from a hash set, so their
    order can differ between JVMs for identical data."""
    with open(path, "rb") as fh:
        body = fh.read()
    footer_len = int.from_bytes(body[-8:-4], "little")
    return body[:len(body) - 8 - footer_len]


class GeneratorDeterminism(unittest.TestCase):
    """Same seed → identical data bytes; another seed → other bytes."""

    @classmethod
    def setUpClass(cls):
        import build
        cls.classpath = build.build()
        cls.tmp = tempfile.mkdtemp(dir=build.BUILD)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def generate(self, name, seed):
        import run
        out = os.path.join(self.tmp, name)
        subprocess.run(["java"] + run.jvm_flags(self.tmp) +
                       ["-cp", self.classpath, "perfbench.Gen", out, str(seed), "5000", "200"],
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        files = {}
        for table in ("events", "documents", "embeddings"):
            parts = sorted(glob.glob(os.path.join(out, f"{table}.parquet", "part-*.parquet")))
            self.assertTrue(parts, table)
            # part files are named part-<index>-<uuid>; compare by index
            files[table] = [(re.match(r"part-(\d+)", os.path.basename(p)).group(1),
                             data_pages(p)) for p in parts]
        return files

    def test_same_seed_same_bytes(self):
        a, b, c = self.generate("a", 7), self.generate("b", 7), self.generate("c", 8)
        for table in a:
            self.assertEqual(a[table], b[table], table)
            self.assertNotEqual(a[table], c[table], table)


if __name__ == "__main__":
    unittest.main()
