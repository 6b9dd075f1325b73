"""Smoke test of the benchmark itself, on tiny shapes.

    python3 -m unittest perfbench/test_perfbench.py

Checks that a wrong published table counts as a failed request, and that a
run prints every metric BENCHMARK.json names, with its unit, on its last two
lines. The end-to-end cases start the engine, so the first one also builds it.
"""

import sys

sys.dont_write_bytecode = True

import json
import os
import shutil
import subprocess
import tempfile
import unittest

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def published_clean_rows(spec, source, dest):
    """What clean_rows must publish for ``source``, computed here."""
    table = pq.read_table(source)
    cols = []
    for name in spec["clean_rows"]:
        col = table.column(name)
        if name in spec["binary"]:
            col = pc.if_else(pc.equal(col, "1"), gen.CID_YES,
                             pc.if_else(pc.equal(col, "0"), gen.CID_NO, pa.scalar(None, pa.string())))
        elif name in spec["fa"]:
            col = pc.if_else(pc.equal(col, "[]"), pa.scalar(None, pa.string()),
                             pc.replace_substring_regex(col, r"^\[(\d{9})\]$", r"\1"))
        cols.append(col)
    os.makedirs(dest)
    pq.write_table(pa.Table.from_arrays(cols, names=spec["clean_rows"]),
                   os.path.join(dest, "part-00000.parquet"))


class VerificationTest(unittest.TestCase):

    def test_corrupted_output_counts_as_failed(self):
        with tempfile.TemporaryDirectory() as tmp:
            spec = gen.generate("tall_profile", 7, os.path.join(tmp, "data"), tiny=True)
            source = os.path.join(tmp, "data", "src")
            good, bad = os.path.join(tmp, "good"), os.path.join(tmp, "bad")
            published_clean_rows(spec, source, good)
            shutil.copytree(good, bad)
            path = os.path.join(bad, "part-00000.parquet")
            table = pq.read_table(path)
            i = table.column_names.index(spec["binary"][0])
            pq.write_table(table.set_column(i, spec["binary"][0],
                                            pa.array(["7"] * table.num_rows)), path)

            def req(rid, dest, status=200):
                return {"id": rid, "label": "clean_rows", "dest": dest, "status": status,
                        "sources": [source]}
            cycles = [{"requests": [req("a", good), req("b", bad), req("c", good, 500)]}]
            attempted, failed, failures = run.score(spec, cycles)
            self.assertEqual((attempted, failed), (3, 2), failures)
            self.assertIn("binary column", failures[0])


class MetricsTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            cls.contract = json.load(f)

    def run_bench(self, workload, trace):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "2", "--trace", str(trace), "--tiny"],
            cwd=run.ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        lines = proc.stdout.strip().splitlines()
        return lines[-2], json.loads(lines[-1])

    def check(self, workload, trace, listed):
        line, result = self.run_bench(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], line)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(list(result["metrics"]), [m["name"] for m in listed])
        for m in listed:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float))
            self.assertIn(f" {m['name']}=", line)
            self.assertIn(f"[{m['unit']}]", line.split(f" {m['name']}=")[1].split(" ")[0])

    def test_end_to_end_metrics(self):
        self.check("wide_schema", 0, self.contract["end_to_end"])

    def test_per_layer_metrics(self):
        self.check("merge_versions", 1, self.contract["per_layer"])


if __name__ == "__main__":
    unittest.main()
