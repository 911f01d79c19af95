"""Self-tests of the benchmark that need the built JVM side (about two
minutes; the first call builds). Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""

import glob
import json
import os
import re
import shutil
import sys
import tempfile
import unittest
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

NAME = re.compile(r"^R520\.\d{8}_\d{6}\.\d{14}\.zip$")
PHASES = {"land", "promote", "aggregate", "retention"}


class Jvm(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cache = os.path.join(ROOT, ".bench_build", "perfbench")
        os.makedirs(cache, exist_ok=True)
        cls.cp = run.build(ROOT, cache)
        cls.tmp = tempfile.mkdtemp(prefix="test-", dir=cache)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def main(self, name, args):
        d = os.path.join(self.tmp, name)
        code, tail = run.java(self.cp, d, args + ["--root", os.path.join(d, "data")], 300)
        self.assertEqual(code, 0, "\n".join(tail))
        return d

    def gen(self, workload, seed, ops):
        d = self.main(f"gen-{workload}-{seed}-{len(os.listdir(self.tmp))}", [
            "--mode", "gen", "--workload", workload, "--seed", str(seed), "--ops", str(ops)])
        return sorted(glob.glob(os.path.join(d, "data", "*.zip")))

    @staticmethod
    def digest(paths):
        out = []
        for p in paths:
            with open(p, "rb") as fh:
                out.append(fh.read())
        return out

    def test_generator_is_deterministic_per_seed(self):
        for workload, ops in (("ingest_daily", 3), ("ingest_backfill", 1)):
            a, b, c = self.gen(workload, 5, ops), self.gen(workload, 5, ops), self.gen(workload, 6, ops)
            self.assertEqual(len(a), ops)
            self.assertEqual(self.digest(a), self.digest(b))
            self.assertNotEqual(self.digest(a), self.digest(c))

    def test_files_are_reference_shaped(self):
        for i, path in enumerate(self.gen("ingest_daily", 9, 3)):
            name = os.path.basename(path).split("-", 1)[1]
            self.assertRegex(name, NAME)
            with zipfile.ZipFile(path) as z:
                self.assertEqual(len(z.namelist()), 1)
                text = z.read(z.namelist()[0]).decode("utf-8")
            self.assertGreater(len(text), 0)
            self.assertEqual(len(text) % 520, 0)
            self.assertNotIn("\n", text)
            ship_dates = {text[k + 80:k + 88] for k in range(0, len(text), 520)}
            # the business date is the latest ship date; the first file fills
            # the 5-day retention window, later ones add a day and re-deliver
            # part of the day before
            self.assertEqual(max(ship_dates), name[5:13])
            self.assertEqual(len(ship_dates), 5 if i == 0 else 2)

    def test_traced_run_attributes_every_ingest_execution(self):
        for workload in ("ingest_backfill", "ingest_daily"):
            d = os.path.join(self.tmp, f"trace-{workload}")
            out = os.path.join(d, "report.json")
            self.main(f"trace-{workload}", [
                "--workload", workload, "--seed", "3", "--seconds", "0", "--trace", "1",
                "--out", out, "--cores", "2", "--orders-per-day", "3", "--backfill-days", "6"])
            with open(out) as fh:
                report = json.load(fh)
            self.assertTrue(all(o["ok"] for o in report["ops"]), report["ops"])
            self.assertGreaterEqual(len(report["ops"]), 4)
            executions = [s for s in report["spans"] if str(s.get("id", "")).startswith("sql-")]
            self.assertTrue(executions)
            self.assertEqual({s["name"] for s in executions} - PHASES, set(), executions)
            for layer in report["layers"]:
                for phase in PHASES:
                    self.assertGreater(layer[f"{phase}.jobs"], 0, (workload, phase))
                self.assertGreaterEqual(layer["archive.wall_s"], 0)
                self.assertEqual(layer["promote.rows_new"], layer["fixedwidth.records"]
                                 - layer["promote.rows_skipped_dup"])


if __name__ == "__main__":
    unittest.main()
