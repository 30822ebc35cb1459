#!/usr/bin/env python3
"""Tests of the benchmark's own checks. Run: python3 perfbench/test_run.py"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


class FingerprintCheck(unittest.TestCase):
    GOOD = {"q32_lab1_pricematch": ["40:-2678", "40:-2678", "40:-2678"],
            "q35_lab4_fraud": ["10:-2829", "10:-2829"]}

    def test_identical_fingerprints_pass(self):
        self.assertEqual(run.fingerprint_mismatches(self.GOOD), [])

    def test_corrupted_fingerprint_fails(self):
        bad = json.loads(json.dumps(self.GOOD))
        bad["q35_lab4_fraud"][1] = "10:-2828"
        self.assertEqual(run.fingerprint_mismatches(bad), ["q35_lab4_fraud"])

    def test_row_count_change_fails(self):
        bad = json.loads(json.dumps(self.GOOD))
        bad["q32_lab1_pricematch"][2] = "39:-2678"
        self.assertEqual(run.fingerprint_mismatches(bad), ["q32_lab1_pricematch"])

    def test_error_or_missing_observation_fails(self):
        for marker in ("error", "none"):
            self.assertEqual(run.fingerprint_mismatches({"q": [marker, marker]}), ["q"])
        self.assertEqual(run.fingerprint_mismatches({"q": []}), ["q"])


class MetricReport(unittest.TestCase):
    def test_every_listed_metric_is_reported_with_its_unit(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            got = run.metric_values({"setup_s": 1.5}, {"spark.jobs": 3}, trace)
            self.assertEqual(list(got), [m["name"] for m in spec[key]])
            for m in spec[key]:
                self.assertEqual(got[m["name"]]["unit"], m["unit"])


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        tmp = Path(tempfile.mkdtemp(dir=run.WORK if run.WORK.is_dir() else None))
        try:
            outs = []
            for i, seed in enumerate((11, 11, 12)):
                out = tmp / str(i)
                subprocess.run([sys.executable, str(run.HERE / "gen.py"), "--workload", "labs-batch",
                                "--seed", str(seed), "--out", str(out)],
                               check=True, stdout=subprocess.DEVNULL)
                outs.append({p.name: p.read_bytes() for p in out.glob("*.parquet")})
            self.assertEqual(outs[0], outs[1])
            self.assertNotEqual(outs[0]["events.parquet"], outs[2]["events.parquet"])
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
