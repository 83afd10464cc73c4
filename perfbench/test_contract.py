"""Checks that ``BENCHMARK.json`` names exactly the metrics the benchmark
prints, and that a checkout without the package gets no result.

    python3 -m pytest perfbench/test_contract.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


class Contract(unittest.TestCase):
    def test_end_to_end_metrics(self):
        self.assertEqual(
            [(m["name"], m["unit"]) for m in SPEC["end_to_end"]], run.E2E
        )

    def test_per_layer_metrics(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]],
            layers.PER_LAYER,
        )

    def test_workloads(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], list(WORKLOADS))

    def test_no_package_no_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(HERE.parent / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                [*SPEC["command"], "--workload", "flagship", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=120,
            )
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
