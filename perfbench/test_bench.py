"""The benchmark's own tests.

    python3 perfbench/test_bench.py            # all (about ten minutes)
    python3 perfbench/test_bench.py -k serve   # a subset

Each test runs perfbench/run.py on tiny inputs: every workload must print
every metric BENCHMARK.json names, with its unit, for both the timed and the
traced run; each correctness check must fail when its output is corrupted;
and the benchmark must refuse to run without the program's sources.
"""

import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, corrupt="none", cwd=ROOT, script=HERE / "run.py"):
    p = subprocess.run([sys.executable, str(script), "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", str(trace), "--size", "tiny",
                        "--corrupt", corrupt],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=400)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    stamps = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("perfbench.stamps ")), {})
    return p, result, stamps


class Metrics(unittest.TestCase):
    def check(self, workload, trace):
        p, result, stamps = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertTrue(result["correct"], stamps.get("notes"))
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])

    def test_serve_timed(self):
        self.check("serve", 0)

    def test_serve_traced(self):
        self.check("serve", 1)

    def test_analytics_timed(self):
        self.check("analytics", 0)

    def test_analytics_traced(self):
        self.check("analytics", 1)


class Corruption(unittest.TestCase):
    """Each check fails, alone, on the output corrupted for it. The ingest
    checks run inside `serve`, on the drain its index came from."""

    def expect(self, workload, corrupt, check):
        p, result, stamps = run(workload, corrupt=corrupt)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertFalse(result["correct"])
        failed = {k for k, ok in stamps["checks"].items() if not ok}
        self.assertEqual(failed, {check}, stamps.get("notes"))

    def test_ingest_dropped_record(self):
        self.expect("serve", "record_row", "ingest.records_equal_generated")

    def test_ingest_dropped_index_row(self):
        self.expect("serve", "index_row", "ingest.index_plus_dead_letter_equal_messages")

    def test_ingest_dropped_dead_letter(self):
        p, result, stamps = run("serve", corrupt="dead_letter_row")
        self.assertFalse(result["correct"])
        self.assertFalse(stamps["checks"]["ingest.dead_letter_equals_injected"])

    def test_ingest_tampered_payload(self):
        self.expect("serve", "payload", "ingest.sampled_payloads_round_trip")

    def test_serve_wrong_body(self):
        self.expect("serve", "response_body", "serve.sampled_bodies_equal_facade")

    def test_serve_wrong_status(self):
        self.expect("serve", "status", "serve.statuses_as_expected")

    def test_analytics_tampered_digest(self):
        self.expect("analytics", "digest", "analytics.digests_match_recorded")

    def test_analytics_store_file_pile_up(self):
        self.expect("analytics", "store_files", "analytics.store_files_steady_across_runs")


class Isolation(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        bare = HERE / "work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns(".build", "work", "__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        try:
            p, result, _ = run("serve", cwd=bare, script=bare / "perfbench" / "run.py")
            self.assertNotEqual(p.returncode, 0)
            self.assertIsNone(result)
            self.assertFalse(p.stdout.strip())
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
