#!/usr/bin/env python3
"""Self-tests of the ingest benchmark. Run from the repository root:

    python3 -m unittest ingestbench/test_bench.py

They check that the generator is a pure function of the seed, that the
read-back verifier fails the command on a corrupted sink and names the
collection, that a traced run whose engine frames go unattributed fails, and
that the command fails without printing a result when the engine sources are
absent.
"""
import json
import pathlib
import shutil
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = HERE / "work" / "selftest"


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, str(pathlib.Path(cwd) / HERE.name / "run.py"), *args],
                          cwd=cwd, text=True, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          timeout=900)


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed, tag):
        out = SCRATCH / f"gen-{workload}-{seed}-{tag}"
        shutil.rmtree(out, ignore_errors=True)
        proc = bench("--gen-only", str(out), "--workload", workload, "--seed", str(seed))
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        shutil.rmtree(out, ignore_errors=True)
        return proc.stdout.strip().splitlines()[-1]

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in ("json_poll", "avro_poll", "stress_mix"):
            with self.subTest(workload=workload):
                a = self.digest(workload, 11, "a")
                b = self.digest(workload, 11, "b")
                c = self.digest(workload, 12, "c")
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class VerifierTest(unittest.TestCase):
    def test_corrupted_sink_fails_the_command(self):
        proc = bench("--workload", "json_poll", "--seed", "3", "--seconds", "1", "--trace", "0",
                     "--corrupt-sink")
        self.assertNotEqual(proc.returncode, 0)
        self.assertRegex(proc.stdout, r"\[verify\] FAIL collection bench/c\d+: expected \d+ records")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)


class TraceCompletenessTest(unittest.TestCase):
    def test_unattributed_time_fails_the_traced_run(self):
        trace_file = HERE / "work" / "traces" / "avro_poll-seed3.json"
        trace_file.unlink(missing_ok=True)
        proc = bench("--workload", "avro_poll", "--seed", "3", "--seconds", "1", "--trace", "1",
                     "--unlabelled-frames")
        self.assertNotEqual(proc.returncode, 0)
        self.assertRegex(proc.stdout, r"unattributed \(other\) max share .*FAIL: above 5%")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        trace = json.loads(trace_file.read_text())
        self.assertTrue(any(b["timed"] for b in trace["batches"]))
        self.assertTrue(trace["jobs"])


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        bare = SCRATCH / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy2(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
        shutil.copytree(HERE, bare / HERE.name,
                        ignore=shutil.ignore_patterns("target", "work", "__pycache__"))
        try:
            proc = bench("--workload", "json_poll", "--seed", "1", "--seconds", "1",
                         "--trace", "0", cwd=bare)
            self.assertNotEqual(proc.returncode, 0)
            self.assertFalse(any(l.startswith("{") for l in proc.stdout.splitlines()))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
