"""Tests of the benchmark's output checks: a wrong result must count as
failed. Run from the root of the repository:

    python3 -m unittest perfbench/test_run.py

The last test runs the whole benchmark once (about a minute) with
PERFBENCH_CORRUPT=1, which makes the JVM check a deliberately truncated
output."""
import json
import os
import subprocess
import sys
import tempfile
import types
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

SPEC = json.loads((Path(run.BENCH).parent / "BENCHMARK.json").read_text())


def raw_result(workload, digest, oracle=None):
    raw = {"workload": workload, "setup_s": 1.0, "peak_rss_mb": 100.0,
           "run_id": "test", "layers": {},
           "ops": [{"s": 1.0,
                    "checks": [{"name": workload, "error": None, "digest": digest, "s": 1.0}]}]}
    if oracle is not None:
        raw["oracle"] = oracle
    return raw


class ChecksTest(unittest.TestCase):

    def args(self, workload, data="."):
        return types.SimpleNamespace(workload=workload, trace=0, data=data)

    def test_recorded_digest_must_match(self):
        expected = json.loads((run.BENCH / "expected.json").read_text())["curate_chain"]
        ok = run.score(raw_result("curate_chain", expected), SPEC, self.args("curate_chain"))
        self.assertEqual(ok[:3], (True, 1, 0))
        bad = run.score(raw_result("curate_chain", "1:0"), SPEC, self.args("curate_chain"))
        self.assertEqual(bad[:3], (False, 1, 1))
        self.assertEqual(bad[3]["ok_frac"]["value"], 0.0)

    def test_oracle_mismatch_fails_the_query(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            data, out = Path(d, "data"), Path(d, "q")
            data.mkdir()
            out.mkdir()
            duckdb.sql(f"COPY (SELECT range AS k, range * 2 AS v FROM range(5)) "
                       f"TO '{data / 'lineitem.parquet'}' (FORMAT PARQUET)")
            duckdb.sql(f"COPY (SELECT range AS k, range * 2 + (range = 3)::INT AS v "
                       f"FROM range(5)) TO '{out / 'part-0.parquet'}' (FORMAT PARQUET)")
            oracle = [{"name": "q", "parquet": str(out),
                       "sql": "SELECT k, v FROM lineitem ORDER BY k"}]
            raw = raw_result("sql_mix", "", oracle)
            raw["ops"][0]["checks"][0]["name"] = "q"
            correct, attempted, failed, _ = run.score(raw, SPEC, self.args("sql_mix", data))
            self.assertEqual((correct, attempted, failed), (False, 1, 1))
            self.assertIn("column v row 3", run.oracle_failures(oracle, data)["q"])

    def test_corrupted_output_is_counted_as_failed(self):
        env = dict(os.environ, PERFBENCH_CORRUPT="1")
        p = subprocess.run(
            [sys.executable, str(run.BENCH / "run.py"), "--workload", "stream_backfill",
             "--seed", "3", "--seconds", "1", "--trace", "0"],
            cwd=run.BENCH.parent, env=env, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertEqual(result["failed"], result["attempted"])


if __name__ == "__main__":
    unittest.main()
