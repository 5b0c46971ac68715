#!/usr/bin/env python3
"""The benchmark's own tests: every workload in quick mode (tiny inputs, a
one-second timed phase) must finish with correct outputs and print every
metric of BENCHMARK.json, and each output check must fail once the run's
output is corrupted.

    python3 -m unittest perfbench/test_perfbench.py     (from the repo root)
"""
import glob
import json
import os
import subprocess
import sys
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "work")
sys.path.insert(0, HERE)
import check  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def quick_run(workload, trace=0):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--quick", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


class QuickMode(unittest.TestCase):

    def run_and_check(self, workload):
        out = quick_run(workload)
        self.assertTrue(out["correct"], out)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(set(out["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
        for name, m in out["metrics"].items():
            self.assertGreater(m["value"], 0, name)
        work = os.path.join(WORK, workload)
        self.assertEqual(check.CHECKS[workload](work), [])
        return work

    def assert_check_fails(self, workload, work):
        problems = check.CHECKS[workload](work)
        self.assertTrue(problems, "the corrupted output passed its check")

    def test_serve(self):
        work = self.run_and_check("serve")
        path = check._facts(work)["responses"]
        with open(path) as f:
            r = json.load(f)
        sized = next(x for x in r["requests"] if x["status"] == 200)
        body = json.loads(sized["body"])
        body["cluster_recommendations"]["taskmanagers"]["total_cpus"] += 1
        sized["body"] = json.dumps(body)
        with open(path, "w") as f:
            json.dump(r, f)
        self.assert_check_fails("serve", work)

    def test_sweep(self):
        work = self.run_and_check("sweep")
        out = check._facts(work)["outcomes"]
        files = glob.glob(os.path.join(out, "*.parquet"))
        con = duckdb.connect()
        name = con.execute("SELECT input.project_name FROM read_parquet(?) WHERE result IS NOT NULL "
                           "LIMIT 1", [files]).fetchone()[0]
        table = con.execute("SELECT * REPLACE (CASE WHEN input.project_name = ? THEN 'corrupted' "
                            "ELSE error END AS error) FROM read_parquet(?)", [name, files]).arrow()
        for f in files:
            os.remove(f)
        pq.write_table(table, os.path.join(out, "part-corrupted.parquet"))
        self.assert_check_fails("sweep", work)

    def test_catalog(self):
        work = self.run_and_check("catalog")
        f = glob.glob(os.path.join(check._facts(work)["out"], "q09_hash_agg", "*.parquet"))[0]
        table = pq.read_table(f)
        col = next(i for i, t in enumerate(table.schema.types) if pa.types.is_integer(t)
                   or pa.types.is_floating(t))
        values = table.column(col).to_pylist()
        values[0] += 1
        pq.write_table(table.set_column(col, table.schema.field(col),
                                        pa.array(values, type=table.schema.types[col])), f)
        self.assert_check_fails("catalog", work)

    def test_stream(self):
        work = self.run_and_check("stream")
        part = sorted(glob.glob(os.path.join(check._facts(work)["sink"], "batch_id=*",
                                             "*.parquet")))[0]
        with open(part, "rb") as src, open(part.replace(".parquet", "-copy.parquet"), "wb") as dst:
            dst.write(src.read())
        self.assert_check_fails("stream", work)

    def test_traced_sweep_checks_its_serve_phases(self):
        out = quick_run("sweep", trace=1)
        self.assertTrue(out["correct"], out)
        work = os.path.join(WORK, "sweep")
        self.assertEqual(check.check_sweep(work), [])
        path = check._facts(work)["serve_responses"]
        with open(path) as f:
            r = json.load(f)
        r["cycles"][0]["after_delete_status"] = 200
        with open(path, "w") as f:
            json.dump(r, f)
        self.assert_check_fails("sweep", work)

    def test_traced_run_reports_every_per_layer_metric(self):
        out = quick_run("stream", trace=1)
        self.assertTrue(out["correct"], out)
        self.assertEqual(set(out["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        self.assertGreater(out["metrics"]["streaming.trigger_p50_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
