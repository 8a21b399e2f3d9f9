#!/usr/bin/env python3
"""Self-test of the benchmark itself (no JVM, a few seconds):

    python3 perfbench/selftest/test_perfbench.py

- BENCHMARK.json keeps the shape the benchmark contract asks for;
- every metric the benchmark prints is declared there, with its unit,
  and every end-to-end metric with a bound, and nothing declared is
  left unprinted;
- the input generators are deterministic: the same seed gives
  byte-identical inputs, another seed other inputs;
- the canonical row digest reads values the way the harness writes them.
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fake_result(workload, trace_path):
    """A result as perfbench.Main writes it, with every section filled."""
    kinds = {"olap_sql": ["query"], "store_ingest": ["build", "ingest", "search"]}[workload]
    ops = []
    for i in range(24):
        kind = kinds[i % len(kinds)]
        ops.append({"kind": kind, "name": f"{kind}{i % 6}", "s": 0.5 + 0.01 * i,
                    "digest": "d", "rows": 3})
    spans = [{"id": i, "parent": -1, "op": i, "op_name": f"o{i}", "name": f"{o['kind']}:{o['name']}",
              "start_ns": 0, "end_ns": 10 ** 9, "tracer_ns": 10 ** 6,
              "counters": {"spark.run_s": 2.0, "spark.exec_s": 1.0}}
             for i, o in enumerate(ops)]
    with open(trace_path, "w") as f:
        json.dump(spans, f)
    batch = {"batch": 0, "sig_compacted": True, "sig_bytes": 100, "sig_files_appended": 40, "sig_compact_s": 1.0}
    extra = {} if workload != "store_ingest" else {"episode": {
        "batches": [batch],
        "progress": {"dedup": [{"triggerExecution": 1000, "addBatch": 900, "walCommit": 10, "queryPlanning": 5}]},
        "store_bytes": 200, "input_bytes": 100}}
    return {"workload": workload, "setup_s": 9.0, "session_start_s": 4.0,
            "measured_s": 20.0, "peak_heap_mb": 900.0, "counters": {},
            "ops": ops, "check": {}, "extra": extra, "stats": {},
            "layer_self_s": {"workload": 0.1, "operators": 1.0, "plans": 0.5, "spark": 3.0},
            "trace_overhead_s": 0.5,
            "kernels": {k: 1.0 for k in ("functions.shingle_hashes_ns_per_kb", "functions.simhash64_ns_per_kb",
                                         "functions.minhash_update_ns", "functions.cosine_ns_per_pair",
                                         "functions.pq_codes_ns_per_vec", "functions.adc_lookup_ns")},
            "_trace_path": trace_path}


class BenchmarkJson(unittest.TestCase):
    def test_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertEqual(s["command"][:2], ["python3", "perfbench/run.py"])
        self.assertTrue(1 <= len(s["paths"]) <= 16)
        for p in s["paths"]:
            self.assertRegex(p, r"^[A-Za-z0-9_.\-/]{1,200}$")
            self.assertTrue(os.path.isdir(os.path.join(ROOT, p)))
        self.assertIsInstance(s["run_seconds"], int)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue({w["name"] for w in s["workloads"]} <= set(gen.WORKLOADS))
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"] + s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        self.assertTrue(len(json.dumps(s)) <= 64 * 1024)

    def test_printed_metrics_are_declared(self):
        s = spec()
        e2e = {m["name"] for m in s["end_to_end"]}
        layer = {m["name"] for m in s["per_layer"]}
        with tempfile.TemporaryDirectory() as d:
            for w in gen.WORKLOADS:
                res = fake_result(w, os.path.join(d, "trace.json"))
                self.assertEqual(set(run.end_to_end(res, 1.0, w)), e2e, w)
                self.assertEqual(set(checks.per_layer(w, res)), layer, w)


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for w in gen.WORKLOADS:
                a, b, c = (os.path.join(d, f"{w}-{i}") for i in range(3))
                gen.generate(w, 5, a)
                gen.generate(w, 5, b)
                gen.generate(w, 6, c)
                self.assertEqual(gen.digest(a), gen.digest(b), w)
                self.assertNotEqual(gen.digest(a), gen.digest(c), w)


class Canon(unittest.TestCase):
    """Values as perfbench.Json.canon writes them."""

    def test_values(self):
        import datetime as dt
        import decimal
        self.assertEqual(checks.canon(None), "N")
        self.assertEqual(checks.canon(True), "b1")
        self.assertEqual(checks.canon(3), "i3")
        self.assertEqual(checks.canon(3.0), "i3")
        self.assertEqual(checks.canon(decimal.Decimal("3.00")), "i3")
        self.assertEqual(checks.canon(0.5), "d3fe0000000000000")
        self.assertEqual(checks.canon(-0.5), "dbfe0000000000000")
        self.assertEqual(checks.canon(dt.datetime(1970, 1, 1, 0, 0, 1)), "t1000000")
        self.assertEqual(checks.canon(dt.date(1970, 1, 2)), "D1")
        self.assertEqual(checks.canon([1, "a"]), "[i1,sa]")
        self.assertEqual(checks.canon({"x": 1, "y": None}), "(i1,N)")

    def test_median_estimate(self):
        self.assertAlmostEqual(checks.hd_median([1.0, 2.0, 3.0]), 2.0, places=9)
        self.assertAlmostEqual(checks.hd_median([5.0]), 5.0, places=9)
        self.assertAlmostEqual(checks.betainc(2.0, 3.0, 0.4), 0.5248, places=9)
        x = [0.5] * 20 + [0.8] * 21
        self.assertTrue(0.5 < checks.hd_median(x) < 0.8)

    def test_digest_ignores_column_and_row_order(self):
        a = checks.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = checks.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)


if __name__ == "__main__":
    unittest.main()
