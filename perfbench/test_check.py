#!/usr/bin/env python3
"""Tests of the benchmark's output checks: a corrupted output must fail.

Run: python3 perfbench/test_check.py
"""
import atexit
import copy
import json
import shutil
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import check  # noqa: E402
import run  # noqa: E402


def scratch_dir():
    """A directory under the build dir, so the tests write only in the checkout."""
    base = build.build_dir() / "tests"
    base.mkdir(parents=True, exist_ok=True)
    d = Path(tempfile.mkdtemp(dir=base))
    atexit.register(shutil.rmtree, d, True)
    return d

TRUTH = {"collections": [{
    "db": "calculator", "collection": "calculationParts",
    "dates": [{"export_date": "2021-06-10", "valid": 10, "malformed": 1},
              {"export_date": "2021-06-11", "valid": 8, "malformed": 0}],
    "ids": 15, "deletes": 2, "id_digest": "123456", "delete_digest": "789",
    "token_digest": "4242", "multi_ids": ["a1"]}]}


def summary_from_truth(truth):
    """The summary a correct cdi_daily pass produces for `truth`."""
    cols = []
    for c in truth["collections"]:
        agg = {"rows": c["ids"], "deletes": c["deletes"], "id_digest": c["id_digest"],
               "delete_digest": c["delete_digest"], "token_digest": c["token_digest"]}
        cols.append({"db": c["db"], "collection": c["collection"],
                     "snapshot": dict(agg), "hive": dict(agg),
                     "daily_rows": {d["export_date"]: d["valid"] for d in c["dates"]},
                     "malformed": {d["export_date"]: d["malformed"] for d in c["dates"]}})
    return {"collections": cols}


class CdiCheckTest(unittest.TestCase):
    def test_correct_output_passes(self):
        self.assertEqual(check.cdi_check(summary_from_truth(TRUTH), TRUTH), [])

    def test_corrupted_outputs_fail(self):
        for where, key, value in (("snapshot", "rows", 14), ("hive", "id_digest", "123457"),
                                  ("snapshot", "delete_digest", "0"), ("hive", "deletes", 3),
                                  ("snapshot", "token_digest", "4241"),
                                  ("hive", "token_digest", "4243")):
            s = summary_from_truth(TRUTH)
            s["collections"][0][where][key] = value
            self.assertTrue(check.cdi_check(s, TRUTH), f"{where}.{key} corruption not caught")

    def test_unreadable_output_fails(self):
        self.assertEqual(len(check.cdi_check({"error": "AnalysisException: no path"}, TRUTH)), 1)
        s = summary_from_truth(TRUTH)
        s["collections"][0]["hive"] = {}
        self.assertTrue(check.cdi_check(s, TRUTH))

    def test_dropped_or_extra_lines_fail(self):
        s = summary_from_truth(TRUTH)
        s["collections"][0]["daily_rows"]["2021-06-11"] = 7
        self.assertTrue(check.cdi_check(s, TRUTH))
        s = summary_from_truth(TRUTH)
        s["collections"][0]["malformed"]["2021-06-10"] = 0
        self.assertTrue(check.cdi_check(s, TRUTH))


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch_dir()
        pq.write_table(pa.table({"k": [1, 1, 2], "v": [1.5, 2.5, 4.0]}), self.dir / "t.parquet")
        out = self.dir / "out"
        (out / "q_sum").mkdir(parents=True)
        (out / "oracle_sql.json").write_text(json.dumps(
            {"q_sum": "SELECT k, SUM(v) AS s FROM t GROUP BY k"}))
        self.out = out

    def write_output(self, rows):
        pq.write_table(pa.table({"s": [r[1] for r in rows], "k": [r[0] for r in rows]}),
                       self.out / "q_sum" / "part-0.parquet")

    def test_matching_output_passes(self):
        self.write_output([(2, 4.0), (1, 4.0)])
        self.assertEqual(check.oracle_check(self.dir, self.out, ["q_sum"]), {"q_sum": []})

    def test_corrupted_output_fails(self):
        self.write_output([(2, 4.0), (1, 4.5)])
        self.assertTrue(check.oracle_check(self.dir, self.out, ["q_sum"])["q_sum"])
        self.write_output([(2, 4.0)])
        self.assertTrue(check.oracle_check(self.dir, self.out, ["q_sum"])["q_sum"])


class FailedCountTest(unittest.TestCase):
    """A wrong output is counted in `failed`, which makes failed_frac nonzero."""

    def test_timed_row_count_mismatch_counts(self):
        d = scratch_dir()
        pq.write_table(pa.table({"k": [1, 2]}), d / "t.parquet")
        out = d / "out" / "queries"
        (out / "q_k").mkdir(parents=True)
        pq.write_table(pa.table({"k": [1, 2]}), out / "q_k" / "part-0.parquet")
        (out / "oracle_sql.json").write_text(json.dumps({"q_k": "SELECT k FROM t"}))
        (d / "input").mkdir()
        pq.write_table(pa.table({"k": [1, 2]}), d / "input" / "t.parquet")
        ok = {"name": "q_k", "s": 0.1, "ok": True, "rows": 2, "error": ""}
        res = {"passes": [{"warm": True, "traced": False, "seconds": -1, "ops": [ok]},
                          {"warm": False, "traced": False, "seconds": 0.1, "ops": [dict(ok)]}]}

        class Args:
            workload = "llm_corpus"
        self.assertEqual(run.checks(Args, res, d)[:2], (2, 0))
        bad = copy.deepcopy(res)
        bad["passes"][1]["ops"][0]["rows"] = 3
        self.assertEqual(run.checks(Args, bad, d)[:2], (2, 1))


class MetricNamesTest(unittest.TestCase):
    """The traced run prints exactly BENCHMARK.json's per-layer metrics."""

    def test_per_layer_names_match(self):
        d = scratch_dir()
        spans = d / "spans.json"
        spans.write_text(json.dumps({"spans": [
            {"id": 1, "parent": 0, "layer": "pass", "name": "pass1", "start_ns": 0, "end_ns": 10**9}],
            "counters": {}, "batch_ms": []}))
        op = {"name": "q", "s": 0.5, "ok": True, "rows": 1, "error": ""}
        res = {"spans_file": str(spans), "layers": {}, "summaries": [{}], "setups_s": [1.0],
               "records_per_pass": 10, "peak_rss_mb": 100.0,
               "passes": [{"warm": False, "traced": False, "seconds": 1.0, "ops": [op]},
                          {"warm": False, "traced": True, "seconds": 1.0, "ops": [op]}]}
        metrics = run.per_layer(res, 2, 0)
        bench = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
        self.assertEqual(sorted(metrics), sorted(m["name"] for m in bench["per_layer"]))
        self.assertEqual(sorted(run.end_to_end(res)), sorted(m["name"] for m in bench["end_to_end"]))
        for m in bench["per_layer"]:
            self.assertEqual(m["unit"], run.unit_of(m["name"]), m["name"])


if __name__ == "__main__":
    unittest.main()
