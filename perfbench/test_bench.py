"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import io
import json
import os
import tempfile
import unittest

import claimsgen
import run

# The reference's sample data (the claims pipeline's golden combined run).
ALPHA_SAMPLE = """claim_id,patient_id,procedure_code,denial_reason,submitted_at,status
A123,P001,99213,Missing modifier,2025-07-01,denied
A124,P002,99214,Incorrect NPI,2025-07-10,denied
A125,,99215,Authorization expired,2025-07-05,denied
A126,P003,99381,None,2025-07-15,approved
A127,P004,99401,Prior auth required,2025-07-20,denied
"""
BETA_SAMPLE = [
    {"id": "B987", "member": "P010", "code": "99213",
     "error_msg": "Incorrect provider type", "date": "2025-07-03T00:00:00", "status": "denied"},
    {"id": "B988", "member": "P011", "code": "99214",
     "error_msg": "Missing modifier", "date": "2025-07-09T00:00:00", "status": "denied"},
    {"id": "B989", "member": "P012", "code": "99215",
     "error_msg": None, "date": "2025-07-10T00:00:00", "status": "approved"},
    {"id": "B990", "member": None, "code": "99401",
     "error_msg": "incorrect procedure", "date": "2025-07-01T00:00:00", "status": "denied"},
]


def _unit(uid, kind, ok=True, wall=1.0, error="", queries=()):
    return {"id": uid, "kind": kind, "ok": ok, "error": error, "wall_s": wall,
            "heap_peak_b": 100 * 2**20, "queries": list(queries), "counters": {},
            "job_cover_s": 0.0, "layers": {}}


class OracleTest(unittest.TestCase):
    def test_reference_sample_reproduces_the_golden_run(self):
        o = claimsgen.Oracle()
        for row in csv.DictReader(io.StringIO(ALPHA_SAMPLE)):
            o.add_alpha(row)
        for rec in BETA_SAMPLE:
            o.add_beta(rec)
        self.assertEqual([c["claim_id"] for c in o.candidates],
                         ["A123", "A124", "A127", "B988"])
        self.assertEqual((o.total, o.flagged), (9, 4))
        self.assertEqual(o.excluded, {
            "not_denied_status": 2, "patient_id_missing": 2, "too_recent": 0,
            "non-retryable_or_ambiguous": 1, "malformed": 0})
        self.assertIn("By source: {'alpha': 5, 'beta': 4}\n", o.metrics_text())

    def test_edge_rules(self):
        o = claimsgen.Oracle()
        base = {"patient_id": "P1", "status": "denied"}
        for cid, reason, date in [
                ("E1", "Missing modifier", "2025-07-23"),   # exactly 7 days
                ("E2", "Missing modifier", "2025-07-22"),
                ("E3", "  none  ", "2025-07-15"),           # scrubbed
                ("E4", "This claim was not billable per policy", "2025-07-01"),
                ("E5", "Missing modifier", "bad-date"),
                ("E6", "Missing modifier", " 2025-07-01")]:  # padded date
            o.add_alpha(dict(base, claim_id=cid, denial_reason=reason, submitted_at=date))
        o.add_beta({"id": "N1", "member": "P1", "error_msg": "None",
                    "date": "2025-07-01", "status": "denied"})
        self.assertEqual([c["claim_id"] for c in o.candidates], ["E2", "E4"])
        self.assertEqual(o.candidates[1]["recommended_changes"],
                         claimsgen.DEFAULT_RECOMMENDATION)
        self.assertEqual(o.excluded["too_recent"], 3)
        self.assertEqual(o.excluded["non-retryable_or_ambiguous"], 2)

    def test_generator_is_seeded_and_flags_near_thirty_percent(self):
        with tempfile.TemporaryDirectory() as d:
            p1, o1 = claimsgen.generate(5, 3000, 500, os.path.join(d, "a"))
            p2, _ = claimsgen.generate(5, 3000, 500, os.path.join(d, "b"))
            p3, _ = claimsgen.generate(6, 3000, 500, os.path.join(d, "c"))
            for name in claimsgen.INPUTS + ("expected_candidates.json",):
                with open(p1[name], "rb") as a, open(p2[name], "rb") as b:
                    self.assertEqual(a.read(), b.read(), name)
            with open(p1["emr_alpha.csv"], "rb") as a, open(p3["emr_alpha.csv"], "rb") as c:
                self.assertNotEqual(a.read(), c.read())
            self.assertTrue(0.25 < o1.flagged / o1.total < 0.35)
            self.assertEqual(o1.excluded["malformed"], 1)
            with open(p1["expected_candidates.json"]) as f:
                self.assertEqual(json.load(f), o1.candidates)


class SummaryTest(unittest.TestCase):
    def test_a_throwing_unit_is_a_failure_not_a_timing(self):
        result = {"setup_s": 5.0, "cores": 4, "units": [
            _unit(0, "check"), _unit(1, "timed", wall=2.0),
            _unit(2, "timed", ok=False, wall=99.0, error="java.lang.RuntimeException"),
            _unit(3, "timed", wall=4.0)]}
        attempted, failed, metrics, notes = run.summarize("claims_e2e", result, False, {})
        self.assertEqual((attempted, failed), (4, 1))
        self.assertEqual(metrics["run_s"]["value"], 3.0)
        self.assertEqual(metrics["query_tail_s"]["value"], 3.5)
        self.assertEqual(notes["unit 2 (timed)"], "java.lang.RuntimeException")

    def test_a_wrong_query_result_fails_every_unit(self):
        q = [{"name": "q1_pricing_summary", "s": 1.0, "build_s": 0.1,
              "action_s": 0.9, "jobs": 0}]
        result = {"setup_s": 5.0, "cores": 4, "units": [
            _unit(0, "check"), _unit(1, "timed", queries=q)]}
        attempted, failed, metrics, _ = run.summarize(
            "queries", result, False, {"q1_pricing_summary": "hash differs"})
        self.assertEqual((attempted, failed), (2, 2))
        self.assertIsNone(metrics["run_s"]["value"])

    def test_collect_is_the_sink_call_minus_its_render_per_unit(self):
        def span(sid, unit, name, s):
            return {"id": sid, "parent": 0, "name": name, "unit": unit,
                    "start_ns": 0, "end_ns": int(s * 1e9)}
        result = {"setup_s": 5.0, "cores": 4,
                  "units": [_unit(0, "check"), _unit(1, "staged"), _unit(2, "staged")],
                  "spans": [span(1, 1, "claims.Sinks.write_candidates", 1.0),
                            span(2, 1, "claims.Sinks.render", 0.4),
                            span(3, 2, "claims.Sinks.write_candidates", 2.0),
                            span(4, 2, "claims.Sinks.render", 0.5)]}
        _, _, metrics, _ = run.summarize("claims_e2e", result, True, {})
        self.assertAlmostEqual(metrics["claims.Sinks.write_candidates_s"]["value"], 1.5)
        self.assertAlmostEqual(metrics["claims.Sinks.render_s"]["value"], 0.45)
        self.assertAlmostEqual(metrics["claims.Sinks.collect_s"]["value"], 1.05)

    def test_tail_is_the_highest_rung_with_ten_samples_beyond(self):
        self.assertEqual(run.tail([float(i) for i in range(101)]), (90.0, "p90"))
        self.assertEqual(run.tail([float(i) for i in range(41)]), (30.0, "p75"))
        value, label = run.tail([float(i) for i in range(9)])
        self.assertEqual(value, 6.0)
        self.assertTrue(label.startswith("p75 (n=9"))


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
