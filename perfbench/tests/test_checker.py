"""Tests of the benchmark's correctness check.

Run from the repository root:  python3 -m unittest discover perfbench/tests

The first group feeds `check_epoch` hand-made API statistics, the second
`report_queries` hand-made query passes. The third runs the whole benchmark
on a small CSV input with a faulty transport in the engine: one that
silently drops a batch and one that posts a batch twice. Both must fail
the check, and the unfaulted run must pass. It builds the engine on first
use.
"""
import contextlib
import copy
import io
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import run  # noqa: E402


def wire():
    ev = [{"event": "click", "properties": {
        "distinct_id": f"u{i}", "time": 1709596800 + i,
        "$insert_id": f"id{i}", "$source": "csv",
        "properties": {"plan": "pro"}}} for i in range(6)]
    return {"events": ev, "profiles": [], "merges": []}


def stats_of(records):
    """What server.py reports for an epoch that received `records`."""
    s = {"requests": {"import": 1}, "gzip_bytes": 1, "raw_bytes": 1,
         "records": {}, "dup_ids": {}, "digest": {}}
    for kind, recs in records.items():
        ids = [r["properties"]["$insert_id"] for r in recs]
        s["records"][kind] = len(recs)
        s["dup_ids"][kind] = len(ids) - len(set(ids))
        s["digest"][kind] = gen.digest(recs)
    return s


class CheckEpochTest(unittest.TestCase):
    def setUp(self):
        self.expected = wire()
        self.counts = {k: len(v) for k, v in self.expected.items()}
        self.digests = {k: gen.digest(v) for k, v in self.expected.items()}
        self.report = dict(self.counts, failed_batches=0)

    def check(self, received, report=None):
        return run.check_epoch("e", stats_of(received), self.counts,
                               self.digests, report or self.report)

    def test_exact_delivery_passes(self):
        self.assertEqual(self.check(self.expected), [])

    def test_digest_is_order_independent(self):
        got = copy.deepcopy(self.expected)
        got["events"].reverse()
        self.assertEqual(self.check(got), [])

    def test_silently_dropped_batch_fails(self):
        got = copy.deepcopy(self.expected)
        del got["events"][:2]
        bad = self.check(got)
        self.assertTrue(any("received 4 != expected 6" in b for b in bad), bad)
        self.assertTrue(any("report says events=6" in b for b in bad), bad)

    def test_batch_posted_twice_fails(self):
        got = copy.deepcopy(self.expected)
        got["events"] += got["events"][:2]
        bad = self.check(got, dict(self.report, events=8))
        self.assertTrue(any("2 duplicate ids" in b for b in bad), bad)

    def test_changed_record_fails_digest(self):
        got = copy.deepcopy(self.expected)
        got["events"][0]["properties"]["time"] += 1
        bad = self.check(got)
        self.assertEqual(bad, ["e: events digest differs from the oracle"])


class QueryCheckTest(unittest.TestCase):
    """The query mix's check: each pass against the verified pass, and the
    verified pass against the DuckDB oracle."""

    def result(self, digests):
        passes = [{"epoch": f"run{i}", "wall_s": 1.0, "cpu_s": 1.0,
                   "jit_ms": 1, "gc_ms": 1, "managed_mem_mb": 1.0,
                   "queries": {q: {"s": 0.5, "rows": 3, "digest": d}
                               for q, d in ds.items()}}
                  for i, ds in enumerate(digests)]
        return {"iterations": passes, "setups_s": [1.0],
                "verified": {"qa": 1, "qb": 2}}

    def check(self, digests, oracle_ok):
        args = run.argparse.Namespace(trace=0)
        with contextlib.redirect_stdout(io.StringIO()):
            return run.report_queries(args, self.result(digests), oracle_ok,
                                      0.0, "")

    def test_matching_passes_pass(self):
        out = self.check([{"qa": 1, "qb": 2}] * 3, {"qa": True, "qb": True})
        self.assertTrue(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (6, 0))

    def test_pass_with_other_rows_fails(self):
        out = self.check([{"qa": 1, "qb": 2}, {"qa": 1, "qb": 9}],
                         {"qa": True, "qb": True})
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertEqual(out["metrics"]["delivered_frac"]["value"], 0.75)

    def test_oracle_mismatch_fails(self):
        out = self.check([{"qa": 1, "qb": 2}] * 3, {"qa": True, "qb": False})
        self.assertFalse(out["correct"])

    def test_unverified_query_fails(self):
        out = self.check([{"qa": 1, "qb": 2}] * 3, {"qa": True})
        self.assertFalse(out["correct"])


class FaultyTransportTest(unittest.TestCase):
    """End to end: the engine's transport drops or duplicates one batch per
    measured iteration; the benchmark must report correct = false."""

    def bench(self, fault):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            res = run.main(["--workload", "csv_e2e", "--seed", "3",
                            "--seconds", "1", "--setups", "1",
                            "--size", "8000", "--fault", fault])
        return res, out.getvalue()

    def test_clean_transport_passes(self):
        res, log = self.bench("none")
        self.assertTrue(res["correct"], log)
        self.assertEqual(res["failed"], 0)

    def test_dropped_batch_fails(self):
        res, log = self.bench("drop")
        self.assertFalse(res["correct"], log)
        self.assertIn("report says events=", log)

    def test_duplicated_batch_fails(self):
        res, log = self.bench("dup")
        self.assertFalse(res["correct"], log)
        self.assertIn("duplicate ids", log)


if __name__ == "__main__":
    unittest.main()
