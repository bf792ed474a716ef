"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout. The smoke tests build the program on
first use and run every workload once on a tiny lake with the oracle on.
"""

import contextlib
import io
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def texts(p):
    return [st["sql"] for group in (p["warmup"], p["sessions"]) for s in group for st in s]


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_stream_and_input_hash(self):
        for wl in workloads.WORKLOADS:
            a = workloads.plan(wl, 7, workloads.SMOKE_SCALE)
            b = workloads.plan(wl, 7, workloads.SMOKE_SCALE)
            self.assertEqual(workloads.stream_digest(a), workloads.stream_digest(b), wl)
        self.assertEqual(
            workloads.input_hash(workloads.lake_tables(workloads.SMOKE_SCALE, 7)),
            workloads.input_hash(workloads.lake_tables(workloads.SMOKE_SCALE, 7)))

    def test_different_seed_different_parameters(self):
        for wl in workloads.WORKLOADS:
            a = texts(workloads.plan(wl, 7, workloads.SMOKE_SCALE))
            b = texts(workloads.plan(wl, 8, workloads.SMOKE_SCALE))
            self.assertNotEqual(a, b, wl)
            # same shapes, different parameters: most texts differ
            self.assertGreater(sum(x != y for x, y in zip(a, b)), len(a) // 3, wl)
        self.assertNotEqual(
            workloads.input_hash(workloads.lake_tables(workloads.SMOKE_SCALE, 7)),
            workloads.input_hash(workloads.lake_tables(workloads.SMOKE_SCALE, 8)))

    def test_interactive_mix(self):
        p = workloads.plan("interactive", 3, workloads.SCALES["interactive"])
        for stream in p["sessions"]:
            kinds = [st["kind"] for st in stream]
            self.assertAlmostEqual(kinds.count("meta") / len(kinds), 0.10, delta=0.01)
            self.assertAlmostEqual(kinds.count("write") / len(kinds), 0.25, delta=0.01)
            seen, repeats = set(), 0
            for st in stream:
                repeats += st["sql"] in seen and st["kind"] == "read"
                seen.add(st["sql"])
            # 25% dashboard slots (the first run of each of the 8 texts is
            # not a repeat), plus fresh reads whose parameters happen to
            # repeat
            self.assertAlmostEqual(repeats / len(stream), 0.25, delta=0.02)

    def test_digest_matches_wire_canonical_form(self):
        # the same rows the JVM digests as "1|250|2.5" etc.
        import hashlib
        row = (1, 2.5, "x", None)
        want = hashlib.md5("1|250|x|NULL".encode()).digest()
        self.assertEqual(oracle.digest([row])["hash"],
                         str(int.from_bytes(want[:8], "big")))


class Truncation(unittest.TestCase):
    """A run that hit its deadline still yields metrics; a fixed-count
    workload cut short is not correct."""

    def derive(self, fixed, truncated):
        plan = {"fixed": fixed, "warmup": [], "sessions": [[
            {"sid": 0, "session": 0, "sql": "SELECT 1", "kind": "read"}]], "checks": []}
        raw = {"setup": {"setup_s": 1.0}, "warmup": {"stmts": [], "truncated": False},
               "http": {"stmts": [{"sid": 0, "ok": True, "lat_ms": 5.0}], "wall_s": 1.0,
                        "truncated": truncated},
               "storage": {"warehouse_bytes": 2, "live_bytes": 1, "files_per_table": {}},
               "memory": {"peak_rss_mb": 100.0}}
        checked = {"bad_sids": set(), "rows_changed": {}}
        return metrics.derive(plan, raw, checked, 0)

    def test_fixed_workload_cut_short_is_not_correct(self):
        self.assertTrue(self.derive(fixed=True, truncated=False)["correct"])
        res = self.derive(fixed=True, truncated=True)
        self.assertFalse(res["correct"])
        self.assertEqual(res["metrics"]["read_p50_ms"]["value"], 5.0)

    def test_timed_workload_cut_by_its_seconds_is_correct(self):
        self.assertTrue(self.derive(fixed=False, truncated=True)["correct"])


class Smoke(unittest.TestCase):
    """Each workload end to end on a tiny lake, with the oracle on."""

    def run_workload(self, wl, trace):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = run.main(["--workload", wl, "--seed", "5", "--seconds", "3",
                           "--trace", str(trace), "--scale", str(workloads.SMOKE_SCALE)])
        self.assertEqual(rc, 0)
        res = json.loads(out.getvalue().strip().splitlines()[-1])
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        return res["metrics"]

    def test_interactive(self):
        m = self.run_workload("interactive", 0)
        self.assertGreater(m["read_p50_ms"]["value"], 0)

    def test_lake_write_traced(self):
        m = self.run_workload("lake_write", 1)
        self.assertGreater(m["exec.jobs_per_write"]["value"], 0)
        self.assertGreater(m["engine.dt_refresh_ms_p50"]["value"], 0)

    def test_lake_analytics(self):
        m = self.run_workload("lake_analytics", 0)
        self.assertGreater(m["read_p50_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
