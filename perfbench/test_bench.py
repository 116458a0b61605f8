"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/test_bench.py

Python side: seeded inputs are byte-identical per seed and differ across
seeds; the percentile helper reports a percentile only with at least ten
samples beyond it; a failing operation lands in the failures and not in
any total. JVM side (graftbench.SelfTest, built like the benchmark): the
same for the speech corpus and for operations run in the JVM, and the
listener's per-job-group totals sum to its session totals.
"""
import filecmp
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def op(name, t, error="", pass_=0, cpu=1.0):
    return {"pass": pass_, "name": name, "error": error, "build_s": 0.0, "plan_s": 0.0,
            "exec_s": t, "storage_mb": 1.0, "extra": {}, "work": {"task_cpu_s": cpu}}


class Inputs(unittest.TestCase):
    def test_same_seed_byte_identical_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as d:
            for sub, seed in (("a", 3), ("b", 3), ("c", 4)):
                corpus.write_copy("sf0.001", os.path.join(d, sub), seed)
            for t in corpus.tables("sf0.001"):
                a, b, c = (os.path.join(d, s, f"{t}.parquet") for s in "abc")
                self.assertTrue(filecmp.cmp(a, b, shallow=False), t)
                if t != "events":  # the log keeps its ts order
                    self.assertFalse(filecmp.cmp(a, c, shallow=False), t)


class Percentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(workloads.percentile(list(range(99)), 90))  # 9 beyond
        self.assertEqual(workloads.percentile(list(range(100)), 90), 89)  # 10 beyond
        self.assertIsNone(workloads.percentile([], 50))

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(workloads.percentile([1.0] * 50 + [2.0] * 5, 50))


class FailureAccounting(unittest.TestCase):
    def test_failed_op_in_failures_not_totals(self):
        ops = [op("a", 1.0), op("boom", 50.0, error="java.lang.IllegalStateException: x"),
               op("b", 3.0), op("wrong", 40.0)]
        raw = {"ops": ops}
        good, failed = workloads.account(ops, {(0, "wrong"): "rows spark=1 duck=2"})
        self.assertEqual([o["name"] for o in failed], ["boom", "wrong"])
        self.assertIn("IllegalStateException", failed[0]["why"])
        m, _ = workloads.end_to_end(raw, {"kind": "registry"}, good, 1.0)
        self.assertEqual(m["wall_s"], 4.0)
        self.assertEqual(m["query_p50_s"], 2.0)
        self.assertEqual(m["cpu_s"], 2.0)

    def test_no_negative_time_enters_a_total(self):
        good, _ = workloads.account([op("a", 2.0), op("f", -1.0, error="timeout")], {})
        m, _ = workloads.end_to_end({"ops": [op("a", 2.0)]}, {"kind": "registry"}, good, 1.0)
        self.assertEqual(m["wall_s"], 2.0)


class StagedTags(unittest.TestCase):
    def test_longest_listed_tag_then_digits(self):
        tags = ["lmc", "lmc1", "mhsigs"]
        self.assertEqual(workloads.staged_tag("graft_rel_lmc1734512", tags), "lmc1")
        self.assertEqual(workloads.staged_tag("graft_rel_lmc734512", tags), "lmc")
        self.assertEqual(workloads.staged_tag("graft_stream_dedup99", tags), "stream_sources")

    def test_unknown_tag_is_kept(self):
        self.assertEqual(workloads.staged_tag("graft_rel_newtag123", ["mhsigs"]), "newtag")


class Jvm(unittest.TestCase):
    def test_jvm_selftests(self):
        root = os.path.dirname(HERE)
        cp = build.ensure_built(root)
        os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
        cmd = run.jvm_cmd(cp, {}, "graftbench.SelfTest")
        r = subprocess.run(cmd + [run.WORK], capture_output=True, text=True, timeout=300)
        lines = [l for l in r.stdout.splitlines() if l.startswith("selftest ")]
        print("\n".join(lines))
        self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
        self.assertEqual(len(lines), 7)


if __name__ == "__main__":
    unittest.main()
