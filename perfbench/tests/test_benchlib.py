"""Tests of the benchmark's own rules. Run from the repo root:
    python3 -m unittest discover -s perfbench/tests
The harness test needs a built .bench_build/classes (any benchmark run
makes it) and is skipped without one."""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import benchlib  # noqa: E402
import run  # noqa: E402

# scratch space inside the checkout, like the benchmark's own
TMP = os.path.join(run.BUILD, "tmp")


def scratch_dir():
    os.makedirs(TMP, exist_ok=True)
    return tempfile.mkdtemp(dir=TMP)


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.tail(range(10)))
        v, pct, n = benchlib.tail(range(11))
        self.assertEqual((v, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_highest_qualifying_percentile(self):
        xs = list(range(100, 0, -1))  # order must not matter
        v, pct, n = benchlib.tail(xs)
        self.assertEqual(v, 90)  # 91..100 are the ten beyond it
        self.assertEqual(sum(x > v for x in xs), 10)
        self.assertEqual((pct, n), (90.0, 100))

    def test_calm_passes(self):
        ps = [{"steal": 0.002}, {"steal": 0.05}, {"steal": 0.0}, {"steal": 0.009}]
        self.assertEqual(benchlib.calm(ps, 0.01), [ps[0], ps[2], ps[3]])
        self.assertEqual(benchlib.calm(ps[:3], 0.01), ps[:3])  # too few calm


def span(sid, parent, layer, start, end):
    return {"id": sid, "parent": parent, "layer": layer, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_duration_minus_child_coverage(self):
        root = span("q", "", "query", 0, 100)
        kids = [span("a", "q", "job", 10, 40), span("b", "q", "job", 30, 50),
                span("c", "q", "job", 90, 120)]  # overlaps; c sticks out
        self.assertEqual(benchlib.self_time(root, kids), 100 - 40 - 10)
        self.assertEqual(benchlib.self_time(root, []), 100)

    def test_layers_match_self_time_on_a_chain(self):
        spans = [span("q", "", "query", 0, 100), span("e", "q", "execute", 20, 100),
                 span("j", "e", "job", 30, 80), span("s", "j", "stage", 40, 70)]
        got = benchlib.layer_self_times(spans)
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            kids = [c for c in spans if c["parent"] == s["id"]]
            self.assertAlmostEqual(got[s["layer"]], benchlib.self_time(by_id[s["id"]], kids))

    def test_concurrent_children_never_exceed_the_root(self):
        spans = [span("q", "", "query", 0, 100), span("j1", "q", "job", 0, 60),
                 span("j2", "q", "job", 20, 100), span("s1", "j1", "stage", 0, 50),
                 span("s2", "j2", "stage", 30, 100), span("late", "j2", "stage", 90, 130)]
        got = benchlib.layer_self_times(spans)
        self.assertAlmostEqual(sum(got.values()), 100)
        self.assertEqual(got.get("query", 0), 0)


class FailureCountTest(unittest.TestCase):
    def test_injected_failure_and_wrong_result(self):
        ok = {"name": "q1_agg", "error": ""}
        bad = {"name": "no_such_query", "error": "NoSuchElementException: key not found"}
        passes = [{"queries": [ok, bad]}, {"queries": [ok, bad]}, {"queries": [ok, ok]}]
        attempted, failed, names = benchlib.count_failures(passes, wrong=["q1_agg"])
        self.assertEqual(attempted, 6)
        self.assertEqual(failed, 3)
        self.assertEqual(names, ["no_such_query", "q1_agg"])
        self.assertEqual(benchlib.count_failures(passes[2:], []), (2, 0, []))


class DigestTest(unittest.TestCase):
    def test_check_py_semantics(self):
        a = pd.DataFrame({"k": [1, 2], "x": [0.0, float("nan")], "s": ["u", None]})
        b = pd.DataFrame({"s": [None, "u"], "x": [float("nan"), -0.0], "k": [2, 1]})
        self.assertEqual(benchlib.frame_digest(a), benchlib.frame_digest(b))
        c = b.copy()
        c.loc[1, "x"] = 1e-300
        self.assertNotEqual(benchlib.frame_digest(a), benchlib.frame_digest(c))
        self.assertNotEqual(benchlib.frame_digest(a), benchlib.frame_digest(a.head(1)))


class FingerprintTest(unittest.TestCase):
    TABLES = ["region", "nation", "supplier", "orders"]

    def setUp(self):
        self.dir = scratch_dir()
        for t in self.TABLES:
            shutil.copy(os.path.join(run.DATA_DIR, f"{t}.parquet"), self.dir)
        self.expected = {t: run.DATA_FINGERPRINT[t] for t in self.TABLES}

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_accepts_identical_copy(self):
        benchlib.verify(self.dir, self.expected)

    def test_rejects_partial_table(self):
        path = os.path.join(self.dir, "orders.parquet")
        pq.write_table(pq.read_table(path).slice(0, 100), path)
        with self.assertRaisesRegex(benchlib.StaleData, "orders: rows 100"):
            benchlib.verify(self.dir, self.expected)

    def test_rejects_changed_content(self):
        path = os.path.join(self.dir, "supplier.parquet")
        df = pq.read_table(path).to_pandas()
        df.loc[0, "s_acctbal"] += 0.01
        df.to_parquet(path, index=False)
        with self.assertRaisesRegex(benchlib.StaleData, "supplier: rows 1000"):
            benchlib.verify(self.dir, self.expected)

    def test_rejects_missing_table(self):
        os.remove(os.path.join(self.dir, "nation.parquet"))
        with self.assertRaisesRegex(benchlib.StaleData, "nation: unreadable"):
            benchlib.verify(self.dir, self.expected)

    def test_recorded_fingerprint_matches_inputs(self):
        benchlib.verify(run.DATA_DIR, run.DATA_FINGERPRINT)


@unittest.skipUnless(os.path.isdir(os.path.join(run.BUILD, "classes")),
                     "harness not built")
class HarnessFailureTest(unittest.TestCase):
    def test_unknown_query_counts_as_failed_attempt(self):
        d = scratch_dir()
        try:
            out = subprocess.run(run.jvm(
                "run", "--cores", "2", "--warmup", "q6_filter_agg", "--data", run.DATA_DIR,
                "--queries", "q6_filter_agg,no_such_query", "--seconds", "0",
                "--trace", "0", "--seed", "1", "--calm-steal", "1",
                "--check-out", os.path.join(d, "check"),
                "--trace-out", os.path.join(d, "t.jsonl")),
                capture_output=True, text=True, timeout=170).stdout
            passes = [r for r in run.harness_lines(out) if "pass" in r]
            attempted, failed, names = benchlib.count_failures(passes, [])
            self.assertEqual(len(passes), 5)  # cold, check, three warm
            self.assertEqual((attempted, failed, names), (10, 5, ["no_such_query"]))
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
