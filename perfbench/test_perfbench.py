"""Tests of the benchmark's own logic.

Run from the root of the repository:
    python3 -m unittest discover -s perfbench -p 'test_*.py'

The job-attribution test compiles the engine and the harness (as run.py
does) and starts one small Spark session; it is skipped when no Spark jars
are installed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def scratch_dir():
    """A fresh directory under the checkout's .bench_work."""
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)


def digest(d):
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = scratch_dir()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self, name, seed, only=None):
        d = os.path.join(self.tmp, name)
        rows = gen.write(seed, 0.02, d, only)
        return d, rows

    def test_same_seed_gives_identical_bytes(self):
        a, rows = self.write("a", 5)
        b, _ = self.write("b", 5)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(rows["lineitem"], 12000)
        self.assertEqual(len(rows), 10)

    def test_other_seed_gives_other_inputs(self):
        a, _ = self.write("a", 5)
        b, _ = self.write("b", 6)
        self.assertNotEqual(digest(a), digest(b))

    def test_subset_matches_full_generation(self):
        a, _ = self.write("a", 5)
        b, _ = self.write("b", 5, ["documents"])
        with open(os.path.join(a, "documents.parquet"), "rb") as f, \
                open(os.path.join(b, "documents.parquet"), "rb") as g:
            self.assertEqual(f.read(), g.read())

    def test_near_duplicates_copy_an_earlier_document(self):
        import pyarrow.parquet as pq
        d, _ = self.write("a", 9, ["documents"])
        t = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
        text = dict(zip(t["doc_id"], t["text"]))
        dups = [i for i, s in text.items() if s.endswith(" dup")]
        self.assertGreater(len(dups), 0)
        originals = {s for i, s in text.items()}
        for i in dups:
            self.assertIn(text[i][:-4], originals)


class PercentileTest(unittest.TestCase):
    def test_median_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(100)), 0.9), 89)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(stats.percentile(xs, 0.5), 3.0)

    def test_summary_quartiles(self):
        s = stats.summary([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((s["median"], s["n"]), (3.0, 5))
        self.assertEqual((s["q1"], s["q3"]), (1.5, 4.5))


def sample(op, ms, error=None, p=1):
    return {"op": op, "pass": p, "ms": ms, "build_ms": 1.0, "action_ms": 1.0,
            "error": error}


class FailedOpsTest(unittest.TestCase):
    def batch_result(self, samples):
        return {"samples": samples, "passes": [{"pass": 1, "s": 1.0}],
                "driver_heap_mb": 100.0, "ops": sorted({s["op"] for s in samples})}

    def count(self, samples, correct):
        a = SimpleNamespace(workload="lab_queries", trace=0)
        attempted, failed, e2e, _, ops, _ = run.metrics(
            a, self.batch_result(samples), 1.0, correct, None)
        return attempted, failed, e2e["error_rate"], ops

    def test_all_good(self):
        s = [sample(f"q{i}", 10.0) for i in range(20)]
        self.assertEqual(self.count(s, {f"q{i}": True for i in range(20)})[:3],
                         (20, 0, 0.0))

    def test_errors_and_incorrect_ops_both_count(self):
        s = [sample("a", 1.0, p=1), sample("b", 1.0, "boom", p=1),
             sample("a", 1.0, p=2), sample("b", 1.0, p=2),
             sample("c", 1.0, p=1), sample("c", 1.0, p=2)]
        attempted, failed, rate, ops = self.count(
            s, {"a": True, "b": True, "c": False})
        # b failed once by exception; c is wrong on both of its runs
        self.assertEqual((attempted, failed), (6, 3))
        self.assertAlmostEqual(rate, 0.5)
        self.assertEqual(ops["b"]["errors"], 1)
        self.assertFalse(ops["c"]["correct"])

    def test_stream_drain_mismatch_fails_every_drain_batch(self):
        a = SimpleNamespace(workload="stream_ingest", trace=0)
        res = {"samples": [dict(sample("ingest", 5.0), lag_ms=0.0)
                           for _ in range(4)],
               "passes": [{"pass": 1, "s": 2.0}], "driver_heap_mb": 1.0,
               "batches": 6, "drain_batches": 4, "drain_errors": [],
               "docs_per_s": 10.0}
        attempted, failed, _, _, _, _ = run.metrics(
            a, res, 1.0, {}, {"open": True, "drain": False})
        self.assertEqual((attempted, failed), (8, 4))

    def test_expected_stream_keeps_first_arrival(self):
        docs = [(5, "a b"), (3, "A  b"), (9, "c"), (1, "a b"), (2, "c"), (7, "d")]
        # batch 1 keeps doc 3 (lowest id of its "a b" pair) and 9; batch 2
        # drops 1 and 2 as already seen and keeps 7
        self.assertEqual(run.expected_stream(docs, 2, 3),
                         {(1, 3), (1, 9), (2, 7)})


@unittest.skipUnless(run.spark_home(), "no Spark install")
class AttributionTest(unittest.TestCase):
    def test_jobs_land_on_the_op_that_ran_them(self):
        jars = run.spark_jars()
        build_dir = os.path.abspath(os.environ.get(
            "CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))
        classes, bench = run.build(ROOT, build_dir, jars)
        work = scratch_dir()
        try:
            cmd = ["java", "-XX:-UsePerfData", "-Xmx1g"]
            for p in run.JVM_OPENS:
                cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
            cmd += ["-Djava.io.tmpdir=" + work, "-cp",
                    f"{bench}:{classes}:{jars}/*", "perfbench.PerfBench",
                    "selftest", work]
            r = subprocess.run(cmd, capture_output=True, text=True, cwd=work,
                               timeout=170)
            self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
            self.assertIn("selftest jobs a=1.0 b=3.0", r.stdout)
        finally:
            shutil.rmtree(work)


if __name__ == "__main__":
    unittest.main()
