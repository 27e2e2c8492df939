"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator test builds the benchmark on first use (as run.py does).
"""
import json
import math
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def scala_layer_names():
    with open(os.path.join(HERE, "src", "main", "scala", "perfbench", "Trace.scala")) as f:
        src = f.read()
    body = src[src.index("val metricNames"):]
    body = body[:body.index(")")]
    return re.findall(r'"([^"]+)"', body)


class TailPercentile(unittest.TestCase):
    def test_known_sizes(self):
        self.assertEqual(run.tail_percentile(165), 93)
        self.assertEqual(run.tail_percentile(55), 81)
        self.assertEqual(run.tail_percentile(1000), 99)
        self.assertEqual(run.tail_percentile(21), 52)

    def test_nothing_above_the_median(self):
        for n in (0, 1, 7, 12, 20):
            self.assertIsNone(run.tail_percentile(n))

    def test_highest_with_ten_beyond(self):
        for n in range(21, 2000):
            p = run.tail_percentile(n)
            beyond = n - math.ceil(p / 100.0 * n)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) / 100.0 * n), 10, n)

    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(run.nearest_rank(vals, 90), 90)
        self.assertEqual(run.nearest_rank(vals, 50), 50)


class BuildCache(unittest.TestCase):
    def test_hash_follows_the_sources(self):
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "Engine.scala")
            with open(src, "w") as f:
                f.write("object Engine")
            saved = run.SOURCE_DIRS
            run.SOURCE_DIRS = saved + (d,)
            try:
                first = run.sources_hash()
                self.assertEqual(run.sources_hash(), first)
                with open(src, "a") as f:
                    f.write(" { val x = 1 }")
                self.assertNotEqual(run.sources_hash(), first)
            finally:
                run.SOURCE_DIRS = saved


class MetricNames(unittest.TestCase):
    def test_names_use_allowed_characters(self):
        spec = run._bench_spec()
        names = ([m["name"] for m in spec["end_to_end"]] +
                 [m["name"] for m in spec["per_layer"]] +
                 [w["name"] for w in spec["workloads"]] +
                 list(run.END_TO_END_UNITS) + scala_layer_names())
        for n in names:
            self.assertRegex(n, NAME)

    def test_spec_matches_run_py(self):
        spec = run._bench_spec()
        self.assertEqual([m["name"] for m in spec["per_layer"]], scala_layer_names())
        for m in spec["end_to_end"]:
            self.assertEqual(run.END_TO_END_UNITS[m["name"]], m["unit"])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(run.WORKLOADS))


class GeneratorMatchesEngine(unittest.TestCase):
    def test_expected_counts_match_covid_transform(self):
        classpath, _ = run.ensure_build()
        with tempfile.TemporaryDirectory(dir=run.build_dir()) as d:
            csv = os.path.join(d, "covid.csv")
            exp = gen.covid_csv(csv, os.path.join(d, "stream"), 5000, seed=7)
            out = subprocess.run(
                run.java_cmd(classpath, "perfbench.CovidCounts",
                             {"csv": csv, "work": d}),
                cwd=d, capture_output=True, text=True, timeout=170)
            self.assertEqual(out.returncode, 0, out.stderr[-2000:])
            got = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(got["clean"], exp["clean"])
        self.assertEqual(got["elt_final"], exp["elt_final"])
        self.assertEqual(got["rejects"], exp["rejects"])
        self.assertEqual(exp["clean"] + sum(exp["rejects"].values()), exp["rows"])

    def test_same_seed_same_inputs(self):
        a, ea = gen.covid_rows(2000, 3)
        b, eb = gen.covid_rows(2000, 3)
        c, _ = gen.covid_rows(2000, 4)
        self.assertEqual((a, ea), (b, eb))
        self.assertNotEqual(a, c)

    def test_dirty_share(self):
        _, e = gen.covid_rows(20000, 1)
        share = sum(e["rejects"].values()) / e["rows"]
        self.assertTrue(0.03 < share < 0.05, share)


if __name__ == "__main__":
    unittest.main()
