"""Tests of the benchmark's pure helpers. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""

import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gitgen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        self.assertEqual(metrics.tail(xs), (90, 90, 10))
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail(xs), (990, 99, 10))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 8  # 40 samples
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        self.assertEqual(metrics.tail(xs)[1:], (75, 10))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 0))
        self.assertEqual(metrics.tail(list(range(19)))[1:], (100, 0))
        self.assertEqual(metrics.tail(list(range(20)))[1:], (50, 10))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            dict(id=0, parent=-1, name="op", start=0, end=10_000),
            dict(id=1, parent=0, name="a", start=1_000, end=5_000),
            dict(id=2, parent=0, name="b", start=3_000, end=7_000),  # overlaps a
            dict(id=3, parent=1, name="c", start=2_000, end=3_000),
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 4.0)  # 10 s minus the union [1, 7]
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 4.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [dict(id=0, parent=-1, name="op", start=0, end=2_000),
                 dict(id=1, parent=0, name="a", start=1_500, end=4_000)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 1.5)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_streams(self):
        a = gitgen.generate(11, 120, 3, 2, 0.05)
        b = gitgen.generate(11, 120, 3, 2, 0.05)
        c = gitgen.generate(12, 120, 3, 2, 0.05)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_same_seed_same_shas_and_oracle(self):
        heads = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                paths = gitgen.materialize(gitgen.generate(5, 150, 2, 1, 0.05), d)
                heads.append([gitgen.git(p, "rev-parse", "main") for p in paths])
                o = gitgen.combine([gitgen.oracle(p) for p in paths])
                # A day-2 batch continues main: the history only grows.
                before = gitgen.oracle(paths[0])["commits"]
                with open(os.path.join(d, "batches", "repo0", "0000.fi"), "rb") as f:
                    gitgen.git(paths[0], "fast-import", "--quiet", stdin=f.read())
                self.assertGreater(gitgen.oracle(paths[0])["commits"], before)
        self.assertEqual(heads[0], heads[1])
        self.assertGreater(o["commits"], 0)
        self.assertEqual(o["repos"], 2)

    def test_history_covers_parser_corners(self):
        with tempfile.TemporaryDirectory() as d:
            paths = gitgen.materialize(gitgen.generate(3, 1500, 1, 0, 0), d)
            raw = subprocess.run(["git", "-C", paths[0], "log", "main", "--numstat",
                                  "--format=%P"], stdout=subprocess.PIPE, check=True
                                 ).stdout.decode()
            o = gitgen.oracle(paths[0])
        self.assertIn("=>", raw)            # renames
        self.assertIn("-\t-\t", raw)        # binary numstat
        self.assertTrue(any(" " in l.split("\t")[-1] for l in raw.splitlines()
                            if l.count("\t") == 2 and "=>" not in l))  # spaces in paths
        self.assertGreater(o["merges"], 0)
        self.assertGreater(o["rejects"], 0)
        self.assertGreater(o["annotated_tags"], 0)
        self.assertGreater(o["tags"], o["annotated_tags"])  # lightweight tags too


class GitShimTest(unittest.TestCase):
    def test_counts_calls_and_log_bytes_and_passes_output_through(self):
        with tempfile.TemporaryDirectory() as d:
            repo = gitgen.materialize(gitgen.generate(7, 40, 1, 0, 0), f"{d}/git")[0]
            shim, calls, log_bytes = run.git_shim(f"{d}/work")
            env = dict(os.environ, PATH=shim + os.pathsep + os.environ["PATH"])

            def git(*args):
                return subprocess.run(["git", *args], cwd=repo, env=env,
                                      stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
            log = git("log", "main", "--numstat")
            self.assertEqual(log.returncode, 0)
            self.assertEqual(log.stdout, subprocess.run(
                ["git", "log", "main", "--numstat"], cwd=repo, stdout=subprocess.PIPE).stdout)
            self.assertNotEqual(git("log", "no-such-branch").returncode, 0)
            self.assertEqual(git("rev-parse", "main").returncode, 0)
            with open(calls) as f:
                self.assertEqual(f.read().split(), ["log", "log", "rev-parse"])
            with open(log_bytes) as f:
                self.assertEqual([int(x) for x in f.read().split()], [len(log.stdout), 0])


if __name__ == "__main__":
    unittest.main()
