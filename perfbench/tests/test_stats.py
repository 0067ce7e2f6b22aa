"""Unit tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def write_log(dir_, name, entries):
    with open(os.path.join(dir_, name), "w") as f:
        f.write("v1\n")
        for path, batch in entries:
            f.write(json.dumps({"path": path, "timestamp": 0, "batchId": batch}) + "\n")


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertEqual(stats.median(xs), 3.0)
        self.assertAlmostEqual(stats.percentile(xs, 75), 4.0)
        self.assertAlmostEqual(stats.percentile([1.0, 2.0], 50), 1.5)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 90), 9.0)

    def test_single_value_and_empty(self):
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class FileBatchesTest(unittest.TestCase):
    def test_plain_batch_files(self):
        with tempfile.TemporaryDirectory() as d:
            write_log(d, "0", [("file:///s/a.json", 0)])
            write_log(d, "1", [("file:///s/b.json", 1), ("file:///s/c.json", 1)])
            self.assertEqual(stats.file_batches(d),
                             {"a.json": 0, "b.json": 1, "c.json": 1})

    def test_compact_file_carries_earlier_batches(self):
        # batch 9 is compacted: 9.compact repeats batches 0-8 with their own
        # ids and the plain files 0-8 have been deleted
        with tempfile.TemporaryDirectory() as d:
            entries = [(f"file:///s/f{i}.json", i) for i in range(10)]
            write_log(d, "9.compact", entries)
            write_log(d, "10", [("file:///s/f10.json", 10)])
            got = stats.file_batches(d)
            self.assertEqual(len(got), 11)
            self.assertEqual(got["f3.json"], 3)
            self.assertEqual(got["f9.json"], 9)
            self.assertEqual(got["f10.json"], 10)

    def test_compact_and_surviving_batch_files_agree(self):
        with tempfile.TemporaryDirectory() as d:
            write_log(d, "8", [("file:///s/x.json", 8)])
            write_log(d, "9.compact", [("file:///s/x.json", 8), ("file:///s/y.json", 9)])
            # temp and checksum files of the log are not batch files
            open(os.path.join(d, ".9.compact.crc"), "w").close()
            self.assertEqual(stats.file_batches(d), {"x.json": 8, "y.json": 9})


class FreshnessTest(unittest.TestCase):
    def progress(self, batch, ts, trigger_ms, add_batch=True):
        d = {"triggerExecution": trigger_ms, "latestOffset": 1}
        if add_batch:
            d["addBatch"] = trigger_ms - 5
        return json.dumps({"batchId": batch, "timestamp": ts, "durationMs": d,
                           "numInputRows": 10})

    def test_commit_is_trigger_start_plus_duration(self):
        commits = stats.batch_commits([
            self.progress(3, "2026-01-01T00:00:01.000Z", 250)])
        self.assertAlmostEqual(commits[3][0], 1767225601250.0)

    def test_idle_progress_does_not_shadow_the_batch(self):
        commits = stats.batch_commits([
            self.progress(4, "2026-01-01T00:00:01.000Z", 300),
            self.progress(5, "2026-01-01T00:00:09.000Z", 2, add_batch=False)])
        self.assertEqual(sorted(commits), [4])

    def test_freshness_from_due_time(self):
        commits = stats.batch_commits([
            self.progress(0, "2026-01-01T00:00:01.000Z", 500)])
        due = 1767225600800.0
        rows = stats.freshness(
            [{"file": "a.json", "due_ms": due}, {"file": "lost.json", "due_ms": due}],
            {"a.json": 0}, commits)
        self.assertAlmostEqual(rows[0][2], 0.7)
        self.assertEqual(rows[0][1], 0)
        self.assertIsNone(rows[1][2])


if __name__ == "__main__":
    unittest.main()
