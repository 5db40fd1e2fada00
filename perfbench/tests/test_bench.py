"""Tests for the benchmark's own code (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "checkpoint")
# the per-layer metrics of every curation call a pass makes
OPS_AND_STORES = ([f"op.{o}.{k}" for o in run.OPS for k in ("ms", "jobs")]
                  + [f"store.{f}.{k}" for f in run.STORES
                     for k in ("write_ms", "serve_ms", "bytes")])


class GeneratorTest(unittest.TestCase):
    def test_stream_is_deterministic_per_seed(self):
        a, b = gen.stream_files(7, 50), gen.stream_files(7, 50)
        self.assertEqual(a, b)
        self.assertNotEqual(a, gen.stream_files(8, 50))

    def test_stream_shape(self):
        files = gen.stream_files(3, 60)
        rows = [r for f in files for r in f]
        originals = [r for r in rows if r["orig"]]
        self.assertEqual(len(originals), 60 * gen.ROWS_PER_FILE)
        self.assertEqual(len({r["event_id"] for r in originals}), len(originals))
        resends = [r for r in rows if not r["orig"]]
        by_id = {r["event_id"]: r for r in originals}
        for r in resends:  # exact re-sends: the same row as an original
            self.assertEqual(dict(r, orig=True), by_id[r["event_id"]])
        self.assertAlmostEqual(len(resends) / len(originals), gen.RESEND_RATE, places=2)

    def test_corpus_and_split_are_deterministic(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            gen.corpus_tables(d1)
            gen.corpus_tables(d2)
            run.write_split(5, d1)
            run.write_split(5, d2)
            for name in ("documents", "embeddings", "events", "split"):
                t1 = pq.read_table(os.path.join(d1, f"{name}.parquet"))
                t2 = pq.read_table(os.path.join(d2, f"{name}.parquet"))
                self.assertTrue(t1.equals(t2), name)
            run.write_split(6, d2)
            self.assertFalse(pq.read_table(os.path.join(d1, "split.parquet")).equals(
                pq.read_table(os.path.join(d2, "split.parquet"))))

    def test_split_keeps_the_final_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            split = {}
            for seed in (1, 2):
                run.write_split(seed, d)
                t = pq.read_table(os.path.join(d, "split.parquet")).to_pylist()
                kinds = {}
                for r in t:
                    kinds.setdefault(r["kind"], set()).add(r["id"])
                split[seed] = kinds
            for seed, k in split.items():
                self.assertFalse(k["doc_build"] & k["doc_ingest"])
                self.assertEqual(k["doc_build"] | k["doc_ingest"], set(range(gen.N_DOCS)))
                self.assertTrue(set(range(10)) <= k["vec_build"])  # IVF queries
            self.assertNotEqual(split[1]["doc_build"], split[2]["doc_build"])
            for fixed in ("doc_forget", "vec_forget", "user_forget"):
                self.assertEqual(split[1][fixed], split[2][fixed])


class StagingTest(unittest.TestCase):
    def test_mtime_order_is_event_time_order(self):
        files = gen.stream_files(11, 45)
        with tempfile.TemporaryDirectory() as d:
            names = gen.write_stream(d, files)
            by_mtime = sorted(names, key=lambda n: os.stat(os.path.join(d, n)).st_mtime_ns)
            self.assertEqual(by_mtime, names)
            mtimes = [os.stat(os.path.join(d, n)).st_mtime_ns for n in names]
            self.assertEqual(len(set(mtimes)), len(mtimes))
            for n, rows in zip(names, files):
                self.assertEqual(pq.read_table(os.path.join(d, n)).num_rows, len(rows))
        prev_max = None
        for f, rows in enumerate(files):
            orig = [r["ts"] for r in rows if r["orig"]]
            lo = gen.T0_MS + f * gen.FILE_SPAN_MS
            self.assertTrue(all(lo <= t < lo + gen.FILE_SPAN_MS for t in orig))
            if prev_max is not None:
                self.assertLess(prev_max, min(orig))
            prev_max = max(orig)
            # disorder only inside a file: anything older is a re-send
            self.assertTrue(all(not r["orig"] for r in rows if r["ts"] < lo))
            self.assertNotEqual(orig, sorted(orig))


class PercentileTest(unittest.TestCase):
    def test_ten_beyond_rule(self):
        self.assertEqual(stats.percentile(range(100), 90), 89)
        with self.assertRaises(ValueError):
            stats.percentile(range(99), 90)
        self.assertEqual(stats.percentile(range(20), 50), 9)
        with self.assertRaises(ValueError):
            stats.percentile(range(19), 50)
        with self.assertRaises(ValueError):
            stats.percentile(range(1000), 100)

    def test_nearest_rank(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 40  # 200 samples, 40 of each
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 90), 5.0)
        self.assertEqual(stats.median([1, 2, 3, 4]), 2.5)


class LatencyMappingTest(unittest.TestCase):
    """The fixture is the file-source log of a recorded run (paths
    shortened) and its commit and due times: 175 files over batches 0-10,
    including the compacted log file ``9.compact`` Spark writes every ten
    batches. Only the 125 open-loop files have a due time."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        shutil.copytree(os.path.join(FIXTURE, "sources"), os.path.join(self.tmp, "sources"))
        with open(os.path.join(FIXTURE, "recorded.json")) as fh:
            self.rec = json.load(fh)
        commits = os.path.join(self.tmp, "commits")
        os.makedirs(commits)
        for b, ms in self.rec["commit_ms"].items():
            p = os.path.join(commits, b)
            open(p, "w").close()
            ns = int(ms * 1_000_000)
            os.utime(p, ns=(ns, ns))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_mapping_from_recorded_log(self):
        fb = stats.read_source_log(os.path.join(self.tmp, "sources", "0"))
        self.assertEqual(fb, self.rec["file_batch"])
        commits = stats.read_commit_times(os.path.join(self.tmp, "commits"))
        lat = stats.file_latencies(self.rec["due_ms"], fb, commits)
        for f, want in self.rec["latency_ms"].items():
            self.assertAlmostEqual(lat[f], want, places=3)

    def test_lost_file_is_an_error(self):
        fb = stats.read_source_log(os.path.join(self.tmp, "sources", "0"))
        commits = stats.read_commit_times(os.path.join(self.tmp, "commits"))
        with self.assertRaises(ValueError):
            stats.file_latencies({"events-99999.parquet": 0}, fb, commits)
        del commits[fb[sorted(self.rec["due_ms"])[-1]]]
        with self.assertRaises(ValueError):
            stats.file_latencies(self.rec["due_ms"], fb, commits)

    def test_backlog(self):
        moved = {"a": 0, "b": 10, "c": 20, "d": 30}
        fb = {"a": 0, "b": 1, "c": 1, "d": 2}
        self.assertEqual(stats.backlog_max(moved, fb, {0: 5, 1: 25, 2: 40}), 2)


class ReferenceTest(unittest.TestCase):
    def test_spike_alerts_and_dedup_and_limit(self):
        def ev(i, ts, user, value, orig=True):
            return dict(event_id=i, ts=ts, user_id=user, event_type="view",
                        value=value, orig=orig)
        calm = [ev(i, 1000 * i, 1, 10.0 + (i % 3) * 0.5) for i in range(25)]
        spike = ev(100, 30_000, 1, 99.0)
        files = [calm[:12], calm[12:] + [spike, dict(calm[3], orig=False)]]
        self.assertEqual(set(stats.reference_alerts(files, limit=1000)), {100})
        # the spike is past the user's hourly limit: not admitted, no alert
        self.assertEqual(stats.reference_alerts(files, limit=20), {})


class BenchmarkJsonTest(unittest.TestCase):
    def test_matches_the_runner(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         ["setup_s", "peak_rss_mb", "work_cpu_s"])
        names = [n for n, _ in run.per_layer()]
        self.assertEqual(len(names), len(set(names)))
        for name in OPS_AND_STORES:
            self.assertIn(name, names)

    def test_expected_covers_the_pass(self):
        with open(run.EXPECTED) as fh:
            expected = json.load(fh)
        self.assertEqual(sorted(expected["ops"]), sorted(run.OPS))
        self.assertEqual(sorted(expected["stores"]), sorted(run.STORES))


if __name__ == "__main__":
    unittest.main()
