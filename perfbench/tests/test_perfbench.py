"""Tests for the benchmark's own code (not the engine).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402


def small(workload):
    p = dict(gen.PARAMS[workload])
    p.update(docs=300, vocab=500)
    if workload == "serve_mixed":
        p.update(vectors=200, requests=50, ann_queries=16)
    return p


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.saved = dict(gen.PARAMS)
        for w in gen.PARAMS:
            gen.PARAMS[w] = small(w)

    def tearDown(self):
        gen.PARAMS.clear()
        gen.PARAMS.update(self.saved)

    def tmpdir(self):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        return d

    def files(self, workload, seed):
        d = self.tmpdir()
        gen.generate(d, workload, seed)
        out = {}
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = fh.read()
        return out

    def test_same_seed_gives_identical_bytes(self):
        for w in gen.PARAMS:
            a, b = self.files(w, 5), self.files(w, 5)
            self.assertEqual(sorted(a), sorted(b))
            for f in a:
                self.assertEqual(a[f], b[f], f"{w}/{f} differs between runs")

    def test_other_seed_gives_other_inputs(self):
        a, b = self.files("serve_mixed", 5), self.files("serve_mixed", 6)
        self.assertNotEqual(a["documents.parquet"], b["documents.parquet"])
        self.assertNotEqual(a["embeddings.parquet"], b["embeddings.parquet"])

    def test_text_is_single_spaced_lowercase(self):
        import pyarrow.parquet as pq
        d = self.tmpdir()
        props = gen.generate(d, "neardup_batch", 3)
        texts = pq.read_table(os.path.join(d, "documents.parquet"))["text"].to_pylist()
        for t in texts:
            self.assertRegex(t, r"^[a-z]+( [a-z]+)*$")
        self.assertEqual(props["tokens"], sum(len(t.split(" ")) for t in texts))
        self.assertGreater(props["near_dup_share"], 0.0)
        with open(os.path.join(d, "inputs.json")) as f:
            self.assertEqual(json.load(f), props)

    def test_fixture_search_terms_are_in_the_vocabulary(self):
        for w in ("spark", "stream", "window"):
            self.assertIn(w, gen.FIXTURE_WORDS)


class OracleTest(unittest.TestCase):
    """The check flags wrong values, wrong row counts and wrong order."""

    def test_compare(self):
        import duckdb
        import oracle
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        os.makedirs(os.path.join(d, "check", "op"))
        duckdb.connect().execute(
            f"COPY (SELECT * FROM (VALUES (1, 0.5), (2, 0.25)) t(doc_id, score)) "
            f"TO '{d}/check/op/part-0.parquet' (FORMAT parquet)")
        rows = "SELECT * FROM (VALUES (1, 0.5), (2, 0.25)) t(doc_id, score)"
        check = os.path.join(d, "check")
        self.assertEqual(oracle.compare(d, check, {"op": rows}), [])
        for wrong in (rows.replace("0.25", "0.26"),
                      rows.replace(", (2, 0.25)", ""),
                      rows + " ORDER BY doc_id DESC"):
            self.assertEqual([op for op, _ in oracle.compare(d, check, {"op": wrong})],
                             ["op"], wrong)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(range(1, 101)), (90, 90.0, 10))
        self.assertEqual(metrics.tail(range(1, 1001)), (990, 99.0, 10))
        self.assertEqual(metrics.tail(range(1, 201)), (190, 95.0, 10))

    def test_median_is_the_last_resort(self):
        self.assertEqual(metrics.tail(range(1, 21)), (10, 50.0, 10))
        self.assertIsNone(metrics.tail(range(1, 20)))
        self.assertIsNone(metrics.tail([]))

    def test_order_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(reversed(xs)), metrics.tail(xs))


class SchedulerTest(unittest.TestCase):
    # a recorded listener-event list: job start/end in wall-clock ms
    JOBS = [
        {"id": 0, "start_ms": 1000, "end_ms": 1100},
        {"id": 1, "start_ms": 1050, "end_ms": 1150},  # overlaps job 0
        {"id": 2, "start_ms": 1300, "end_ms": 1400},
        {"id": 3, "start_ms": 900, "end_ms": 1010},   # starts before the window
        {"id": 4, "start_ms": 1600, "end_ms": 1700},  # after the window
    ]

    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.intervals_union([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.intervals_union([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.intervals_union([]), 0)

    def test_job_active_and_driver_gap(self):
        s = metrics.scheduler(self.JOBS, (1000, 1500), task_s=0.5, cores=4)
        # active: [1000, 1150] + [1300, 1400] = 250 ms of a 500 ms window
        self.assertAlmostEqual(s["job_active_s"], 0.25)
        self.assertAlmostEqual(s["driver_gap_s"], 0.25)
        self.assertAlmostEqual(s["slot_util"], 0.5 / (0.25 * 4))

    def test_no_jobs_is_all_gap(self):
        s = metrics.scheduler([], (0, 2000), task_s=0.0, cores=4)
        self.assertEqual((s["job_active_s"], s["driver_gap_s"], s["slot_util"]),
                         (0.0, 2.0, 0.0))


class ContractTest(unittest.TestCase):
    """Every metric BENCHMARK.json names is emitted, with its unit."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        span = lambda i, name, op, t, d, parent=-1: dict(  # noqa: E731
            id=i, name=name, parent=parent, op=op, start_ms=t, dur_s=d)
        cls.raw = {
            "setup_s": 3.0, "window_s": 2.0, "cores": 4, "rss_peak_kb": 2048,
            "result_rows": 10, "extra": {"cycle": ["search", "ann.float"]},
            "samples": [{"cls": "search", "ms": 100.0},
                        {"cls": "ann.float", "ms": 200.0},
                        {"cls": "search", "ms": float("nan")}],
            "trace": {
                "spans": [span(0, "search", "m0", 1000, 0.1),
                          span(1, "index.probe", "m0", 1000, 0.1, 0),
                          span(2, "ann.float", "m1", 1100, 0.2),
                          span(3, "serve.search.float", "m1", 1100, 0.2, 2)],
                "jobs": [{"id": 0, "op": "m0", "cls": "search", "phase": "exec",
                          "start_ms": 1000, "end_ms": 1080}],
                "stages": [dict(stage=0, job=0, tasks=4, failures=0, run_ms=120,
                                cpu_ns=10**8, gc_ms=1, fetch_wait_ms=0,
                                shuffle_write=10, shuffle_read=10, spill=0,
                                in_bytes=100, in_rows=50, out_bytes=0, out_rows=0)],
                "plans": [{"start_ms": 1001, "s": 0.01}],
                "cache_peak_bytes": 0, "cache_rdds": 0,
            },
        }

    def test_end_to_end_metrics(self):
        r = metrics.end_to_end(self.raw, {"docs": 5}, [], 1)
        for m in self.spec["end_to_end"]:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsNotNone(r["metrics"][m["name"]]["value"])
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (4, 0, True))
        # two ops per cycle, medians 100 ms + 200 ms: 2 × 5 docs / 0.3 s
        self.assertAlmostEqual(r["metrics"]["docs_per_s"]["value"], 10 / 0.3)
        self.assertEqual(r["metrics"]["search_p50_ms"]["value"], 100.0)

    def test_mismatch_counts_as_failed(self):
        r = metrics.end_to_end(self.raw, {"docs": 5}, [("q5_tfidf", "rows differ")], 1)
        self.assertAlmostEqual(r["details"]["fail_frac"], 1 / 4)
        self.assertEqual((r["failed"], r["correct"]), (1, False))
        self.assertEqual(r["details"]["mismatches"][0]["op"], "q5_tfidf")

    def test_per_layer_metrics(self):
        r = metrics.per_layer(self.raw)
        names = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(set(r["metrics"]), set(names))
        for k, v in r["metrics"].items():
            self.assertEqual(v["unit"], names[k], k)
        self.assertAlmostEqual(r["metrics"]["index.rows_per_hit"]["value"], 5.0)
        self.assertAlmostEqual(r["metrics"]["sched.jobs"]["value"], 0.5)

    def test_names_follow_the_contract(self):
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")


if __name__ == "__main__":
    unittest.main()
