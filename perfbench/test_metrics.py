"""Tests of the benchmark's pure parts.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import tempfile
import unittest

import gen_serve
import metrics as M

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
CONFIG = json.load(open(os.path.join(ROOT, "perfbench", "workloads.json")))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 0.5), 50)
        self.assertEqual(M.percentile(xs, 0.95), 95)
        self.assertEqual(M.percentile([7], 0.95), 7)
        self.assertEqual(M.percentile([3, 1, 2], 0.5), 2)

    def test_samples_beyond(self):
        self.assertEqual(M.samples_beyond(200, 0.95), 10)
        self.assertEqual(M.samples_beyond(199, 0.95), 9)
        self.assertEqual(M.samples_beyond(45, 0.75), 11)

    def test_each_workload_median_keeps_ten_beyond(self):
        cat = CONFIG["catalog_short"]
        n_cat = len(cat["entries"]) * cat["min_passes"]
        self.assertGreaterEqual(M.samples_beyond(n_cat, 0.5), M.MIN_BEYOND)
        n_srv = round(CONFIG["serve_refresh"]["rate_per_s"] * BENCH["run_seconds"])
        self.assertGreaterEqual(M.samples_beyond(n_srv, 0.5), M.MIN_BEYOND)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            M.percentile([], 0.5)


class SpanSelfTime(unittest.TestCase):
    def test_children_overlaps_and_clipping(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "start": 10.0, "end": 30.0},
            {"id": 3, "parent": 1, "start": 20.0, "end": 40.0},   # overlaps 2
            {"id": 4, "parent": 1, "start": 90.0, "end": 120.0},  # runs past the parent
            {"id": 5, "parent": 2, "start": 12.0, "end": 14.0},
        ]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 30 - 10)
        self.assertAlmostEqual(st[2], 18.0)
        self.assertAlmostEqual(st[4], 30.0)
        self.assertAlmostEqual(st[5], 2.0)


class LayerAttribution(unittest.TestCase):
    names = {10: "build", 11: "write", 12: "flow.news_crawl", 13: "register", 14: "query",
             15: "check"}

    def test_callsite_file(self):
        self.assertEqual(M.callsite_file("parquet at Tables.scala:26"), "Tables.scala")
        self.assertEqual(M.callsite_file("save at Harness.scala:301"), "Harness.scala")
        self.assertIsNone(M.callsite_file("run at ThreadPoolExecutor.java:1136"))

    def test_job_layers(self):
        job = lambda span, cs: {"span": span, "callsite": cs}  # noqa: E731
        self.assertEqual(M.job_layer(job(10, "parquet at Tables.scala:26"), self.names), "tables")
        self.assertEqual(M.job_layer(job(10, "collect at Graph.scala:88"), self.names), "queries")
        self.assertEqual(M.job_layer(job(11, "save at Harness.scala:301"), self.names), "exec")
        self.assertEqual(M.job_layer(job(11, "parquet at Tables.scala:26"), self.names), "exec")
        self.assertEqual(M.job_layer(job(12, "start at NewsStream.scala:120"), self.names), "flow")
        self.assertEqual(M.job_layer(job(13, "parquet at Serve.scala:254"), self.names), "serve")
        self.assertEqual(M.job_layer(job(0, "parquet at Tables.scala:26"), self.names), "tables")
        self.assertEqual(M.job_layer(job(0, "collect at Serve.scala:106"), self.names), "request")
        self.assertEqual(M.job_layer(job(14, "collect at X.scala:1"), self.names), "other")
        self.assertEqual(M.job_layer(job(15, "count at Harness.scala:9"), self.names), "harness")
        self.assertEqual(M.job_layer(job(-1, "count at Harness.scala:9"), self.names), "harness")

    def test_unattributed_jobs(self):
        jobs = [{"job": 1, "span": 10}, {"job": 2, "span": 0}, {"job": 3, "span": 15},
                {"job": 4, "span": -1}, {"job": 5, "span": 99}]
        self.assertEqual([j["job"] for j in M.unattributed_jobs(jobs, self.names)], [4, 5])


class OutputSchema(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_contract(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        self.assertIn(len(BENCH["workloads"]), range(2, 9))
        self.assertEqual({w["name"] for w in BENCH["workloads"]}, set(CONFIG))
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in BENCH[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], self.UNIT)
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in BENCH["end_to_end"]))
        for m in BENCH["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], self.UNIT)

    def _line(self, trace, **over):
        want = BENCH["per_layer" if trace else "end_to_end"]
        obj = {"correct": True, "attempted": 5, "failed": 0,
               "metrics": {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in want}}
        obj.update(over)
        return obj

    def test_valid_lines_pass(self):
        self.assertEqual(M.check_output(self._line(0), BENCH, 0), [])
        self.assertEqual(M.check_output(self._line(1), BENCH, 1), [])

    def test_wrong_lines_fail(self):
        line = self._line(0)
        line["metrics"].pop("setup_s")
        self.assertTrue(M.check_output(line, BENCH, 0))
        line = self._line(0)
        line["metrics"]["setup_s"]["unit"] = "ms"
        self.assertTrue(M.check_output(line, BENCH, 0))
        self.assertTrue(M.check_output(self._line(0, attempted=0), BENCH, 0))
        self.assertTrue(M.check_output(self._line(1), BENCH, 0))
        line = self._line(0)
        line["metrics"]["setup_s"]["value"] = float("inf")
        self.assertTrue(M.check_output(line, BENCH, 0))


class ServeInputs(unittest.TestCase):
    def test_seeded_and_counted(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra = gen_serve.write(a, 7, 50)
            rb = gen_serve.write(b, 7, 50)
            self.assertEqual(ra, rb)
            for f in ("fixtures/contamination_a.csv", "ticks/3/news_003_a.json"):
                self.assertEqual(open(os.path.join(a, f)).read(), open(os.path.join(b, f)).read())
            expected = ra[2]
            seen = set()
            for g in range(len(expected)):
                d = os.path.join(a, "ticks", str(g))
                for f in sorted(os.listdir(d)):
                    for line in open(os.path.join(d, f)):
                        r = json.loads(line)
                        seen.add((r["link"], r["date"]))
                self.assertEqual(len(seen), expected[g])
            per_tick = gen_serve.SIZES["news_per_tick"]
            self.assertEqual(expected[0], per_tick)
            self.assertLess(expected[-1], per_tick * len(expected))  # duplicates landed
            self.assertNotEqual(gen_serve.write(os.path.join(b, "other"), 8, 50)[1], ra[1])

    def test_mix_follows_the_search_page(self):
        with tempfile.TemporaryDirectory() as a:
            pools, reqs, _ = gen_serve.write(a, 3, 100)
        seq = reqs[0]
        for kind, share in gen_serve.MIX.items():
            self.assertEqual(sum(1 for k, _ in seq if k == kind), round(share * 100))
        urls = [u for _, op in seq for u in op]
        self.assertEqual(sum(u.startswith("/search?") for u in urls),
                         sum(u.startswith("/suggest?") for u in urls))
        for search, suggest in pools["keystroke"]:
            typed = search.split("q=")[1].split("&")[0].split("%20")
            self.assertEqual(suggest, f"/suggest?q={typed[-1]}")


if __name__ == "__main__":
    unittest.main()
