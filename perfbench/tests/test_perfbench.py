"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

The first test to need the harness compiles it (about 20 s). The
digest test runs a sample of queries at sf0.001 (about a minute).
"""
import copy
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import canon  # noqa: E402
import make_expected  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
with open(run.WORKLOADS) as f:
    SPEC = json.load(f)

# Oracle queries whose results between them carry every column type
# graft's results have: bigint, int, double, string, boolean, timestamp
# and timestamp_ntz (and a Spark timestamp against a DuckDB date).
DIGEST_SAMPLE = [
    "bloom_join", "events_gapfill", "mm_frame_sample", "rel_agg_incremental",
    "rel_interval_arith", "rel_decimal_agg", "rel_string_funcs", "rel_null_semantics",
    "events_sessionize", "sim_embed_stats", "graph_degree_hist", "stream_tumbling_window",
    "src_json_roundtrip",
]

_classes = None


def classes():
    global _classes
    if _classes is None:
        _classes = run.build()
    return _classes


class MetricNames(unittest.TestCase):
    def test_grammar(self):
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["name"], metrics.NAME)
            self.assertRegex(m["unit"], metrics.UNIT)
        for w in BENCH["workloads"]:
            self.assertRegex(w["name"], metrics.NAME)
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        self.assertEqual(len(names), len(set(names)))

    def test_per_layer_matches_benchmark_json(self):
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["per_layer"]},
                         metrics.per_layer_names())

    def test_end_to_end_matches_benchmark_json(self):
        execs = [{"q": f"q{i}", "pass": p, "wall_s": 1.0 + i, "cpu_s": 2.0}
                 for p in range(4) for i in range(5)]
        res = {"execs": execs, "setup": {"setup_s": 9.0}, "live_heap_mb": 1.0,
               "scratch_mb": 1.0}
        got = metrics.end_to_end(res)
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["end_to_end"]},
                         {k: u for k, (_, u) in got.items()})
        self.assertEqual(got["cold_pass_s"][0], 15.0)
        self.assertEqual(got["warm_pass_s"][0], 15.0)

    def test_counted_passes_are_fixed_by_index(self):
        # Passes 1 and 2 are slower (JIT settling) and never count, also
        # when a run is cut short after pass 3.
        def res(last):
            execs = [{"q": "q", "pass": p, "wall_s": 9.0 if p in (1, 2) else 1.0 + p,
                      "cpu_s": 1.0} for p in range(last + 1)]
            return {"execs": execs, "setup": {"setup_s": 1.0}, "live_heap_mb": 1.0,
                    "scratch_mb": 1.0}
        self.assertEqual(metrics.end_to_end(res(5))["warm_pass_s"][0], 5.0)
        self.assertEqual(metrics.end_to_end(res(3))["warm_pass_s"][0], 4.0)
        self.assertEqual(metrics.counted_passes(res(5)["execs"]), 3)
        self.assertEqual(metrics.counted_passes(res(4)["execs"]), 2)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(SPEC["workloads"]))


class Canon(unittest.TestCase):
    def test_numbers(self):
        self.assertEqual(canon.number(0.5), "0.500000")
        self.assertEqual(canon.number(-1e-9), "0.000000")
        self.assertEqual(canon.number(2.0000005), "2.000001")  # above the tie in binary
        self.assertEqual(canon.number(float("nan")), "NaN")
        self.assertEqual(canon.token(True), "true")
        self.assertEqual(canon.token(3), "3")
        self.assertEqual(canon.token(None), "\\N")

    def test_order_free(self):
        a = canon.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = canon.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, canon.digest(["a", "b"], [("y", 2), ("x", 2)]))

    def test_scala_matches_duckdb_at_sf0001(self):
        import duckdb
        data = os.path.join(HERE, "data", "sf0.001")
        work = tempfile.mkdtemp(dir=os.path.abspath(run.BUILD))
        oracle = run.jvm(classes(), "oracle", os.path.join(work, "oracle.json"))
        saved = run.DATA
        run.DATA = data
        try:
            res = run.jvm(classes(), "digest", os.path.join(work, "digest.json"),
                          queries=",".join(DIGEST_SAMPLE))
        finally:
            run.DATA = saved
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for e in res["execs"]:
            with self.subTest(query=e["q"]):
                self.assertNotIn("error", e)
                want, n = canon.duckdb_digest(con, oracle[e["q"]])
                self.assertEqual((e["digest"], e["rows"]), (want, n))


class Assignment(unittest.TestCase):
    def listing(self, spec):
        work = tempfile.mkdtemp(dir=os.path.abspath(run.BUILD))
        path = os.path.join(work, "workloads.json")
        with open(path, "w") as f:
            json.dump(spec, f)
        saved = run.WORKLOADS
        run.WORKLOADS = path
        try:
            return run.jvm(classes(), "list", os.path.join(work, "list.json"))
        finally:
            run.WORKLOADS = saved

    def test_every_query_in_exactly_one_family(self):
        got = self.listing(SPEC)
        counts = {}
        for v in got.values():
            counts[v["workload"]] = counts.get(v["workload"], 0) + 1
        self.assertEqual(counts, {"batch_sql": 119, "iterative_index": 44,
                                  "stream_ingest": 38, "excluded": 7})
        self.assertEqual({v["module"] for v in got.values() if v["workload"] != "excluded"},
                         set(metrics.MODULES))
        for w, v in SPEC["workloads"].items():
            for q in v["queries"]:
                self.assertEqual(got[q]["workload"], w)

    def test_prefix_assignment(self):
        got = self.listing(SPEC)
        for q, v in got.items():
            fams = [w for w, s in SPEC["workloads"].items()
                    if any(q.startswith(p) for p in s["prefixes"])]
            self.assertEqual(fams or ["excluded"], [v["workload"]], q)

    def test_unassigned_query_refuses_to_start(self):
        spec = copy.deepcopy(SPEC)
        spec["workloads"]["batch_sql"]["prefixes"].remove("bloom_")
        with self.assertRaisesRegex(run.BenchError, "exited 3"):
            self.listing(spec)

    def test_timed_query_outside_family_refuses_to_start(self):
        spec = copy.deepcopy(SPEC)
        spec["workloads"]["batch_sql"]["queries"].append("graph_pagerank")
        with self.assertRaisesRegex(run.BenchError, "exited 3"):
            self.listing(spec)


class Expected(unittest.TestCase):
    def test_compare_reports_every_difference(self):
        stored = {"a": {"digest": "d1", "rows": 1}, "b": {"rows": 2, "schema": "x:int"},
                  "c": {"digest": "d3", "rows": 3}, "gone": {"digest": "d4", "rows": 4}}
        graft = {"a": {"q": "a", "pass": 0, "digest": "d1", "rows": 1, "schema": "s"},
                 "b": {"q": "b", "pass": 0, "digest": "zz", "rows": 2, "schema": "x:int"},
                 "c": {"q": "c", "pass": 0, "digest": "other", "rows": 3, "schema": "s"},
                 "new": {"q": "new", "pass": 0, "error": "Boom: no"}}
        got = make_expected.compare(graft, stored)
        self.assertEqual([p.split(":")[0] for p in got], ["c", "gone", "new"])
        self.assertEqual(make_expected.compare({"a": graft["a"], "b": graft["b"]},
                                               {"a": stored["a"], "b": stored["b"]}), [])


    def test_every_runnable_query_has_an_expected_result(self):
        with open(run.EXPECTED) as f:
            exp = json.load(f)
        self.assertEqual(len(exp["queries"]), 201)
        self.assertFalse(set(exp["queries"]) & set(SPEC["excluded"]))


if __name__ == "__main__":
    unittest.main()
