"""The benchmark's own tests (no Spark needed):
  python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import math
import os
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen_corpus  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.files, cls.rows, cls.meta = gen_corpus.generate(5)

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_corpus.write(a, 5)
            gen_corpus.write(b, 5)
            for sub in ("live", "alt", "."):
                names = sorted(os.listdir(os.path.join(a, sub)))
                self.assertEqual(names, sorted(os.listdir(os.path.join(b, sub))))
                _, mismatch, errors = filecmp.cmpfiles(
                    os.path.join(a, sub), os.path.join(b, sub),
                    [n for n in names if os.path.isfile(os.path.join(a, sub, n))], shallow=False)
                self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_files(self):
        files, _, _ = gen_corpus.generate(6)
        self.assertNotEqual(files, self.files)

    def test_reference_shape(self):
        live = [f for f in self.files if f.startswith("live/")]
        self.assertEqual(len(live), 37)
        self.assertEqual(self.meta["features"], 388)
        self.assertEqual(self.meta["levels"], {"1": 1, "2": 18, "3": 135, "4": 234})
        self.assertTrue(500000 < self.meta["points"] < 600000, self.meta["points"])
        self.assertIn("live/11_Aceh.geojson", live)
        self.assertEqual(sum(f.endswith("_kecamatan.geojson") for f in live), 14)
        self.assertEqual(sum(f.endswith("_kelurahan.geojson") for f in live), 4)

    def test_code_grammar_and_edges(self):
        features = [(name, feat) for name, text in self.files.items() if name.startswith("live/")
                    for feat in json.loads(text)["features"]]
        keys = {r[1] for r in self.rows if r[0] == "live"}
        self.assertEqual(len(keys), 388, "codes are unique")
        for name, feat in features:
            p = feat["properties"]
            if "nm_kecamatan" in p:
                self.assertEqual(len(p["kd_kecamatan"]), 3)
                self.assertIn("11.%s.%s" % (p["kd_dati2"], p["kd_kecamatan"][-2:]), keys)
            if "nm_kelurahan" in p and "kd_kelurahan" in p:
                self.assertIn("11.%s.%s.2%s" % (p["kd_dati2"], p["kd_kecamatan"][-2:],
                                                p["kd_kelurahan"]), keys)
        self.assertEqual(sum("nm_kelurahan" in f["properties"] and "kd_kelurahan" not in f["properties"]
                             for _, f in features), 1, "one feature must be quarantined")
        types = {f["geometry"]["type"] for _, f in features}
        self.assertEqual(types, {"Polygon", "MultiPolygon"})
        dims = {len(pt) for _, f in features for pt in _points(f["geometry"])}
        self.assertEqual(dims, {2, 3})
        self.assertTrue(any(n.startswith("live/11.") and n.count("_") >= 1 and
                            n[len("live/11."):][:2].isdigit() and "Aceh_" in n for n in self.files),
                        "a level-2 file named 11.NN_Aceh_...")

    def test_alt_versions_rename_and_add_one_kecamatan(self):
        alt = {r[1]: (r[2], r[3]) for r in self.rows if r[0] == "alt"}
        live = {r[1]: (r[2], r[3]) for r in self.rows if r[0] == "live"}
        kabs = {k for k, (level, _) in alt.items() if level == 2}
        self.assertEqual(len(kabs), 14)
        for kab in kabs:
            under_live = {k for k in live if k.startswith(kab)}
            under_alt = {k for k in alt if k.startswith(kab)}
            added = under_alt - under_live
            self.assertEqual(under_live - under_alt, set(), kab)
            self.assertEqual([alt[k][0] for k in added], [3], kab)
            for k in under_live:
                self.assertNotEqual(alt[k][1], live[k][1])


def _points(geom):
    polys = geom["coordinates"] if geom["type"] == "MultiPolygon" else [geom["coordinates"]]
    return [pt for poly in polys for ring in poly for pt in ring]


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([7.0], 99), 7.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(1000))), (99, 989))
        self.assertEqual(metrics.tail(list(range(200)))[0], 95)
        self.assertEqual(metrics.tail(list(range(100)))[0], 90)
        self.assertEqual(metrics.tail(list(range(99)))[0], 85)
        self.assertEqual(metrics.tail(list(range(40)))[0], 75)
        self.assertEqual(metrics.tail(list(range(39)))[0], 70)
        self.assertEqual(metrics.tail(list(range(33)))[0], 60)
        self.assertEqual(metrics.tail(list(range(20)))[0], 50)
        self.assertIsNone(metrics.tail(list(range(19))))
        for n in (20, 33, 40, 57, 100, 333, 1000, 5000):
            p, v = metrics.tail(list(range(n)))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10)

    def test_median(self):
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertTrue(math.isnan(metrics.median([])))

    def test_api_mixed_latency_weights_each_read_kind_median(self):
        # three searches at 100 ms, one geojson at 300 ms; resyncs are not reads
        ops = [{"kind": k, "ms": ms} for k, ms in (("search", 90), ("search", 100), ("search", 500),
                                                    ("geojson", 300), ("resync", 2000))]
        self.assertAlmostEqual(metrics.op_p50({"workload": "api_mixed"}, ops), 150.0)

    def test_api_mixed_throughput_is_the_median_round(self):
        # three rounds of two operations: 10/s, 4/s and a slow 1/s
        ops = [{"round": r, "ms": ms} for r, ms in ((1, 100), (1, 100), (2, 250), (2, 250),
                                                   (3, 1000), (3, 1000))]
        self.assertAlmostEqual(metrics.ops_per_s({"workload": "api_mixed"}, ops), 4.0)


def fake_result(workload, trace):
    """A harness result with every record the metrics read."""
    ops, spans, jobs, stages, queries = [], [], [], [], []
    t = 1_700_000_000_000  # ms
    kinds = {"suite_slice": ["query"],
             "api_mixed": ["search", "status", "by_level", "geojson", "resync"]}[workload]
    for i in range(20):
        kind = kinds[i % len(kinds)]
        seg = "traced" if trace and i % 2 else "timed"
        op = {"kind": kind, "ms": 100.0 + i, "segment": seg, "rows_out": 3, "query": "q%d" % (i % 4),
              "round": 1 + i // 10}
        ops.append(op)
        if seg == "traced":
            sid = len(spans)
            spans.append({"id": sid, "parent": -1, "name": kind, "start_ns": t * 10**6,
                          "end_ns": (t + 100) * 10**6, "op": True, "op_index": i,
                          "query": op["query"]})
            for child in ("suite.build", "suite.exec"):
                spans.append({"id": len(spans), "parent": sid, "name": child,
                              "start_ns": (t + 1) * 10**6, "end_ns": (t + 50) * 10**6})
            jobs += [{"job": i, "start_ms": t + 10, "stages": [i], "group": None},
                     {"job": i, "end_ms": t + 60}]
            stages.append({"stage": i, "tasks": 4, "cpu_ns": 10**7, "run_ms": 20,
                           "shuffle_read_bytes": 10, "shuffle_write_bytes": 100, "spill_bytes": 0,
                           "input_bytes": 1000, "input_records": 30, "output_bytes": 500})
            queries.append({"func": "collect", "ok": True, "files_read": 2, "partitions_read": 2,
                            "scans": 1, "phases": {"planning": {"start_ms": t + 2, "end_ms": t + 5}}})
        t += 200
    names = ["ingest.discover", "ingest.parse_exec", "geo.normalize_exec", "geo.simplify",
             "store.merge_write.full", "store.merge_write.resync"]
    for n in names:
        spans.append({"id": len(spans), "parent": -1, "name": n, "start_ns": t * 10**6,
                      "end_ns": (t + 100) * 10**6})
        t += 200
    detail = {"input_bytes": 1000, "features": 388, "queries": ["q0", "q1", "q2", "q3"],
              "layer.ingest.input_bytes": 1000, "layer.ingest.features": 389,
              "layer.ingest.quarantined": 1, "layer.geo.points_in": 100,
              "layer.geo.points_out": 40, "layer.geo.simplify_fallbacks": 1,
              "layer.store.load_ms": [50.0, 60.0]}
    for label in ("full", "resync"):
        detail.update({"layer.store.%s.incoming_bytes" % label: 100,
                       "layer.store.%s.bytes_written" % label: 300,
                       "layer.store.%s.files_written" % label: 2})
    detail["full_sync"] = {"ms": 3000.0, "features": 388, "input_bytes": 2000,
                           "warehouse_bytes": 500}
    return {"workload": workload, "seed": 1, "trace": trace, "ops": ops, "checks": 20,
            "failures": [], "detail": detail, "peak_rss_mb": 1500.0,
            "heap_after_gc_peak_mb": 400.0, "setup": {"build_s": 6.0, "total_s": 9.0},
            "trace_records": {"spans": spans, "jobs": jobs, "stages": stages, "queries": queries}}


class OracleCheckTest(unittest.TestCase):
    """check_suite marks exactly the queries the repository's oracle
    compare does not pass."""

    def test_wrong_and_missing_answers_fail(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as work:
            answers = os.path.join(work, "answers")
            for name, x in (("q_right", 1), ("q_wrong", 2), ("q_rows_only", 3)):
                os.makedirs(os.path.join(answers, name))
                pq.write_table(pa.table({"x": pa.array([x], pa.int32())}),
                               os.path.join(answers, name, "part-0.parquet"))
            with open(os.path.join(answers, "oracle_sql.json"), "w") as f:
                json.dump({"q_right": "SELECT 1 AS x", "q_wrong": "SELECT 1 AS x",
                           "q_missing": "SELECT 1 AS x"}, f)
            names = ["q_right", "q_wrong", "q_rows_only", "q_missing"]
            result = {"detail": {"queries": names}, "failures": [],
                      "ops": [{"query": n} for n in names]}
            run.check_suite(result, work, deadline=time.time() + 120)
            self.assertEqual({o["query"] for o in result["ops"] if o.get("failed")},
                             {"q_wrong", "q_missing"})
            self.assertEqual(len(result["failures"]), 2)


class ContractTest(unittest.TestCase):
    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], list(run.WORKLOADS))

    def test_names_are_well_formed(self):
        names = [w["name"] for w in SPEC["workloads"]] + \
            [x["name"] for x in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for w in run.WORKLOADS:
            for trace in (0, 1):
                r = fake_result(w, trace)
                shown = metrics.layer_detail(r) if trace else metrics.detail(r)
                for n in shown:
                    self.assertRegex(n, metrics.NAME_RE)

    def test_printed_metrics_are_exactly_the_declared_ones(self):
        e2e = {x["name"]: x["unit"] for x in SPEC["end_to_end"]}
        layer = {x["name"]: x["unit"] for x in SPEC["per_layer"]}
        self.assertIn("setup_s", e2e)
        for w in run.WORKLOADS:
            got = metrics.end_to_end(fake_result(w, 0))
            self.assertEqual({k: v["unit"] for k, v in got.items()}, e2e, w)
            got = metrics.per_layer(fake_result(w, 1))
            self.assertEqual({k: v["unit"] for k, v in got.items()}, layer, w)
            for v in list(metrics.end_to_end(fake_result(w, 0)).values()) + list(got.values()):
                self.assertFalse(math.isnan(v["value"]), w)

    def test_bounds(self):
        for x in SPEC["end_to_end"]:
            self.assertLessEqual(x["bound"], 0.25)
        setup = next(x for x in SPEC["end_to_end"] if x["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(x["bound"] for x in SPEC["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
