"""Unit tests for the benchmark's percentile and aggregation code.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


def sample(kind, ms, span="", ok=True, rows=20, key=None):
    return {"kind": kind, "key": key or f"{kind}|{ms}", "client": 0, "span": span,
            "start": 0.0, "build_ms": ms / 4, "exec_ms": ms * 3 / 4, "ok": ok,
            "rows": rows, "error": "" if ok else "boom"}


def span(id_, name, start, end, parent="", attrs=None, jobs=()):
    return {"id": id_, "parent": parent, "name": name, "start": start, "end": end,
            "attrs": attrs or {}, "jobs": list(jobs)}


def job(id_, start, end, sql="1", **metrics):
    return {"job": id_, "sql_execution": sql, "start": start, "end": end, "metrics": metrics}


class PercentileTest(unittest.TestCase):
    def test_matches_statistics_inclusive_quantiles(self):
        xs = [7.0, 1.0, 3.5, 9.25, 2.0, 11.0, 4.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25), q1)
        self.assertAlmostEqual(stats.median(xs), q2)
        self.assertAlmostEqual(stats.percentile(xs, 75), q3)

    def test_edges(self):
        self.assertIsNone(stats.percentile([], 50))
        self.assertEqual(stats.percentile([4], 95), 4.0)
        self.assertEqual(stats.percentile([1, 2], 0), 1)
        self.assertEqual(stats.percentile([1, 2], 100), 2)
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 95), 3.85)

    def test_tail_count(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.tail_count(xs, 95), 10)
        self.assertEqual(stats.tail_count([], 95), 0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        xs = list(range(1, 41))
        q = stats.tail_percentile(xs)
        self.assertGreaterEqual(stats.tail_count(xs, q), 10)
        self.assertLess(stats.tail_count(xs, q + 1), 10)
        self.assertEqual(stats.tail_percentile(list(range(200))), 95)
        self.assertIsNone(stats.tail_percentile(list(range(10))))


class HelpersTest(unittest.TestCase):
    def test_mix_median_weights_each_kinds_median(self):
        ss = [sample("a", 100), sample("a", 300), sample("a", 200), sample("b", 1000)]
        self.assertEqual(stats.mix_median(ss, {"a": 3, "b": 1, "c": 6}), (3 * 200 + 1000) / 4)
        self.assertIsNone(stats.mix_median([], {"a": 1}))

    def test_union_length_merges_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)], 2, 25), 18)
        self.assertEqual(stats.union_length([], 0, 10), 0)
        self.assertEqual(stats.union_length([(12, 15)], 0, 10), 0)

    def test_repeat_share(self):
        self.assertEqual(stats.repeat_share(["a", "b", "a", "a"]), 0.5)
        self.assertEqual(stats.repeat_share([]), 0.0)


def batch_result(samples, traced_wall=None):
    phases = {"untraced": {"wall_ms": 2000.0, "clients": 1}}
    if traced_wall:
        phases["traced"] = {"wall_ms": traced_wall, "clients": 1}
    return {
        "context": {"workload": "retrieval", "nproc": 4,
                    "mix": {"find_keyword": 30, "search": 10, "suggest": 6}},
        "samples": samples,
        "phases": phases,
        "setup": {"setup_s": 22.0, "ingest_docs_per_s": 20.0,
                  "freshness_ms": 800.0, "index_bytes": 500,
                  "input_bytes": 100, "ingest_documents_s": 3.0, "ingest_vectors_s": 2.0,
                  "ingest_relations_s": 1.0, "register_s": 0.5, "text_bytes": 300,
                  "vector_bytes": 150, "graph_bytes": 50},
        "live_heap_mb": 123.0,
        "checks": {"attempted": 5, "failed": []},
    }


class EndToEndTest(unittest.TestCase):
    def test_batch_metrics_from_untraced_samples(self):
        samples = [sample("find_keyword", ms) for ms in (100, 200, 300, 400)]
        samples.append(sample("search", 1000))
        samples.append(sample("find_keyword", 5000, span="s9"))  # traced: excluded
        samples.append(sample("find_keyword", 1, ok=False))  # failed: no latency
        m = stats.end_to_end(batch_result(samples))
        self.assertEqual(set(m), {"latency_p50_ms", "throughput_rps", "setup_s",
                                  "ingest_docs_per_s", "freshness_p50_ms",
                                  "index_bytes_per_input_byte", "live_heap_mb"})
        # the mix's suggest kind ran no request: the weights of the kinds seen
        self.assertEqual(m["latency_p50_ms"]["value"], (30 * 250.0 + 10 * 1000) / 40)
        self.assertEqual(m["throughput_rps"]["value"], 5 / 2.0)
        self.assertEqual(m["setup_s"]["value"], 22.0)
        self.assertEqual(m["ingest_docs_per_s"]["value"], 20.0)
        self.assertEqual(m["freshness_p50_ms"]["value"], 800.0)
        self.assertEqual(m["index_bytes_per_input_byte"]["value"], 5.0)
        self.assertEqual(m["live_heap_mb"], {"value": 123.0, "unit": "MB"})

    def test_stream_metrics_from_landings(self):
        # the marker reads are not in the mix: freshness, not read latency
        r = batch_result([sample("stream_find", 50), sample("stream_find", 70),
                          sample("stream_marker", 3000)])
        r["context"].update(workload="stream_ingest", mix={"stream_find": 70})
        r["stream"] = {"write_docs": [50, 50], "write_segment_ms": [4000.0, 6000.0],
                       "freshness_ms": [5000.0, 7000.0, 6500.0], "index_bytes": 900,
                       "write_failures": 0}
        m = stats.end_to_end(r)
        self.assertEqual(m["latency_p50_ms"]["value"], 60.0)
        self.assertEqual(m["throughput_rps"]["value"], 2 / 0.12)
        self.assertEqual(m["ingest_docs_per_s"]["value"], 10.0)
        self.assertEqual(m["freshness_p50_ms"]["value"], 6500.0)
        self.assertEqual(m["index_bytes_per_input_byte"]["value"], 9.0)

    def test_report_counts_failures_and_context(self):
        samples = [sample("find_keyword", 10, key="k"), sample("find_keyword", 20, key="k"),
                   sample("search", 30, ok=False)]
        r = batch_result(samples)
        r["checks"] = {"attempted": 4, "failed": ["mismatch"]}
        rep = stats.report(r)
        self.assertFalse(rep["correct"])
        self.assertEqual(rep["attempted"], 7)
        self.assertEqual(rep["failed"], 2)
        self.assertAlmostEqual(rep["context"]["error_rate"], 2 / 7)
        self.assertEqual(rep["context"]["requests_per_kind"], {"find_keyword": 2, "search": 1})
        self.assertAlmostEqual(rep["context"]["repeat_share"], 1 / 3)
        self.assertNotIn("per_layer", rep)


class PerLayerTest(unittest.TestCase):
    def trace(self):
        return [
            span("s1", "setup", 0, 100),
            span("s2", "ingest_documents", 0, 50, parent="s1", jobs=[job(1, 0, 10), job(2, 10, 20)]),
            span("s3", "ingest_vectors", 50, 80, parent="s1", jobs=[job(3, 50, 60)]),
            span("s4", "register", 80, 90, parent="s1", jobs=[job(4, 80, 85)]),
            span("r1", "request", 1000, 1100, attrs={"kind": "find_keyword"}),
            span("b1", "build", 1000, 1040, parent="r1",
                 jobs=[job(5, 1010, 1030, sql="7", input_rows=100.0, task_ms=40.0, stages=1.0)]),
            span("e1", "exec", 1040, 1100, parent="r1",
                 jobs=[job(6, 1050, 1090, sql="8", input_rows=50.0, task_ms=80.0, stages=2.0)]),
            span("r2", "request", 1200, 1260, attrs={"kind": "find_keyword"}),
            span("b2", "build", 1200, 1210, parent="r2"),
            span("e2", "exec", 1210, 1260, parent="r2",
                 jobs=[job(7, 1220, 1250, sql="9", input_rows=30.0, task_ms=40.0, stages=1.0)]),
            span("p1", "probe.bm25", 1110, 1130, attrs={"request": "r1"},
                 jobs=[job(8, 1112, 1120, task_ms=10.0)]),
        ]

    def test_api_spark_sources_and_probes(self):
        samples = [sample("find_keyword", 100, span="r1", rows=20),
                   sample("find_keyword", 60, span="r2", rows=10),
                   sample("find_keyword", 50), sample("find_keyword", 70)]
        m = stats.per_layer(batch_result(samples, traced_wall=500.0), self.trace())
        v = {k: x["value"] for k, x in m.items()}
        self.assertEqual(m["api.find_keyword.jobs"]["unit"], "count")
        self.assertEqual(m["spark.input_bytes"]["unit"], "bytes")
        self.assertEqual(v["api.find_keyword.p50_ms"], 80.0)
        self.assertEqual(v["api.find_keyword.build_ms"], 25.0)
        self.assertEqual(v["api.find_keyword.exec_ms"], 55.0)
        self.assertEqual(v["api.find_keyword.jobs"], 2.0)  # r1's build and exec jobs
        self.assertNotIn("api.search.jobs", v)  # no traced search request
        self.assertEqual(v["spark.stages"], 2.0)
        self.assertEqual(v["spark.sql_executions"], 1.5)
        self.assertEqual(v["spark.input_rows"], 90.0)
        # r1: 100 ms wall, jobs cover 20 + 40; r2: 60 ms wall, jobs cover 30
        self.assertEqual(v["spark.driver_ms"], (40.0 + 30.0) / 2)
        self.assertEqual(v["spark.rows_examined_per_result"], 180.0 / 30)
        # requests + probe task time over the traced wall on 4 cores
        self.assertEqual(v["spark.core_busy"], 170.0 / (500.0 * 4))
        self.assertEqual(v["sources.ingest_jobs"], 3.0)
        self.assertEqual(v["sources.ingest_documents_s"], 3.0)
        self.assertEqual(v["functions.bm25_ms"], 20.0)
        self.assertEqual(v["functions.bm25_jobs"], 1.0)
        self.assertNotIn("operators.ann_ms", v)  # no ANN probe ran
        self.assertNotIn("streaming.write_segment_ms", v)
        self.assertEqual(v["trace.traced_p50_ms"], 80.0)
        self.assertEqual(v["trace.untraced_p50_ms"], 60.0)
        self.assertAlmostEqual(v["trace.overhead_ratio"], 80.0 / 60.0)

    def test_streaming_layer(self):
        r = batch_result([sample("stream_find", 100, span="r1"),
                          sample("stream_marker", 100, span="m1")], traced_wall=500.0)
        r["context"].update(workload="stream_ingest", mix={"stream_find": 70})
        r["stream"] = {"write_segment_ms": [4000.0, 6000.0, 5000.0],
                       "bytes_written_per_doc": [10.0, 30.0], "compact_ms": [700.0],
                       "live_segments": [2, 3, 2, 1], "write_docs": [50, 50, 50],
                       "freshness_ms": [1.0], "index_bytes": 1, "write_failures": 0}
        spans = [
            span("w1", "write_segment", 0, 4000, jobs=[job(1, 0, 1), job(2, 1, 2)]),
            span("m1", "request", 4000, 4100, attrs={"kind": "stream_marker", "first_read": True},
                 jobs=[job(3, 4000, 4050)]),
            span("r1", "request", 4900, 5000, attrs={"kind": "stream_find"},
                 jobs=[job(5, 4900, 4950), job(6, 4950, 4990)]),
            span("c1", "compact", 4100, 4800, jobs=[job(4, 4100, 4200)]),
        ]
        v = {k: x["value"] for k, x in stats.per_layer(r, spans).items()}
        self.assertEqual(v["streaming.write_segment_ms"], 5000.0)
        self.assertEqual(v["streaming.write_segment_jobs"], 2.0)
        self.assertEqual(v["streaming.bytes_written_per_doc"], 20.0)
        self.assertEqual(v["streaming.first_read_ms"], 100.0)
        self.assertEqual(v["streaming.first_read_jobs"], 1.0)
        self.assertEqual(v["streaming.compact_ms"], 700.0)
        self.assertEqual(v["streaming.compact_jobs"], 1.0)
        self.assertEqual(v["streaming.live_segments_mean"], 2.0)
        self.assertNotIn("sources.ingest_documents_s", v)
        # the marker read is the first read, not a stream_find sample
        self.assertEqual(v["api.stream_find.jobs"], 2.0)
        self.assertNotIn("api.stream_marker.jobs", v)


class SelectTest(unittest.TestCase):
    def test_listed_metrics_with_absent_layers(self):
        computed = {"a": {"value": 1.5, "unit": "ms"}, "extra": {"value": 2.0, "unit": "s"}}
        self.assertEqual(stats.select(computed, {"a": "ms", "b": "count"}, absent=0.0),
                         {"a": {"value": 1.5, "unit": "ms"}, "b": {"value": 0.0, "unit": "count"}})

    def test_missing_or_mismatched_metric_raises(self):
        with self.assertRaises(ValueError):
            stats.select({}, {"a": "ms"})
        with self.assertRaises(ValueError):
            stats.select({"a": {"value": 1.0, "unit": "s"}}, {"a": "ms"})


if __name__ == "__main__":
    unittest.main()
