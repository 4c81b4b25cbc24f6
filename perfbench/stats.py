"""Aggregation of one benchmark run: the benchmark JVM's raw record
(`result.json`) and, for traced runs, its span trace (`trace.jsonl`)
become the end-to-end and per-layer metrics that run.py prints.

Pure Python with no dependencies, so the percentile and aggregation
code is unit-tested on its own (perfbench/tests/test_stats.py).
"""

import math

SPARK_COUNTERS = ("stages", "tasks", "task_ms", "task_cpu_ms", "gc_ms", "input_rows",
                  "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")

# (metric prefix, probe span layer, whether it reports jobs)
PROBES = (("functions.bm25", "bm25", True),
          ("operators.ann", "ann", True),
          ("operators.fusion", "fusion", False),
          ("operators.facets", "facets", False),
          ("operators.graph", "graph", False))


def _unit_of_counter(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


# --------------------------------------------------------------------------
# statistics

def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks (the 'inclusive' definition); None for no values."""
    xs = sorted(values)
    if not xs:
        return None
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def tail_count(values, q):
    """How many samples lie strictly beyond the q-th percentile."""
    p = percentile(values, q)
    return 0 if p is None else sum(1 for v in values if v > p)


def tail_percentile(values, k=10):
    """The highest whole percentile with at least k samples beyond it
    (None when there are too few samples for any)."""
    for q in range(99, -1, -1):
        if tail_count(values, q) >= k:
            return q
    return None


def mean(values):
    values = list(values)
    return sum(values) / len(values) if values else None


def union_length(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def repeat_share(keys):
    """Fraction of requests identical to an earlier one."""
    seen, repeats = set(), 0
    for k in keys:
        if k in seen:
            repeats += 1
        seen.add(k)
    return repeats / len(keys) if keys else 0.0


# --------------------------------------------------------------------------
# end-to-end metrics

def reads(samples, mix, traced=False):
    """The successful read requests of the mix's kinds, in the traced or
    the untraced stretch. Stream marker reads are not in the mix: their
    cost is freshness and the first read after a landing."""
    return [s for s in samples
            if s["ok"] and s["kind"] in mix and bool(s["span"]) == traced]


def mix_median(samples, mix):
    """The mix-weighted median latency: each kind's median, weighted by
    the kind's share of the mix. Unlike the pooled median of a mix whose
    kinds differ several-fold in latency, it does not jump between kinds
    when a few samples shift."""
    by_kind = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s["build_ms"] + s["exec_ms"])
    seen = {k: w for k, w in mix.items() if k in by_kind}
    total = sum(seen.values())
    return sum(w * median(by_kind[k]) for k, w in seen.items()) / total if total else None


def end_to_end(result):
    ctx = result["context"]
    mix = ctx["mix"]
    lat = [s["build_ms"] + s["exec_ms"] for s in reads(result["samples"], mix)]
    clients = result["phases"]["untraced"]["clients"]
    setup = result["setup"]
    if ctx["workload"] == "stream_ingest":
        st = result["stream"]
        ingest = sum(st["write_docs"]) / (sum(st["write_segment_ms"]) / 1000.0)
        fresh = median(st["freshness_ms"])
        index_bytes = st["index_bytes"]
    else:
        ingest, fresh, index_bytes = (setup["ingest_docs_per_s"], setup["freshness_ms"],
                                      setup["index_bytes"])
    return {
        "latency_p50_ms": {"value": mix_median(reads(result["samples"], mix), mix),
                           "unit": "ms"},
        # completed reads per second of the clients' read time: the
        # closed loop's read rate, without the stream workload's writes
        "throughput_rps": {"value": len(lat) * clients / (sum(lat) / 1000.0), "unit": "1/s"},
        "setup_s": {"value": setup["setup_s"], "unit": "s"},
        "ingest_docs_per_s": {"value": ingest, "unit": "docs/s"},
        "freshness_p50_ms": {"value": fresh, "unit": "ms"},
        "index_bytes_per_input_byte": {"value": index_bytes / setup["input_bytes"],
                                       "unit": "ratio"},
        "live_heap_mb": {"value": result["live_heap_mb"], "unit": "MB"},
    }


# --------------------------------------------------------------------------
# per-layer metrics from the span trace

class Trace:
    """Spans indexed by id, with each span's jobs including its
    descendants' (a request owns the jobs of its build and exec)."""

    def __init__(self, spans):
        self.spans = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s["id"])

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]

    def jobs(self, span_id):
        out = list(self.spans[span_id]["jobs"])
        for c in self.children.get(span_id, ()):
            out += self.jobs(c)
        return out

    def child(self, span_id, name):
        for c in self.children.get(span_id, ()):
            if self.spans[c]["name"] == name:
                return self.spans[c]
        return None

    @staticmethod
    def duration(span):
        return span["end"] - span["start"]


def per_layer(result, spans):
    """The layer metrics the run's trace holds: `api.<kind>.*` for each
    kind of the mix that ran, `spark.*` per read request, `sources.*`
    (batch set-up) or `streaming.*` (stream landings), the probes that
    ran and the tracing overhead."""
    tr = Trace(spans)
    ctx = result["context"]
    mix = ctx["mix"]
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    requests = [r for r in tr.named("request") if r["attrs"]["kind"] in mix]
    rows_by_span = {s["span"]: s["rows"] for s in result["samples"] if s["span"]}

    by_kind = {}
    for r in requests:
        by_kind.setdefault(r["attrs"]["kind"], []).append(r)
    for kind, rs in by_kind.items():
        builds = [tr.child(r["id"], "build") for r in rs]
        execs = [tr.child(r["id"], "exec") for r in rs]
        put(f"api.{kind}.p50_ms", median([tr.duration(r) for r in rs]), "ms")
        put(f"api.{kind}.build_ms", median([tr.duration(b) for b in builds if b]) or 0.0, "ms")
        put(f"api.{kind}.exec_ms", median([tr.duration(e) for e in execs if e]) or 0.0, "ms")
        # the kind's first traced request: the seeded stream makes it the
        # same request in every run of a seed, however many fit the window
        first = min(rs, key=lambda r: r["start"])
        put(f"api.{kind}.jobs", len(tr.jobs(first["id"])), "count")

    if requests:
        n = len(requests)
        totals = {c: 0.0 for c in SPARK_COUNTERS}
        sql, driver, rows_in, rows_out = 0, 0.0, 0.0, 0
        for r in requests:
            js = tr.jobs(r["id"])
            for j in js:
                for c in SPARK_COUNTERS:
                    totals[c] += j["metrics"].get(c, 0.0)
            sql += len({j["sql_execution"] for j in js if j["sql_execution"]})
            covered = union_length([(j["start"], j["end"]) for j in js
                                    if j["end"] is not None], r["start"], r["end"])
            driver += tr.duration(r) - covered
            rows_in += sum(j["metrics"].get("input_rows", 0.0) for j in js)
            rows_out += rows_by_span.get(r["id"], 0)
        for c in SPARK_COUNTERS:
            put(f"spark.{c}", totals[c] / n, _unit_of_counter(c))
        put("spark.sql_executions", sql / n, "count")
        put("spark.driver_ms", driver / n, "ms")
        put("spark.rows_examined_per_result", rows_in / max(rows_out, 1), "ratio")
        # useful work: task time of every job in the traced phase
        first = min(r["start"] for r in requests)
        phase = [s for s in tr.spans.values() if s["start"] >= first and not s["parent"]]
        task_ms = sum(j["metrics"].get("task_ms", 0.0) for s in phase for j in tr.jobs(s["id"]))
        wall = result["phases"]["traced"]["wall_ms"]
        put("spark.core_busy", task_ms / (wall * ctx["nproc"]), "ratio")

    setup = result["setup"]
    if ctx["workload"] != "stream_ingest":
        for s in ("ingest_documents_s", "ingest_vectors_s", "ingest_relations_s", "register_s"):
            put(f"sources.{s}", setup[s], "s")
        for s in ("text_bytes", "vector_bytes", "graph_bytes"):
            put(f"sources.{s}", setup[s], "bytes")
        put("sources.ingest_jobs", sum(len(tr.jobs(c["id"])) for c in spans
                                       if c["name"].startswith("ingest_")), "count")
    else:
        st = result["stream"]
        writes = tr.named("write_segment")
        first_reads = [r for r in tr.named("request") if r["attrs"].get("first_read")]
        put("streaming.write_segment_ms", median(st["write_segment_ms"]) or 0.0, "ms")
        put("streaming.write_segment_jobs",
            median([len(tr.jobs(w["id"])) for w in writes]) or 0.0, "count")
        put("streaming.bytes_written_per_doc", median(st["bytes_written_per_doc"]) or 0.0,
            "bytes/doc")
        put("streaming.first_read_ms", median([tr.duration(r) for r in first_reads]) or 0.0, "ms")
        put("streaming.first_read_jobs",
            median([len(tr.jobs(r["id"])) for r in first_reads]) or 0.0, "count")
        put("streaming.compact_ms", median(st["compact_ms"]) or 0.0, "ms")
        put("streaming.compact_jobs",
            median([len(tr.jobs(c["id"])) for c in tr.named("compact")]) or 0.0, "count")
        put("streaming.live_segments_mean", mean(st["live_segments"]) or 0.0, "count")

    for name, layer, with_jobs in PROBES:
        ps = tr.named(f"probe.{layer}")
        if ps:
            put(f"{name}_ms", median([tr.duration(p) for p in ps]), "ms")
            if with_jobs:
                put(f"{name}_jobs", median([len(tr.jobs(p["id"])) for p in ps]), "count")

    traced = mix_median(reads(result["samples"], mix, traced=True), mix)
    untraced = mix_median(reads(result["samples"], mix), mix)
    if traced and untraced:
        put("trace.traced_p50_ms", traced, "ms")
        put("trace.untraced_p50_ms", untraced, "ms")
        put("trace.overhead_ratio", traced / untraced, "ratio")
    return m


def select(computed, listed, absent=None):
    """The listed metrics ({name: unit}) out of the computed ones. A
    listed metric the run did not compute takes the value `absent` (a
    layer the workload does not exercise), or raises when `absent` is
    None; a unit that differs from the listed one raises."""
    out = {}
    for name, unit in listed.items():
        got = computed.get(name)
        if got is None:
            if absent is None:
                raise ValueError(f"metric {name} was not computed")
            got = {"value": float(absent), "unit": unit}
        if got["unit"] != unit:
            raise ValueError(f"metric {name} is in {got['unit']}, listed in {unit}")
        out[name] = got
    return out


# --------------------------------------------------------------------------
# the run's report

def report(result, spans=None):
    samples = result["samples"]
    checks = result["checks"]
    failed_reads = sum(1 for s in samples if not s["ok"])
    st = result.get("stream", {})
    writes = len(st.get("write_docs", ()))
    attempted = len(samples) + writes + checks["attempted"]
    failed = failed_reads + st.get("write_failures", 0) + len(checks["failed"])
    lat = [s["build_ms"] + s["exec_ms"] for s in reads(samples, result["context"]["mix"])]
    tail_q = tail_percentile(lat)
    counts = {}
    for s in samples:
        counts[s["kind"]] = counts.get(s["kind"], 0) + 1
    ctx = dict(result["context"])
    ctx.update({
        "requests_per_kind": counts,
        "repeat_share": repeat_share([s["key"] for s in samples]),
        "latency_samples": len(lat),
        "latency_pooled_p50_ms": median(lat),
        "latency_p95_ms": percentile(lat, 95),
        "latency_p95_tail_samples": tail_count(lat, 95),
        "latency_tail_pct": tail_q,
        "latency_tail_ms": None if tail_q is None else percentile(lat, tail_q),
        "error_rate": failed / attempted if attempted else 0.0,
        "check_failures": checks["failed"][:20],
        "read_errors": sorted({s["error"] for s in samples if not s["ok"]})[:20],
    })
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "context": ctx, "end_to_end": end_to_end(result)}
    if spans is not None:
        out["per_layer"] = per_layer(result, spans)
    return out


def describe(rep):
    """Human-readable lines: run context, then every metric with its unit."""
    ctx = rep["context"]
    lines = [f"context {k} = {ctx[k]}" for k in sorted(ctx)]
    lines.append(f"error_rate = {ctx['error_rate']:.6f} (failed {rep['failed']} "
                 f"of {rep['attempted']} operations)")
    for section in ("end_to_end", "per_layer"):
        for k, v in rep.get(section, {}).items():
            lines.append(f"{section} {k} = {v['value']:.6g} {v['unit']}")
    return lines
