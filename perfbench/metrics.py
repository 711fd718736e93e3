"""Turns one harness result (result.json) into the benchmark's metrics.

The end-to-end and per-layer metrics (BENCHMARK.json) are shared by
every workload; each workload defines its own operation. The workload's
own figures, named as in perfbench/README.md, go into a detail record
printed above the result line.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

READS = ("search", "status", "by_level", "geojson")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(xs, candidates=(99.9, 99, 95, 90, 85, 80, 75, 70, 60, 50)):
    """The highest of `candidates` with at least ten samples beyond it,
    as (percentile, value); None when too few samples allow none."""
    n = len(xs)
    for p in candidates:
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p, percentile(xs, p)
    return None


def m(value, unit, **extra):
    d = {"value": value, "unit": unit}
    d.update(extra)
    return d


# ---------------------------------------------------------------- e2e

def ops_of(result, segment="timed"):
    return [o for o in result["ops"] if o["segment"] == segment]


def per_query(ops):
    by_q = {}
    for o in ops:
        by_q.setdefault(o["query"], []).append(o["ms"])
    return by_q


def op_p50(result, ops):
    """An operation's median latency. On api_mixed, the read mix's: each
    read kind's median, weighted by its share of the reads; a pooled
    median would fall where the kinds overlap and follow none of them.
    A suite_slice operation is one pass over the slice, timed as the sum
    of the per-query medians."""
    if result["workload"] == "suite_slice":
        return sum(median(v) for v in per_query(ops).values())
    by_kind = {}
    for o in ops:
        if o["kind"] in READS:
            by_kind.setdefault(o["kind"], []).append(o["ms"])
    n = sum(len(v) for v in by_kind.values())
    return sum(len(v) * median(v) for v in by_kind.values()) / n if n else float("nan")


def ops_per_s(result, ops):
    """Operations per second of operation time. On api_mixed, the median
    over the run's rounds of the request mix; a suite_slice operation is
    one pass over the slice."""
    if result["workload"] == "api_mixed":
        by_round = {}
        for o in ops:
            by_round.setdefault(o["round"], []).append(o["ms"])
        return median([1000.0 * len(v) / sum(v) for v in by_round.values()])
    busy_s = sum(o["ms"] for o in ops) / 1000.0
    n = len(ops) / len(per_query(ops))
    return n / busy_s if busy_s else float("nan")


def failures(result):
    ops = result["ops"]
    failed_ops = sum(1 for o in ops if o.get("failed"))
    loose = max(0, len(result["failures"]) - failed_ops)
    attempted = max(1, len(ops))
    return attempted, min(attempted, failed_ops + loose)


def end_to_end(result):
    ops = ops_of(result)
    return {
        "setup_s": m(result["setup"]["total_s"], "s"),
        "op_p50_ms": m(op_p50(result, ops), "ms"),
        "ops_per_s": m(ops_per_s(result, ops), "1/s"),
        "peak_rss_mb": m(result["peak_rss_mb"], "MB"),
    }


def detail(result):
    """The workload's own figures, named as in the metric table."""
    w = result["workload"]
    ops = ops_of(result)
    attempted, failed = failures(result)
    d = {
        "setup_s": m(result["setup"]["total_s"], "s"),
        "ops_failed_frac": m(failed / attempted, "fraction", n=attempted),
        "peak_rss_mb": m(result["peak_rss_mb"], "MB"),
        "heap_after_gc_peak_mb": m(result["heap_after_gc_peak_mb"], "MB"),
    }
    det = result["detail"]
    if w == "api_mixed":
        full = det["full_sync"]
        d["sync_features_per_s"] = m(full["features"] / (full["ms"] / 1000.0), "1/s", n=1)
        d["warehouse_bytes_per_input_byte"] = m(
            full["warehouse_bytes"] / full["input_bytes"], "ratio")
        for kind in READS:
            xs = [o["ms"] for o in ops if o["kind"] == kind]
            d[kind + "_p50_ms"] = m(median(xs), "ms", n=len(xs))
        reads = [o["ms"] for o in ops if o["kind"] in READS]
        t = tail(reads)
        if t:
            d["read_p%g_ms" % t[0]] = m(t[1], "ms", n=len(reads))
        rs = [o["ms"] / 1000.0 for o in ops if o["kind"] == "resync"]
        d["resync_p50_s"] = m(median(rs), "s", n=len(rs))
        busy = sum(o["ms"] for o in ops) / 1000.0
        d["mixed_ops_per_s"] = m(len(ops) / busy, "1/s", n=len(ops))
    elif w == "suite_slice":
        by_q = per_query(ops)
        meds = [median(v) / 1000.0 for v in by_q.values()]
        d["suite_s"] = m(sum(meds), "s", n=len(meds))
        d["query_p50_s"] = m(median(meds), "s", n=len(meds))
        for q, v in sorted(by_q.items()):
            d["query.%s_s" % q] = m(median(v) / 1000.0, "s", n=len(v))
    return d


# -------------------------------------------------------------- traced

class Trace:
    """Jobs, stages and query phases of the traced segment, attributed
    to the spans that contain them in time."""

    def __init__(self, records):
        self.spans = records.get("spans", [])
        jobs = {}
        for j in records.get("jobs", []):
            jobs.setdefault(j["job"], {}).update(j)
        self.jobs = [j for j in jobs.values() if "start_ms" in j and "end_ms" in j]
        self.stages = {s["stage"]: s for s in records.get("stages", [])}
        self.queries = records.get("queries", [])
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)

    @staticmethod
    def _inside(t_ms, span):
        # listener times are whole ms; spans are ns
        return span["start_ns"] - 1e6 < t_ms * 1e6 <= span["end_ns"] + 1e6

    def jobs_in(self, span):
        return [j for j in self.jobs if self._inside(j["start_ms"], span)]

    def phases_in(self, span):
        """(start, duration) of the Catalyst phases that began in the span."""
        return [(ph["start_ms"], ph["end_ms"] - ph["start_ms"]) for q in self.queries
                for ph in q["phases"].values() if self._inside(ph["start_ms"], span)]

    def queries_in(self, span):
        """Queries whose last planning phase ended inside the span."""
        return [q for q in self.queries if q["phases"] and self._inside(
            max(ph["end_ms"] for ph in q["phases"].values()), span)]

    def span_ms(self, span):
        return (span["end_ns"] - span["start_ns"]) / 1e6

    @staticmethod
    def union_ms(intervals):
        total, end = 0.0, -math.inf
        for a, b in sorted(intervals):
            if b <= end:
                continue
            total += b - max(a, end)
            end = b
        return total

    def self_ms(self, span):
        """Span time not covered by its child spans."""
        kids = [(c["start_ns"] / 1e6, c["end_ns"] / 1e6) for c in self.children.get(span["id"], [])]
        return self.span_ms(span) - self.union_ms(kids)

    def split(self, span):
        """Spark-side breakdown of one span."""
        jobs = self.jobs_in(span)
        s0, s1 = span["start_ns"] / 1e6, span["end_ns"] / 1e6
        exec_ms = self.union_ms([(max(j["start_ms"], s0), min(j["end_ms"], s1)) for j in jobs])
        plan_ms = sum(d for _, d in self.phases_in(span))
        stages = [self.stages[i] for j in jobs for i in j["stages"] if i in self.stages]
        qs = self.queries_in(span)
        total = self.span_ms(span)
        return {
            "ms": total,
            "plan_ms": plan_ms,
            "exec_ms": exec_ms,
            "driver_ms": max(0.0, total - exec_ms - plan_ms),
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "task_cpu_ms": sum(s["cpu_ns"] for s in stages) / 1e6,
            "shuffle_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "spill_bytes": sum(s["spill_bytes"] for s in stages),
            "input_bytes": sum(s["input_bytes"] for s in stages),
            "input_records": sum(s["input_records"] for s in stages),
            "output_bytes": sum(s["output_bytes"] for s in stages),
            "files_read": sum(q.get("files_read", 0) for q in qs),
            "partitions_read": sum(q.get("partitions_read", 0) for q in qs),
        }

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]


def mean(xs):
    return sum(xs) / len(xs) if xs else float("nan")


def per_layer(result):
    """Every `per_layer` metric, from the traced segment."""
    tr = Trace(result["trace_records"])
    op_spans = [s for s in tr.spans if s.get("op")]
    splits = [tr.split(s) for s in op_spans]

    def per_op(key):
        return mean([s[key] for s in splits])

    untraced = op_p50(result, ops_of(result, "timed"))
    traced = op_p50(result, ops_of(result, "traced"))
    return {
        "sessions.build_s": m(result["setup"]["build_s"], "s"),
        "spark.plan_ms_per_op": m(per_op("plan_ms"), "ms"),
        "spark.exec_ms_per_op": m(per_op("exec_ms"), "ms"),
        "spark.driver_ms_per_op": m(per_op("driver_ms"), "ms"),
        "spark.jobs_per_op": m(per_op("jobs"), "count"),
        "spark.stages_per_op": m(per_op("stages"), "count"),
        "spark.tasks_per_op": m(per_op("tasks"), "count"),
        "spark.task_cpu_ms_per_op": m(per_op("task_cpu_ms"), "ms"),
        "spark.shuffle_bytes_per_op": m(per_op("shuffle_bytes"), "bytes"),
        "spark.input_bytes_per_op": m(per_op("input_bytes"), "bytes"),
        "spark.files_read_per_op": m(per_op("files_read"), "count"),
        "trace.overhead_pct": m(100.0 * (traced - untraced) / untraced, "%"),
    }


def layer_detail(result):
    """The workload's own per-layer figures, named as in the table."""
    tr = Trace(result["trace_records"])
    det = result["detail"]
    w = result["workload"]
    d = {"sessions.build_s": m(result["setup"]["build_s"], "s")}

    def dur(name):
        return median([tr.span_ms(s) for s in tr.named(name)])

    if w == "api_mixed":
        d["store.load_ms"] = m(median(det["layer.store.load_ms"]), "ms",
                               n=len(det["layer.store.load_ms"]))
        ops = result["ops"]
        for kind in READS + ("resync",):
            spans = [s for s in tr.spans if s.get("op") and s["name"] == kind]
            sp = [(tr.split(s), ops[s["op_index"]].get("rows_out", 0)) for s in spans]
            if not sp:
                continue
            for key in ("jobs", "tasks", "plan_ms", "exec_ms", "driver_ms", "files_read"):
                d["api.%s.%s" % (kind, key)] = m(mean([s[key] for s, _ in sp]), unit_of(key),
                                                n=len(sp))
            rows_out = sum(r for _, r in sp)
            d["api.%s.rows_read_per_row_out" % kind] = m(
                sum(s["input_records"] for s, _ in sp) / rows_out if rows_out else float("nan"),
                "ratio")
            if kind == "status":
                d["plans.status_level_partitions_read"] = m(
                    mean([s["partitions_read"] for s, _ in sp]), "count", n=len(sp))
        d["ingest.discover_ms"] = m(dur("ingest.discover"), "ms")
        parse = dur("ingest.parse_exec") / 1000.0
        d["ingest.parse_s"] = m(parse, "s")
        d["ingest.features"] = m(det["layer.ingest.features"], "count")
        d["ingest.input_bytes"] = m(det["layer.ingest.input_bytes"], "bytes")
        d["ingest.quarantined"] = m(det["layer.ingest.quarantined"], "count")
        d["geo.normalize_s"] = m(dur("geo.normalize_exec") / 1000.0 - parse, "s")
        pin, pout = det["layer.geo.points_in"], det["layer.geo.points_out"]
        d["geo.points_in"] = m(pin, "count")
        d["geo.points_out"] = m(pout, "count")
        d["geo.points_kept_ratio"] = m(pout / pin, "ratio")
        d["geo.simplify_fallbacks"] = m(det["layer.geo.simplify_fallbacks"], "count")
        d["geo.simplify_s"] = m(dur("geo.simplify") / 1000.0, "s")
        for label in ("full", "resync"):
            (span,) = tr.named("store.merge_write." + label)
            sp = tr.split(span)
            pre = "store." if label == "resync" else "store.full."
            written = det["layer.store.%s.bytes_written" % label]
            d[pre + "merge_write_s"] = m(sp["ms"] / 1000.0, "s")
            d[pre + "bytes_written"] = m(written, "bytes")
            d[pre + "files_written"] = m(det["layer.store.%s.files_written" % label], "count")
            d[pre + "write_amp"] = m(written / det["layer.store.%s.incoming_bytes" % label], "ratio")
            d[pre + "shuffle_bytes"] = m(sp["shuffle_bytes"], "bytes")
    elif w == "suite_slice":
        first = {}
        for s in tr.spans:
            if s.get("op") and s["query"] not in first:
                first[s["query"]] = s
        tot = {}
        for q, s in first.items():
            kids = {c["name"]: c for c in tr.children.get(s["id"], [])}
            whole, b = tr.split(s), tr.split(kids["suite.build"]) if "suite.build" in kids else None
            e = tr.split(kids["suite.exec"]) if "suite.exec" in kids else None
            add = {
                "build_s": b["ms"] / 1000.0 if b else 0.0,
                "build_jobs": b["jobs"] if b else 0,
                "plan_s": whole["plan_ms"] / 1000.0,
                "exec_s": whole["exec_ms"] / 1000.0,
                "driver_gap_s": (e["driver_ms"] / 1000.0) if e else 0.0,
                "jobs": whole["jobs"], "stages": whole["stages"], "tasks": whole["tasks"],
                "task_cpu_s": whole["task_cpu_ms"] / 1000.0,
                "shuffle_bytes": whole["shuffle_bytes"], "spill_bytes": whole["spill_bytes"],
            }
            for k, v in add.items():
                tot[k] = tot.get(k, 0) + v
        for k, v in tot.items():
            d["suite." + k] = m(v, unit_of(k), n=len(first))
    for name in sorted({s["name"] for s in tr.spans}):
        d["self.%s_ms" % name] = m(median([tr.self_ms(s) for s in tr.named(name)]), "ms")
    untraced = op_p50(result, ops_of(result, "timed"))
    traced = op_p50(result, ops_of(result, "traced"))
    d["trace.overhead_pct"] = m(100.0 * (traced - untraced) / untraced, "%")
    return d


def unit_of(key):
    if key.endswith("_ms"):
        return "ms"
    if key.endswith("_s"):
        return "s"
    if key.endswith("bytes"):
        return "bytes"
    return "count"
