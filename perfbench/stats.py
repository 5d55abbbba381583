"""Turn the JVM's raw run record into the benchmark's metrics.

The record (written by perfbench.Main) holds every timed operation, the
setup timings, and for traced runs the spans and per-job Spark counters.
Everything statistical happens here so it can be tested without a JVM.
"""
import statistics

QUERIES = [
    "q01_budget_report", "q12_join_shuffle", "q30_embed_knn",
    "q27_dedup_jaccard", "q113_median_mad",
    "q227_poisson_bootstrap", "q65_dedup_groups",
]
WARMUP_PASSES = 3
INDUSTRIES = ["corporate", "education", "hospital"]

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "tail_ms": "ms",
    "ops_per_s": "1/s",
}

SPARK = ["jobs", "stages", "tasks", "executor_cpu_ms", "executor_run_ms",
         "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
         "input_bytes", "output_bytes", "busy_frac"]


def _per_layer_units():
    u = {
        "http.put_self_ms": "ms", "http.get_self_ms": "ms",
        "http.req_bytes": "bytes", "http.resp_bytes": "bytes",
        "service.upload_arrow_self_ms": "ms",
        "service.staged_csv_bytes": "bytes",
        "arrow.decode_ms": "ms", "arrow.encode_report_ms": "ms",
        "arrow.encode_export_ms": "ms", "arrow.batches_in": "count",
        "arrow.batches_out": "count", "tenancy.auth_ms": "ms",
        "pipeline.ingest_ms": "ms",
    }
    for ind in INDUSTRIES:
        u[f"pipeline.{ind}.stg_ms"] = "ms"
        u[f"pipeline.{ind}.fct_ms"] = "ms"
    u.update({"pipeline.swap_ms": "ms", "pipeline.rows": "count",
              "pipeline.parquet_bytes": "bytes", "reports.budget_ms": "ms",
              "reports.export_ms": "ms"})
    for q in QUERIES:
        u.update({f"query.{q}.build_s": "s", f"query.{q}.plan_ms": "ms",
                  f"query.{q}.exec_s": "s", f"query.{q}.jobs": "count"})
    u.update({"queries.build_s": "s", "queries.plan_s": "s",
              "queries.exec_s": "s", "queries.jobs": "count",
              "queries.jobs_first": "count"})
    for s in SPARK:
        unit = ("bytes" if s.endswith("_bytes") else "ms" if s.endswith("_ms")
                else "frac" if s == "busy_frac" else "count")
        u[f"spark.{s}"] = unit
    u.update({"jvm.gc_ms": "ms", "jvm.heap_after_gc_peak_mb": "MiB",
              "trace.overhead_ms": "ms", "run.stall_max_s": "s",
              "run.nproc": "count", "run.max_heap_mb": "MiB"})
    return u


PER_LAYER = _per_layer_units()


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n): the 11th-largest sample, the share of
    samples at or below it in percent, and the sample count. None when
    there are fewer than 11 samples.
    """
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's time minus the union of its children, clipped to it."""
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
               for c in children]
    clipped = [(s, e) for s, e in clipped if e > s]
    return (span["end"] - span["start"]) - union_ms(clipped)


def failures(ops):
    """(attempted, failed): every operation the run made, warm-up
    included, and those that failed (non-200, exception or wrong result).
    """
    return len(ops), sum(1 for o in ops if not o["ok"])


def setup_s(raw):
    s = raw["setup"]
    return s["session_s"] + median(s["prep_s"]) + s["warmup_s"]


def measured(raw):
    return [o for o in raw["ops"] if o["phase"] == "measure"]


def window_s(ops):
    """Wall time from the first operation's start to the last one's end."""
    return (max(o["start"] + o["ms"] for o in ops)
            - min(o["start"] for o in ops)) / 1000.0


def end_to_end(raw):
    """Each latency figure covers one kind of operation.

    op_p50_ms is the median of the workload's headline operation: a PUT
    (upload to transformed) on service, a pass over the query list on
    queries. tail_ms is the tail of its single requests: report and export
    GETs on service, single query executions on queries. ops_per_s counts
    every measured operation over the wall time of the measured window.
    """
    ops = measured(raw)
    if raw["workload"] == "service":
        head = [o["ms"] for o in ops if o["kind"] == "put"]
        requests = [o["ms"] for o in ops if o["kind"] in ("report", "export")]
    else:
        head = [p * 1000.0 for p in raw["passes_s"]["measure"]]
        requests = [o["ms"] for o in ops]
    t = tail(requests)
    if not head or t is None:
        raise ValueError(f"{len(head)} headline operations and "
                         f"{len(requests)} requests; need 1 and 11")
    return {
        "setup_s": setup_s(raw),
        "op_p50_ms": median(head),
        "tail_ms": t[0],
        "ops_per_s": len(ops) / window_s(ops),
    }


def named(raw):
    """The workload's own figures under their own names, for the detailed
    record: PUT, report and export latencies, read throughput, pass time.
    """
    out = {}
    ops = measured(raw)
    attempted, failed = failures(raw["ops"])
    out["failed_frac"] = failed / attempted if attempted else 0.0

    def lat(kind, scale, name, unit):
        xs = [o["ms"] / scale for o in ops if o["kind"] == kind]
        if not xs:
            return
        out[f"{name}_p50_{unit}"] = median(xs)
        t = tail(xs)
        # a "tail" below the median says nothing; too few samples for one
        if t and t[1] >= 50.0:
            out[f"{name}_tail_{unit}"] = t[0]
            out[f"{name}_tail_pct"] = t[1]
            out[f"{name}_tail_n"] = t[2]

    w = raw["workload"]
    if w == "service":
        lat("put", 1000.0, "upload", "s")
        lat("report", 1.0, "report", "ms")
        lat("export", 1.0, "export", "ms")
        rw = [o for o in ops if o["kind"] in ("report", "export")]
        if rw:
            out["read_rps"] = len(rw) / window_s(rw)
    elif w == "queries":
        if raw["passes_s"]["measure"]:
            out["queries_pass_s"] = median(raw["passes_s"]["measure"])
    return out


class Trace:
    """Index over the spans and jobs of a traced run."""

    def __init__(self, raw):
        self.spans = raw["spans"]
        self.jobs = raw["jobs"]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def ms(self, name):
        return [s["end"] - s["start"] for s in self.named(name)]

    def attr(self, name, key):
        return [s["attrs"][key] for s in self.named(name) if key in s["attrs"]]

    def subtree(self, span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def jobs_of(self, span):
        """Jobs started by a direct call inside the span (by job group), and
        jobs with no group submitted while the span was open (HTTP handler
        threads; traced runs keep one operation in flight at a time).
        """
        groups = {f"span-{s['id']}" for s in self.subtree(span)}
        return [j for j in self.jobs
                if j["group"] in groups
                or (j["group"] == "" and span["start"] <= j["submit"] <= span["end"])]

    def pair(self, a, b):
        """Median over operations of (span a − span b) within the same op."""
        bs = {s["op"]: s for s in self.named(b)}
        return [s["end"] - s["start"] - (bs[s["op"]]["end"] - bs[s["op"]]["start"])
                for s in self.named(a) if s["op"] in bs]


def _pass(span):
    return int(span["op"].rsplit("#", 1)[1])


def per_layer(raw):
    t = Trace(raw)
    m = {k: 0.0 for k in PER_LAYER}
    m["http.put_self_ms"] = median(t.pair("http.put", "service.upload_arrow"))
    m["http.get_self_ms"] = median(
        t.pair("http.get_report", "service.report_arrow")
        + t.pair("http.get_export", "service.export_arrow"))
    m["http.req_bytes"] = median(t.attr("http.put", "req_bytes"))
    gets = t.named("http.get_report") + t.named("http.get_export")
    m["http.resp_bytes"] = median(s["attrs"].get("resp_bytes", 0) for s in gets)
    m["service.upload_arrow_self_ms"] = median(
        t.pair("service.upload_arrow", "pipeline.ingest"))
    m["service.staged_csv_bytes"] = median(
        t.attr("service.upload_arrow", "staged_csv_bytes"))
    m["arrow.decode_ms"] = median(t.ms("arrow.decode"))
    m["arrow.encode_report_ms"] = median(
        t.pair("arrow.encode_report", "reports.budget"))
    m["arrow.encode_export_ms"] = median(
        t.pair("service.export_arrow", "reports.export"))
    m["arrow.batches_in"] = median(t.attr("http.put", "batches_in"))
    m["arrow.batches_out"] = median(s["attrs"].get("batches_out", 0) for s in gets)
    m["tenancy.auth_ms"] = median(t.ms("tenancy.auth"))
    m["pipeline.ingest_ms"] = median(t.ms("pipeline.ingest"))
    for ind in INDUSTRIES:
        for kind in ("stg", "fct"):
            m[f"pipeline.{ind}.{kind}_ms"] = median(t.ms(f"pipeline.{ind}.{kind}"))
    # what ingest does besides the model builds: raw copy, read-back, swap
    m["pipeline.swap_ms"] = median(self_ms(s, t.children.get(s["id"], []))
                                   for s in t.named("pipeline.ingest"))
    m["pipeline.rows"] = median(t.attr("pipeline.counts", "rows"))
    m["pipeline.parquet_bytes"] = median(t.attr("pipeline.counts", "parquet_bytes"))
    m["reports.budget_ms"] = median(t.ms("reports.budget"))
    m["reports.export_ms"] = median(t.ms("reports.export"))

    # the registry: pass 0 is the first, passes from WARMUP_PASSES on are steady
    runs = t.named("query")
    first_jobs, e2e = 0, []
    for q in QUERIES:
        mine = [s for s in runs if s["op"].rsplit("#", 1)[0] == q]
        steady = [s for s in mine if _pass(s) >= WARMUP_PASSES]
        first_jobs += sum(len(t.jobs_of(s)) for s in mine if _pass(s) == 0)
        e2e += steady

        def part(name, scale):
            return median((c["end"] - c["start"]) / scale
                          for s in steady for c in t.children.get(s["id"], [])
                          if c["name"] == name)
        m[f"query.{q}.build_s"] = part("query.build", 1000.0)
        m[f"query.{q}.plan_ms"] = part("query.plan", 1.0)
        m[f"query.{q}.exec_s"] = part("query.exec", 1000.0)
        m[f"query.{q}.jobs"] = median(len(t.jobs_of(s)) for s in steady)
    if runs:
        m["queries.build_s"] = sum(m[f"query.{q}.build_s"] for q in QUERIES)
        m["queries.plan_s"] = sum(m[f"query.{q}.plan_ms"] for q in QUERIES) / 1000.0
        m["queries.exec_s"] = sum(m[f"query.{q}.exec_s"] for q in QUERIES)
        m["queries.jobs"] = sum(m[f"query.{q}.jobs"] for q in QUERIES)
        m["queries.jobs_first"] = first_jobs

    # Spark counters per user-visible operation
    e2e += t.named("http.put") + gets
    if e2e:
        per = {s: 0.0 for s in SPARK}
        wall = 0.0
        for span in e2e:
            wall += span["end"] - span["start"]
            for j in t.jobs_of(span):
                per["jobs"] += 1
                per["stages"] += j["stages"]
                per["tasks"] += j["tasks"]
                per["executor_cpu_ms"] += j["cpu_ms"]
                per["executor_run_ms"] += j["run_ms"]
                per["gc_ms"] += j["gc_ms"]
                for k in ("shuffle_read_bytes", "shuffle_write_bytes",
                          "spill_bytes", "input_bytes", "output_bytes"):
                    per[k] += j[k]
        for s in SPARK:
            m[f"spark.{s}"] = per[s] / len(e2e)
        m["spark.busy_frac"] = per["executor_run_ms"] / (wall * raw["nproc"])

    m["jvm.gc_ms"] = raw["jvm"]["gc_ms"]
    m["jvm.heap_after_gc_peak_mb"] = raw["jvm"]["heap_after_gc_peak_mb"]
    m["trace.overhead_ms"] = overhead_ms(raw)
    m["run.stall_max_s"] = raw["stall_max_s"]
    m["run.nproc"] = raw["nproc"]
    m["run.max_heap_mb"] = raw["max_heap_mb"]
    return m


def overhead_ms(raw):
    """Traced minus untraced median latency of the workload's operation
    (a report GET, or a whole query pass) in the same process.
    """
    w = raw["workload"]
    if w == "queries":
        ps = raw["passes_s"]
        return (median(ps["traced"]) - median(ps["untraced"])) * 1000.0
    kind = "report"
    lat = {p: [o["ms"] for o in raw["ops"] if o["phase"] == p and o["kind"] == kind]
           for p in ("traced", "untraced")}
    if not lat["traced"] or not lat["untraced"]:
        return 0.0
    return median(lat["traced"]) - median(lat["untraced"])
