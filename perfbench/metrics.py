"""Metric arithmetic of the benchmark: percentiles, span self time, the
write/space amplification ratios, and the derivation of every reported
metric from the JVM's raw run record (see perfbench/src/.../Main.scala).
"""
import math
import statistics

ANALYSES = ("topk", "unique", "count", "stats", "dedup", "neardup")
READS = ("phrase", "bm25", "ann")
# each workload's op kinds in two groups of similar per-kind share, so that
# a slowdown of any one kind moves its group's summed latency by about a
# third of that slowdown or more
HEAVY_OPS = {"corpus_scan": ("topk", "unique", "neardup"),
             "ingest_follow": ("ingest", "ann_follow")}
LIGHT_OPS = {"corpus_scan": ("count", "stats", "dedup"),
             "ingest_follow": READS}
KERNELS = ("tokenize", "ngram3", "md5", "minhash", "postings", "gopher")
MB = 1024.0 * 1024.0
# jobs whose engine call stack passes through the index writer are the
# index upsert inside an `ingest` call
INDEX_MODULE = "graft.search.InvertedIndex"


# ---- arithmetic ----

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, min_beyond=10):
    """The highest whole percentile with at least `min_beyond` samples
    strictly beyond it, by the nearest-rank rule, and its value.

    With n samples, the p-th percentile is the sample of rank ceil(p*n/100);
    n - rank samples lie beyond it. Returns (p, value), or None when fewer
    than min_beyond + 1 samples exist.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= min_beyond:
        return None
    p = (100 * (n - min_beyond)) // n
    while p > 0 and n - math.ceil(p * n / 100) < min_beyond:
        p -= 1
    if p <= 0:
        return None
    return p, xs[max(0, math.ceil(p * n / 100) - 1)]


def covered(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals, each
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may nest, overlap each other, or run past the parent's end."""
    s, e = span
    return (e - s) - covered(children, s, e)


def write_amp(output_bytes, shuffle_write_bytes, input_bytes):
    """Bytes the pipeline writes (task output plus shuffle) per uncompressed
    input byte."""
    return (output_bytes + shuffle_write_bytes) / input_bytes


def space_amp(stored_bytes, admitted_bytes):
    """Bytes on disk per uncompressed byte of admitted documents."""
    return stored_bytes / admitted_bytes


# ---- derivation from a run record ----

class Record:
    """Indexes the JVM's raw record: spans, their children and their jobs."""

    def __init__(self, raw):
        self.spans = raw["spans"]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs_of = {}
        for j in raw["jobs"]:
            self.jobs_of.setdefault(j["span"], []).append(j)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def subtree_jobs(self, span):
        out = list(self.jobs_of.get(span["id"], []))
        for c in self.children.get(span["id"], []):
            out += self.subtree_jobs(c)
        return out

    def dur_s(self, span):
        return (span["end_ms"] - span["start_ms"]) / 1e3

    def self_s(self, span):
        kids = [(c["start_ms"], c["end_ms"]) for c in self.children.get(span["id"], [])]
        return self_time((span["start_ms"], span["end_ms"]), kids) / 1e3

    def per_call(self, spans, field):
        """Mean over calls of a job field summed within each call."""
        if not spans:
            return 0.0
        return sum(sum(j[field] for j in self.subtree_jobs(s)) for s in spans) / len(spans)

    def jobs_per_call(self, spans):
        if not spans:
            return 0.0
        return sum(len(self.subtree_jobs(s)) for s in spans) / len(spans)

    def sited_jobs(self, span, module):
        """The span's jobs whose engine call stack passes through `module`."""
        return [j for j in self.subtree_jobs(span) if module in j["stack"]]

    def sited_wall_s(self, span, module):
        """Wall time the span's jobs from `module` cover."""
        iv = [(j["start_ms"], j["end_ms"]) for j in self.sited_jobs(span, module)]
        return covered(iv, span["start_ms"], span["end_ms"]) / 1e3


def setup_s(raw):
    return sum(raw["setup"].values())


def summed_median_ms(ops, kinds):
    """Sum over `kinds` of each kind's median latency: the latency of one
    pass over those kinds."""
    return sum(median([o["ms"] for o in ops if o["kind"] == k]) for k in kinds)


def docs_per_s(raw, workload):
    """Docs one step of the loop processes over the median step wall: docs
    x analyses for corpus_scan, docs offered per batch for ingest_follow."""
    c = raw["counters"]
    if workload == "ingest_follow":
        per_step = c["batch_docs"]
    else:
        per_step = c["docs"] * len(ANALYSES)
    return per_step / median(raw["steps"])


def end_to_end(raw, workload):
    ops = [o for o in raw["ops"] if o["phase"] == "timed"]
    return {
        "setup_s": (setup_s(raw), "s"),
        "docs_per_s": (docs_per_s(raw, workload), "docs/s"),
        "heavy_ops_ms": (summed_median_ms(ops, HEAVY_OPS[workload]), "ms"),
        "light_ops_ms": (summed_median_ms(ops, LIGHT_OPS[workload]), "ms"),
    }


def workload_metrics(raw, workload, phase):
    """The workload-specific figures of the ops of one loop phase (timed or
    traced): per-analysis medians, query latency, batch latency and the
    amplification ratios. Zero where they do not apply to the workload."""
    ops = [o for o in raw["ops"] if o["phase"] == phase]
    c = raw["counters"]
    out = {}
    for a in ANALYSES:
        out[f"workload.{a}_s"] = (median([o["ms"] / 1e3 for o in ops if o["kind"] == a]), "s")
    q = [o["ms"] for o in ops if o["kind"] in READS]
    out["workload.query_p50_ms"] = (median(q), "ms")
    out["workload.query_samples"] = (float(len(q)), "count")
    # a batch is its ingest call plus its ann --follow call, in step order
    batches = [a["ms"] + b["ms"] for a, b in zip([o for o in ops if o["kind"] == "ingest"],
                                                  [o for o in ops if o["kind"] == "ann_follow"])]
    out["workload.batch_p50_s"] = (median(batches) / 1e3, "s")
    out["workload.space_amp"] = (
        space_amp(c["stored_bytes"], c["admitted_bytes"]) if "stored_bytes" in c else 0.0, "ratio")
    _, attempted, failed = verdict(raw)
    out["workload.failed_frac"] = (failed / attempted, "ratio")
    out["workload.peak_rss_mb"] = (c["peak_rss_mb"], "MB")
    return out


def per_layer(raw, workload, slots):
    r = Record(raw)
    c = raw["counters"]
    m = {}

    def put(name, v, unit):
        m[name] = (float(v), unit)

    put("session.start_s", raw["setup"]["session_s"], "s")
    put("session.first_job_s", raw["setup"]["first_job_s"], "s")

    src = r.named("sources.read")
    read_s = sum(r.dur_s(s) for s in src)
    in_bytes = sum(r.per_call([s], "in_bytes") for s in src)
    put("sources.read_s", read_s, "s")
    put("sources.mb_per_s", in_bytes / MB / read_s if read_s else 0.0, "MB/s")
    put("sources.files", sum(s["attrs"].get("files", 0) for s in src), "count")
    put("sources.records", sum(r.per_call([s], "in_records") for s in src), "count")

    for k in KERNELS:
        ks = r.named(f"functions.{k}")
        rows = sum(s["attrs"].get("rows", 0) for s in ks)
        put(f"functions.{k}_ns_per_row", sum(r.dur_s(s) for s in ks) * 1e9 / rows if rows else 0.0,
            "ns")

    for a in ANALYSES:
        sp = r.named(f"operators.{a}")
        put(f"operators.{a}.self_s", median([r.self_s(s) for s in sp]), "s")
        put(f"operators.{a}.jobs", r.jobs_per_call(sp), "count")
        put(f"operators.{a}.stages", r.per_call(sp, "stages"), "count")
        put(f"operators.{a}.tasks", r.per_call(sp, "tasks"), "count")
        put(f"operators.{a}.shuffle_write_mb", r.per_call(sp, "shuffle_write_bytes") / MB, "MB")
        put(f"operators.{a}.spill_mb", r.per_call(sp, "spill_bytes") / MB, "MB")
        put(f"operators.{a}.cpu_s", r.per_call(sp, "cpu_ns") / 1e9, "s")
        put(f"operators.{a}.gc_s", r.per_call(sp, "gc_ms") / 1e3, "s")

    # builds: the bootstrap batch of ingest_follow writes both indexes
    boot = r.named("ingest.bootstrap")
    boot_kids = [c for b in boot for c in r.children.get(b["id"], [])]
    boot_calls = [c for c in boot_kids if c["name"] == "ingest.call"]
    put("index.build_s", sum(r.sited_wall_s(s, INDEX_MODULE) for s in boot_calls), "s")
    put("index.build_jobs", sum(len(r.sited_jobs(s, INDEX_MODULE)) for s in boot_calls), "count")
    put("index.files", sum(s["attrs"].get("files", 0) for s in boot), "count")
    iq = r.named("index.query.phrase") + r.named("index.query.bm25")
    results = sum(s["attrs"].get("result_rows", 0) for s in iq)
    put("index.query_jobs", r.jobs_per_call(iq), "count")
    put("index.query_tasks", r.per_call(iq, "tasks"), "count")
    put("index.rows_read_per_result",
        sum(r.per_call([s], "in_records") for s in iq) / results if results else 0.0, "ratio")
    put("index.files_read_per_query",
        sum(s["attrs"].get("files_read", 0) for s in iq) / len(iq) if iq else 0.0, "count")
    batches = r.named("ingest.batch")
    in_batch = {b["id"] for b in batches}
    calls = [s for s in r.named("ingest.call") if s["parent"] in in_batch]
    up = [r.sited_jobs(s, INDEX_MODULE) for s in calls]
    put("index.upsert_s", median([r.sited_wall_s(s, INDEX_MODULE) for s in calls]), "s")
    put("index.upsert_jobs", sum(len(u) for u in up) / len(calls) if calls else 0.0, "count")
    put("index.upsert_mb_written",
        sum(j["out_bytes"] for u in up for j in u) / MB / len(calls) if calls else 0.0, "MB")

    ab = [c for c in boot_kids if c["name"] == "ann.follow"]
    put("ann.build_s", sum(r.dur_s(s) for s in ab), "s")
    put("ann.build_jobs", r.jobs_per_call(ab), "count")
    aq = r.named("ann.query")
    aresults = sum(s["attrs"].get("result_rows", 0) for s in aq)
    put("ann.query_jobs", r.jobs_per_call(aq), "count")
    put("ann.rows_read_per_result",
        sum(r.per_call([s], "in_records") for s in aq) / aresults if aresults else 0.0, "ratio")
    put("ann.recall_at_10", c.get("recall_at_10", 0.0), "ratio")
    af = [s for s in r.named("ann.follow") if s["parent"] in in_batch]
    put("ann.upsert_s", median([r.dur_s(s) for s in af]), "s")
    put("ann.upsert_jobs", r.jobs_per_call(af), "count")
    put("ann.upsert_mb_written", r.per_call(af, "out_bytes") / MB, "MB")

    put("ingest.self_s", median([r.self_s(s) - r.sited_wall_s(s, INDEX_MODULE)
                                 for s in calls]), "s")
    put("ingest.jobs", r.jobs_per_call(calls), "count")
    for k in ("gate_keep_ratio", "dedup_drop_ratio", "decon_drop_ratio"):
        put(f"ingest.{k}", c.get(k, 0.0), "ratio")
    put("ingest.state_mb", c.get("state_bytes", 0.0) / MB, "MB")
    out_b = sum(r.per_call([s], "out_bytes") for s in batches)
    shuf_b = sum(r.per_call([s], "shuffle_write_bytes") for s in batches)
    put("workload.write_amp",
        write_amp(out_b, shuf_b, c["traced_offered_bytes"]) if c.get("traced_offered_bytes") else 0.0,
        "ratio")

    jobs = raw["jobs"]
    tops = [s for s in r.spans if s["parent"] == -1]
    top_wall_ms = sum(s["end_ms"] - s["start_ms"] for s in tops)
    run_ms = sum(j["run_ms"] for j in jobs)
    put("spark.jobs", len(jobs), "count")
    put("spark.stages", sum(j["stages"] for j in jobs), "count")
    put("spark.tasks", sum(j["tasks"] for j in jobs), "count")
    put("spark.task_wait_s", sum(j["sched_ms"] for j in jobs) / 1e3, "s")
    put("spark.executor_run_s", run_ms / 1e3, "s")
    put("spark.executor_cpu_s", sum(j["cpu_ns"] for j in jobs) / 1e9, "s")
    put("spark.gc_s", sum(j["gc_ms"] for j in jobs) / 1e3, "s")
    put("spark.failed_tasks", sum(j["failed_tasks"] for j in jobs), "count")
    put("spark.slot_utilization", run_ms / (slots * top_wall_ms) if top_wall_ms else 0.0, "ratio")

    u, t = c.get("untraced_wall_s", 0.0), c.get("traced_wall_s", 0.0)
    put("trace.overhead_s", t - u, "s")
    put("trace.overhead_pct", 100.0 * (t - u) / u if u else 0.0, "%")
    for name, (v, unit) in workload_metrics(raw, workload, "traced").items():
        m.setdefault(name, (v, unit))
    return m


def verdict(raw):
    """(correct, attempted, failed). An op fails if it threw or its output
    check failed (listed among the checks as `<kind> op`); each failed
    run-level check counts as one more failed op."""
    ops = raw["ops"]
    checks = [k for k in raw["checks"] if not k["name"].endswith(" op")]
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for k in checks if not k["ok"])
    return failed == 0, attempted, failed
