"""Metrics of the graft benchmark, from the harness's raw result.

End-to-end metrics come from the timed samples of an untraced run.
Per-layer metrics come from a traced run: each Spark job is attributed
to the innermost span whose window contains the job's start, each SQL
execution likewise by its start, and a span's self time is its
duration minus the union of its children's windows. Layers the
workload does not touch report 0.
"""
import math
import statistics

# ---- statistics ----------------------------------------------------------

TAIL_BEYOND = 10  # samples a tail percentile needs beyond it


def median(xs):
    return statistics.median(xs) if xs else 0.0


def rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples (rounded
    first, so 99.9 % of 10,000 is rank 9,990, not 9,991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(xs, p):
    """The p-th percentile by nearest rank."""
    return sorted(xs)[rank(p, len(xs)) - 1]


def tail(xs, p):
    """The p-th percentile of xs if at least TAIL_BEYOND samples lie
    beyond it, else nan."""
    n = len(xs)
    return nearest_rank(xs, p) if n - rank(p, n) >= TAIL_BEYOND else math.nan


def tail_samples(p):
    """The fewest samples with TAIL_BEYOND beyond the p-th percentile."""
    n = 1
    while n - rank(p, n) < TAIL_BEYOND:
        n += 1
    return n


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


# ---- windows, attribution, self time ---------------------------------------

def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
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


def contains(span, t):
    """Whether epoch-ms time t falls in the span's window. Spark stamps
    events in whole milliseconds, so the window is widened to whole
    milliseconds too."""
    return math.floor(span["start"]) <= t <= math.ceil(span["end"])


def attribute(events, spans):
    """{event id: span id} for each event (job or SQL execution) whose
    start lies in some span: the innermost one, i.e. the latest-starting
    containing span (shortest on ties). One client makes every call, so
    windows of unrelated calls never overlap."""
    out = {}
    for e in events:
        best = None
        for s in spans:
            if contains(s, e["start"]) and (
                    best is None or (s["start"], -s["end"]) >
                    (best["start"], -best["end"])):
                best = s
        if best is not None:
            out[e["id"]] = best["id"]
    return out


def self_times(spans):
    """{span id: duration minus the union of its children's windows}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


# ---- the benchmark's metrics -----------------------------------------------

PIPELINE_QUERIES = [
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_ngram", "q_dedup_simhash",
    "q_dedup_embed", "q_ann_brute", "q_ann_ivfadc", "q_lang_id",
    "q_fingerprints", "q_quality", "q_quality_repetition", "q_token_stats",
    "q_sample_stratified", "q_multimodal_assets", "q_multimodal_features",
    "q_events_window", "q_phrase_2", "q_phrase_3", "q_posting_lists",
    "q_dictionary", "q_corpus_stats", "q_source_table"]
SHUFFLE_QUERIES = [q for q in PIPELINE_QUERIES
                   if q.startswith("q_dedup") or q == "q_sample_stratified"]
INDEX_KINDS = ["exact", "probe", "batch", "sql", "build", "append", "delete",
               "msearch", "merge", "compact", "build1"]
# the operation whose latency a workload's p50_ms reports, and the
# repeating unit whose wall its work_s reports
HEADLINE = {"index": "exact", "pipeline": "query"}
ROUND = {"index": "round", "pipeline": "pass"}

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("p50_ms", "ms"), ("geo_ms", "ms"), ("work_s", "s"),
    ("index_bytes_per_source_byte", "ratio")]

STEPS = ["docstore", "postings", "dictionary", "manifest"]
PER_LAYER = (
    [(f"build.{s}.s", "s") for s in STEPS] +
    [(f"build.{s}.core_s", "s") for s in STEPS[:3]] +
    [("build.docstore.shuffle_write_mb", "MB"),
     ("build.docstore.output_mb", "MB"), ("build.postings.output_mb", "MB"),
     ("build.dictionary.input_mb", "MB"),
     ("build.docstore.core_infl", "ratio"), ("build.postings.core_infl", "ratio"),
     ("build.docstore.driver_s", "s"), ("build.self_s", "s"),
     ("build.jobs", "count"),
     ("build.tasks", "count"), ("sources.dense_ids.core_s", "s"),
     ("codec.bytes_per_posting", "B"),
     ("query.request.plan_ms", "ms"), ("query.dictionary.ms", "ms"),
     ("query.score.ms", "ms"), ("query.jobs_per_request", "count"),
     ("query.scan.files", "count"), ("query.scan.mb", "MB"),
     ("query.scan.rows", "count"), ("query.scan.partitions", "count"),
     ("plans.wand.core_s", "s"), ("plans.wand.exchange_mb", "MB"),
     ("query.sql.core_s", "s"), ("query.sql.shuffle_mb", "MB"),
     ("maintain.append.core_s", "s"), ("maintain.append.dictionary_s", "s"),
     ("maintain.append.output_mb", "MB"), ("maintain.merge.core_s", "s"),
     ("maintain.merge.input_mb", "MB"), ("maintain.merge.output_mb", "MB")] +
    [(f"maintain.compact.{s}.s", "s") for s in STEPS[:3]] +
    [("maintain.postings_files", "count"), ("maintain.segments", "count"),
     ("maintain.tombstones", "count"), ("maintain.index_mb", "MB"),
     ("maintain.delete.ms", "ms")] +
    [(f"ops.{q}.s", "s") for q in PIPELINE_QUERIES] +
    [(f"ops.{q}.shuffle_mb", "MB") for q in SHUFFLE_QUERIES] +
    [("spark.gc_s", "s"), ("spark.spill_mb", "MB"), ("spark.jobs", "count"),
     ("spark.tasks", "count"), ("spark.cached_mb", "MB"),
     ("trace.overhead_ms", "ms")])


def by_kind(raw, traced=None):
    """{kind: [ms, ...]} of the timed samples (optionally only traced or
    only untraced ones)."""
    out = {}
    for s in raw["samples"]:
        if traced is None or s["traced"] == traced:
            out.setdefault(s["kind"], []).append(s["ms"])
    if raw["workload"] == "pipeline":
        out["query"] = [x for q in PIPELINE_QUERIES for x in out.get(q, [])]
    return out


def end_to_end(raw):
    k = by_kind(raw)
    w = raw["workload"]
    kinds = INDEX_KINDS if w == "index" else PIPELINE_QUERIES
    return {
        "setup_s": median(raw["setup_s"]),
        "p50_ms": median(k.get(HEADLINE[w], [])),
        "geo_ms": geomean([median(k.get(x, [])) for x in kinds]),
        "work_s": median(k.get(ROUND[w], [])) / 1000.0,
        "index_bytes_per_source_byte": bytes_ratio(raw["extra"]),
    }


def bytes_ratio(extra):
    """On-disk index bytes per content byte of its live docs (0 if the
    run failed before it measured them)."""
    src = extra.get("source_bytes", 0)
    return extra.get("index_bytes", 0) / src if src else 0.0


class Trace:
    """Attributed view of a traced run's raw records."""

    def __init__(self, t):
        self.spans = t["spans"]
        self.jobs = t["jobs"]
        self.execs = {e["id"]: e for e in t["execs"]}
        self.job_span = attribute(self.jobs, self.spans)
        self.by_id = {s["id"]: s for s in self.spans}
        self.kids = {}
        for s in self.spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def tops(self, layer, op):
        """Timed calls (spans that start a request) of layer.op."""
        return [s for s in self.spans if s["layer"] == layer and
                s["op"] == op and s["parent"] == -1 and s["req"] >= 0]

    def children(self, span, op):
        return [c for c in self.kids.get(span["id"], []) if c["op"] == op]

    def subtree(self, span):
        out, todo = set(), [span["id"]]
        while todo:
            i = todo.pop()
            out.add(i)
            todo += [c["id"] for c in self.kids.get(i, [])]
        return out

    def jobs_in(self, span):
        """Jobs attributed to the span or any span below it."""
        ids = self.subtree(span)
        return [j for j in self.jobs if self.job_span.get(j["id"]) in ids]

    def execs_in(self, span):
        return [e for e in self.execs.values()
                if contains(span, e["start"])]

    @staticmethod
    def total(jobs, key, scale=1.0):
        return sum(j.get(key, 0) for j in jobs) * scale

    @staticmethod
    def wall(jobs):
        return union_length([(j["start"], j["end"]) for j in jobs
                             if j["end"] >= j["start"]])

    def touches(self, job, table, how="scans"):
        """Whether the job's SQL execution scans (or writes) the table."""
        e = self.execs.get(job["exec"], {})
        if how == "scans":
            return any(s["table"] == table for s in e.get("scans", []))
        return table in e.get("writes", [])


def per_layer(raw):
    t = Trace(raw["trace"])
    ex = raw["extra"]
    m = {name: 0.0 for name, _ in PER_LAYER}

    def med(vals):
        return median(list(vals))

    builds = t.tops("build", "build")
    ones = t.tops("build", "build1")
    for step in STEPS:
        spans = [c for b in builds for c in t.children(b, step)]
        m[f"build.{step}.s"] = med((s["end"] - s["start"]) / 1e3 for s in spans)
    core = {}
    for step in STEPS[:3]:
        for label, bs in (("4", builds), ("1", ones)):
            core[(step, label)] = med(
                t.total(t.jobs_in(c), "run_ms", 1e-3)
                for b in bs for c in t.children(b, step))
        m[f"build.{step}.core_s"] = core[(step, "4")]
    for step in ("docstore", "postings"):
        if core[(step, "1")] > 0:
            m[f"build.{step}.core_infl"] = core[(step, "4")] / core[(step, "1")]
    steps = {s: [c for b in builds for c in t.children(b, s)] for s in STEPS}
    m["build.docstore.shuffle_write_mb"] = med(
        t.total(t.jobs_in(s), "shuffle_write_bytes", 1e-6)
        for s in steps["docstore"])
    for s in ("docstore", "postings"):
        m[f"build.{s}.output_mb"] = med(
            t.total(t.jobs_in(x), "output_bytes", 1e-6) for x in steps[s])
    m["build.dictionary.input_mb"] = med(
        t.total(t.jobs_in(s), "input_bytes", 1e-6) + t.total(
            t.jobs_in(s), "shuffle_read_bytes", 1e-6)
        for s in steps["dictionary"])
    m["build.docstore.driver_s"] = med(
        ((s["end"] - s["start"]) - union_length(
            [(j["start"], j["end"]) for j in t.jobs_in(s)],
            s["start"], s["end"])) / 1e3 for s in steps["docstore"])
    # build wall outside its steps: input count, planning, step gaps
    selfs = self_times(t.spans)
    m["build.self_s"] = med(selfs[b["id"]] / 1e3 for b in builds)
    m["build.jobs"] = med(len(t.jobs_in(b)) for b in builds)
    m["build.tasks"] = med(t.total(t.jobs_in(b), "tasks") for b in builds)
    m["sources.dense_ids.core_s"] = med(
        t.total([j for j in t.jobs_in(b) if "Corpus.scala" in j["site"]],
                "run_ms", 1e-3) for b in builds)
    if ex.get("postings"):
        m["codec.bytes_per_posting"] = ex["posting_bytes"] / ex["postings"]

    singles = t.tops("query", "topk") + t.tops("query", "topk_w1")
    m["query.request.plan_ms"] = med(
        (s["end"] - s["start"]) - union_length(
            [(j["start"], j["end"]) for j in t.jobs_in(s)],
            s["start"], s["end"]) for s in singles)
    m["query.dictionary.ms"] = med(
        t.wall([j for j in t.jobs_in(s) if t.touches(j, "dictionary")])
        for s in singles)
    m["query.score.ms"] = med(
        t.wall([j for j in t.jobs_in(s) if t.touches(j, "postings")])
        for s in singles)
    m["query.jobs_per_request"] = med(len(t.jobs_in(s)) for s in singles)
    for key, scale, name in (("files", 1, "files"), ("bytes", 1e-6, "mb"),
                             ("rows", 1, "rows"),
                             ("partitions", 1, "partitions")):
        m[f"query.scan.{name}"] = med(
            sum(sc[key] for e in t.execs_in(s) for sc in e.get("scans", [])
                if sc["table"] == "postings") * scale
            for s in t.tops("query", "topk"))
    wand = t.tops("query", "wand_batch")
    m["plans.wand.core_s"] = med(
        t.total(t.jobs_in(s), "run_ms", 1e-3) for s in wand)
    # bytes through the executed plans' shuffle exchanges
    m["plans.wand.exchange_mb"] = med(
        sum(e.get("exchange_bytes", 0) for e in t.execs_in(s)) * 1e-6
        for s in wand)
    sql = t.tops("query", "sql_batch")
    m["query.sql.core_s"] = med(
        t.total(t.jobs_in(s), "run_ms", 1e-3) for s in sql)
    m["query.sql.shuffle_mb"] = med(
        t.total(t.jobs_in(s), "shuffle_write_bytes", 1e-6) for s in sql)

    appends = t.tops("maintain", "append")
    m["maintain.append.core_s"] = med(
        t.total(t.jobs_in(s), "run_ms", 1e-3) for s in appends)
    m["maintain.append.dictionary_s"] = med(
        t.wall([j for j in t.jobs_in(s)
                if t.touches(j, "dictionary", "writes")]) / 1e3
        for s in appends)
    m["maintain.append.output_mb"] = med(
        t.total(t.jobs_in(s), "output_bytes", 1e-6) for s in appends)
    merges = t.tops("maintain", "merge")
    m["maintain.merge.core_s"] = med(
        t.total(t.jobs_in(s), "run_ms", 1e-3) for s in merges)
    m["maintain.merge.input_mb"] = med(
        t.total(t.jobs_in(s), "input_bytes", 1e-6) for s in merges)
    m["maintain.merge.output_mb"] = med(
        t.total(t.jobs_in(s), "output_bytes", 1e-6) for s in merges)
    for step in STEPS[:3]:
        m[f"maintain.compact.{step}.s"] = med(
            (c["end"] - c["start"]) / 1e3
            for s in t.tops("maintain", "compact") for c in t.children(s, step))
    for g in ("postings_files", "segments", "tombstones", "index_mb"):
        vals = [x[g] for x in ex.get("gauges", [])]
        m[f"maintain.{g}"] = sum(vals) / len(vals) if vals else 0.0
    traced = by_kind(raw, traced=True)
    m["maintain.delete.ms"] = median(traced.get("delete", []))

    for q in PIPELINE_QUERIES:
        m[f"ops.{q}.s"] = median(traced.get(q, [])) / 1e3
    for q in SHUFFLE_QUERIES:
        m[f"ops.{q}.shuffle_mb"] = med(
            t.total(t.jobs_in(s), "shuffle_write_bytes", 1e-6)
            for s in t.tops("ops", q))

    # engine-wide counters of the timed calls, per traced call
    timed_jobs = [j for j in t.jobs
                  if t.by_id.get(t.job_span.get(j["id"]), {}).get("req", -1) >= 0]
    calls = max(1, sum(1 for s in t.spans
                       if s["parent"] == -1 and s["req"] >= 0))
    m["spark.gc_s"] = t.total(timed_jobs, "gc_ms", 1e-3) / calls
    m["spark.spill_mb"] = t.total(timed_jobs, "spill_bytes", 1e-6) / calls
    m["spark.jobs"] = len(timed_jobs) / calls
    m["spark.tasks"] = t.total(timed_jobs, "tasks") / calls
    m["spark.cached_mb"] = ex.get("cached_mb", 0.0)
    m["trace.overhead_ms"] = overhead_ms(raw)
    return m


def overhead_ms(raw):
    """Traced minus untraced median of the exact query (index), or summed
    over the queries of a pass (pipeline). A traced run traces every
    other call, so both medians come from the same stretch of the run."""
    traced, plain = by_kind(raw, traced=True), by_kind(raw, traced=False)
    kinds = ["exact"] if raw["workload"] == "index" else PIPELINE_QUERIES
    return sum(median(traced[k]) - median(plain[k]) for k in kinds
               if traced.get(k) and plain.get(k))


# ---- the named end-to-end view, for the report ------------------------------

def named(raw):
    """[(name, value, unit, samples)] of the named end-to-end metrics this
    workload carries (README.md maps them)."""
    k = by_kind(raw)
    ex = raw["extra"]
    rows = [("setup_s", median(raw["setup_s"]), "s", len(raw["setup_s"])),
            ("cached_mb", ex.get("cached_mb", 0.0), "MB", 1)]
    if raw["workload"] == "index":
        docs = ex.get("docs", 0)
        b4, b1 = k.get("build", []), k.get("build1", [])
        rows += [
            ("build_files_per_s", docs / (median(b4) / 1e3) if b4 else 0.0,
             "files/s", len(b4)),
            ("scaling_efficiency",
             median(b1) / (4 * median(b4)) if b4 and b1 else 0.0, "ratio",
             min(len(b4), len(b1))),
            ("index_bytes_per_source_byte", bytes_ratio(ex), "ratio", 1)]
        for name, kind in (("search_p50_ms", "exact"), ("probe_p50_ms", "probe"),
                           ("batch_p50_ms", "batch"),
                           ("sql_batch_p50_ms", "sql"),
                           ("append_p50_ms", "append"),
                           ("maint_search_p50_ms", "msearch")):
            rows.append((name, median(k.get(kind, [])), "ms",
                         len(k.get(kind, []))))
        rows.append(("search_p90_ms", tail(k.get("exact", []), 90), "ms",
                     len(k.get("exact", []))))
        for name, kind in (("merge_s", "merge"), ("compact_s", "compact")):
            rows.append((name, median(k.get(kind, [])) / 1e3, "s",
                         len(k.get(kind, []))))
    else:
        rows.append(("pipeline_s", median(k.get("pass", [])) / 1e3, "s",
                     len(k.get("pass", []))))
    return rows


def summarize(raw):
    """Everything the report and the result line need from one run."""
    failures = list(raw["failures"])
    oracle = raw.get("oracle", {})
    failures += [f"oracle {q}: {why}" for q, why in oracle.items() if why]
    attempted = raw["attempted"] + len(oracle)
    out = {
        "workload": raw["workload"],
        "env": raw["env"],
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "correct": attempted >= 1 and not failures,
        "named": named(raw),
    }
    out["metrics"] = per_layer(raw) if raw.get("traced") else end_to_end(raw)
    return out


def report(results, trace):
    """Human-readable lines: environment, failures, and every metric by
    name with its unit (and, for the named view, its sample count)."""
    lines = []
    units = dict(PER_LAYER if trace else END_TO_END)
    for w, r in results.items():
        env = r["env"]
        lines.append(f"[{w}] nproc={env['nproc']} heap_mb={env['heap_mb']} "
                     f"spark={env['spark']} local[{env['cpus']}] "
                     f"parts={env['parts']}")
        lines.append(f"[{w}] error_rate {r['failed'] / r['attempted']:.4f} "
                     f"({r['failed']} of {r['attempted']} operations)")
        lines += [f"[{w}] FAILED {f}" for f in r["failures"]]
        if not trace:
            lines += [f"[{w}] {n} = {v:.6g} {u} (n={c})" + (
                f": a tail needs {tail_samples(90)} samples, run longer"
                if math.isnan(v) else "") for n, v, u, c in r["named"]]
        lines += [f"[{w}] metric {n} = {v:.6g} {units[n]}"
                  for n, v in r["metrics"].items()]
    return lines


def result_line(r, trace):
    units = dict(PER_LAYER if trace else END_TO_END)
    return {"correct": r["correct"], "attempted": r["attempted"],
            "failed": r["failed"],
            "metrics": {n: {"value": v, "unit": units[n]}
                        for n, v in r["metrics"].items()}}
