"""Metric arithmetic of the benchmark: medians, the tail-percentile
rule, span self times, and the per-layer metrics of a traced run."""
import math
import re
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile of xs (p in (0, 100])."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(xs):
    """The highest of TAIL_PERCENTILES with at least TAIL_MIN_BEYOND
    samples strictly above its value -> (percentile, value, samples
    beyond); None when even the median has fewer beyond it."""
    for p in TAIL_PERCENTILES:
        v = percentile(xs, p) if xs else None
        if v is not None:
            beyond = sum(1 for x in xs if x > v)
            if beyond >= TAIL_MIN_BEYOND:
                return p, v, beyond
    return None


def union_length(intervals, lo, hi):
    """Length of the union of [s, e) intervals clipped to [lo, hi)."""
    total, at = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= at:
            continue
        total += e - max(s, at)
        at = e
    return total


def span_tree(spans, jobs=()):
    """Harness spans as a tree, each with its self time (duration minus
    the union of its child spans), plus the engine jobs hung under the
    innermost span that contains their start. Returns nodes {id, parent,
    name, kind ("span" | "job"), start, end, self}; jobs get ids after
    the spans and self = their duration."""
    nodes = [{"id": s["id"], "parent": s["parent"], "name": s["name"], "kind": "span",
              "start": s["start_ms"], "end": s["end_ms"]} for s in spans]
    kids = {}
    for n in nodes:
        kids.setdefault(n["parent"], []).append((n["start"], n["end"]))
    for n in nodes:
        n["self"] = (n["end"] - n["start"]) - union_length(kids.get(n["id"], []),
                                                           n["start"], n["end"])
    next_id = max([n["id"] for n in nodes], default=-1) + 1
    spans_only = list(nodes)
    for j in jobs:
        if j["end_ms"] < 0:
            continue
        holders = [n for n in spans_only if n["start"] <= j["start_ms"] <= n["end"]]
        parent = max(holders, key=lambda n: n["start"])["id"] if holders else -1
        nodes.append({"id": next_id, "parent": parent, "name": j["site"], "kind": "job",
                      "start": j["start_ms"], "end": j["end_ms"],
                      "self": j["end_ms"] - j["start_ms"]})
        next_id += 1
    return nodes


def reconcile(nodes):
    """Sum of the spans' self times, in ms: the root span's duration when
    every span lies inside its parent."""
    return sum(n["self"] for n in nodes if n["kind"] == "span")


def under(nodes, names):
    """Nodes inside (or equal to) spans whose name is in `names`."""
    by_id = {n["id"]: n for n in nodes}

    def inside(n):
        while n is not None:
            if n["kind"] == "span" and n["name"] in names:
                return True
            n = by_id.get(n["parent"])
        return False
    return [n for n in nodes if inside(n)]


def site_stage(site, stage_lines):
    """Funnel stage of a job from its library call site: a count in
    CurationPipeline.run maps by its source line, a job raised inside
    the dedup module is near-dup work."""
    m = re.search(r"CurationPipeline\.scala:(\d+)", site)
    if m:
        return stage_lines.get(int(m.group(1)), "text.other")
    if site.startswith("graft.dedup."):
        return "dedup.near"
    return None


def curation_stage_lines(source):
    """Source line -> funnel stage of the eager stage counts in
    CurationPipeline.run, found by their statements."""
    marks = {"gated.count()": "text.gate", "exactDeduped.count()": "dedup.exact",
             "clean.count()": "dedup.near", "input.count()": "text.input"}
    out = {}
    for i, line in enumerate(source.splitlines(), 1):
        for mark, stage in marks.items():
            if mark in line:
                out[i] = stage
    return out


PER_LAYER = [
    "io.fetch_calls", "io.fetch_s", "io.fetch_bytes", "io.fetch_error_ratio",
    "pipeline.classify_batches", "pipeline.classify_items", "pipeline.classify_s",
    "signal.self_s", "signal.segments", "pipeline.loop_stage_s", "pipeline.loop_task_skew",
    "meta.build_s", "io.sinks_write_s", "io.sinks_files", "io.sinks_jobs",
    "text.gate_s", "text.gate_kept_ratio", "dedup.exact_s", "dedup.near_s",
    "dedup.candidate_pairs", "dedup.verified_pair_ratio",
    "dedup.bloom_survivors", "dedup.bloom_false_positive_ratio",
    "layout.append_s", "layout.read_s", "streaming.query_start_s",
    "core.plan_s", "core.jobs", "core.stages", "core.tasks", "core.shuffle_write_mb",
    "core.shuffle_read_mb", "core.spill_mb", "core.executor_cpu_s", "core.gc_s",
    "core.core_idle_share", "trace.overhead_s", "trace.reconcile_error",
]
UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_share": "ratio", "_skew": "ratio",
         "_error": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "bytes" if name.endswith("_bytes") else "count"


def layer_metrics(rep, cores, stage_lines):
    """Per-layer metrics of one traced repetition."""
    eng, ex = rep["engine"], rep["extras"]
    nodes = span_tree(rep["spans"], eng["jobs"])
    stages = eng["stages"]
    m = {k: 0.0 for k in PER_LAYER}

    # engine-wide
    m["core.plan_s"] = eng["plan_ms"] / 1e3
    m["core.jobs"] = len(eng["jobs"])
    m["core.stages"] = len(stages)
    m["core.tasks"] = sum(s["tasks"] for s in stages)
    m["core.shuffle_write_mb"] = sum(s["shuffle_write"] for s in stages) / 1e6
    m["core.shuffle_read_mb"] = sum(s["shuffle_read"] for s in stages) / 1e6
    m["core.spill_mb"] = sum(s["spill"] for s in stages) / 1e6
    m["core.executor_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["core.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
    slots = sum(max(0, s["completed_ms"] - s["submitted_ms"]) * cores for s in stages)
    busy = sum(s["run_ms"] for s in stages)
    m["core.core_idle_share"] = max(0.0, slots - busy) / slots if slots else 0.0

    # audio: fetch / classify wrappers and the per-channel loop stage
    calls = ex.get("acc.fetch_calls", 0.0)
    m["io.fetch_calls"] = calls
    m["io.fetch_s"] = ex.get("acc.fetch_ns", 0.0) / 1e9
    m["io.fetch_bytes"] = ex.get("acc.fetch_bytes", 0.0)
    m["io.fetch_error_ratio"] = ex.get("acc.fetch_errors", 0.0) / calls if calls else 0.0
    m["pipeline.classify_batches"] = ex.get("acc.classify_batches", 0.0)
    m["pipeline.classify_items"] = ex.get("acc.classify_items", 0.0)
    m["pipeline.classify_s"] = ex.get("acc.classify_ns", 0.0) / 1e9
    m["signal.segments"] = ex.get("signal.segments", 0.0)
    fetch_acc = ex.get("accid.fetch_calls")
    loop = [s for s in stages if fetch_acc is not None and int(fetch_acc) in
            [int(a) for a in s["accums"]]]
    if loop:
        runs = [t for s in loop for t in s["task_run_ms"]]
        m["pipeline.loop_stage_s"] = sum(s["completed_ms"] - s["submitted_ms"] for s in loop) / 1e3
        med = median(runs)
        m["pipeline.loop_task_skew"] = max(runs) / med if med else 0.0
        m["signal.self_s"] = max(0.0, sum(runs) / 1e3 - m["io.fetch_s"] - m["pipeline.classify_s"])

    # sinks and metadata
    sink_spans = [n for n in nodes if n["kind"] == "span" and n["name"].startswith("sink.")]
    m["io.sinks_write_s"] = sum(n["end"] - n["start"] for n in sink_spans) / 1e3
    m["io.sinks_jobs"] = sum(1 for n in under(nodes, {n["name"] for n in sink_spans})
                             if n["kind"] == "job")
    m["io.sinks_files"] = ex.get("io.sinks_files", 0.0)
    m["meta.build_s"] = sum(n["end"] - n["start"] for n in sink_spans if n["name"] == "sink.meta") / 1e3

    # text funnel stages, attributed by the jobs' library call sites
    for n in nodes:
        if n["kind"] == "job":
            st = site_stage(n["name"], stage_lines)
            if st in ("text.gate", "dedup.exact", "dedup.near"):
                m[st + "_s"] += (n["end"] - n["start"]) / 1e3
    gin = ex.get("text.gate_in", 0.0)
    m["text.gate_kept_ratio"] = ex.get("text.gate_out", 0.0) / gin if gin else 0.0
    pm = eng["plan_metrics"]
    cand = pm.get("lsh.candidate_pairs", 0.0)
    m["dedup.candidate_pairs"] = cand
    m["dedup.verified_pair_ratio"] = pm.get("lsh.verified_pairs", 0.0) / cand if cand else 0.0

    # refresh: streaming progress and the read-back spans
    m["layout.append_s"] = ex.get("layout.append_ms", 0.0) / 1e3
    m["streaming.query_start_s"] = ex.get("streaming.query_start_ms", 0.0) / 1e3
    m["layout.read_s"] = sum(n["end"] - n["start"] for n in nodes
                             if n["kind"] == "span" and n["name"] == "inc.readback") / 1e3

    wall_ms = rep["wall_s"] * 1e3
    m["trace.reconcile_error"] = abs(reconcile(nodes) - wall_ms) / wall_ms
    return m
