"""Metric arithmetic over the raw result the benchmark program writes.

End-to-end metrics (untraced runs) are named alike on every workload;
per-layer metrics (traced runs) are named by graft module and read 0 on
a workload whose path never calls that layer.
"""

import math
from collections import defaultdict

# name -> (unit, better); the order is the order printed
END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "produce_ms_p50": ("ms", "lower"),
    "query_ms": ("ms", "lower"),
}

# listener counts every counted span carries, as <span>.<count>
COUNTS = {
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_s": ("s", "lower"),
    "busy_ratio": ("ratio", "higher"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
}

COUNTED_SPANS = [
    "streaming.publish", "sinks.merge", "api.get_count", "api.multiget",
    "api.slice", "core.extract", "core.transform", "core.summarize",
    "core.queries", "pipeline.text_stats", "pipeline.exact_dedup",
    "pipeline.lsh_candidates", "pipeline.verify", "pipeline.clean",
    "pipeline.clusters",
]

LAYERS = {
    "streaming.publish_self_ms": ("ms", "lower"),
    "sinks.merge_ms": ("ms", "lower"),
    "sinks.compactions": ("count", "lower"),
    "sinks.bytes_written_per_round": ("bytes", "lower"),
    "sinks.bytes_live": ("bytes", "lower"),
    "sinks.pending_deltas_at_read": ("count", "lower"),
    "sinks.get_key_plan_ms": ("ms", "lower"),
    "api.get_count_ms": ("ms", "lower"),
    "api.view_ms": ("ms", "lower"),
    "api.multiget_ms": ("ms", "lower"),
    "api.slice_ms": ("ms", "lower"),
    "core.extract_ms": ("ms", "lower"),
    "core.extract_kept_ratio": ("ratio", "higher"),
    "core.transform_ms": ("ms", "lower"),
    "core.transform_fanout": ("ratio", "higher"),
    "core.count_state_ms": ("ms", "lower"),
    "core.lastn_state_ms": ("ms", "lower"),
    "core.assoc_state_ms": ("ms", "lower"),
    "core.summarize_ms": ("ms", "lower"),
    "core.queries_ms": ("ms", "lower"),
    "pipeline.text_stats_ms": ("ms", "lower"),
    "pipeline.exact_dedup_ms": ("ms", "lower"),
    "pipeline.lsh_candidates_ms": ("ms", "lower"),
    "pipeline.verify_ms": ("ms", "lower"),
    "pipeline.verify_yield": ("ratio", "higher"),
    "pipeline.near_dup_recall": ("ratio", "higher"),
    "pipeline.kept_ratio": ("ratio", "higher"),
    "pipeline.clean_ms": ("ms", "lower"),
    "pipeline.clusters_ms": ("ms", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "jvm.heap_peak_mb": ("MB", "lower"),
    "bench.op_ms": ("ms", "lower"),
    "bench.untraced_ms": ("ms", "lower"),
    "bench.traced_share": ("ratio", "higher"),
}
for _span in COUNTED_SPANS:
    for _c, _ub in COUNTS.items():
        LAYERS[f"{_span}.{_c}"] = _ub

# spans whose mean duration is the layer metric <span>_ms
TIMED_SPANS = [
    "sinks.merge", "sinks.get_key_plan", "api.get_count", "api.view",
    "api.multiget", "api.slice", "core.extract", "core.transform",
    "core.count_state", "core.lastn_state", "core.assoc_state",
    "core.summarize", "core.queries", "pipeline.text_stats",
    "pipeline.exact_dedup", "pipeline.lsh_candidates", "pipeline.verify",
    "pipeline.clean", "pipeline.clusters",
]

# the span that wraps one measured operation of each workload
OP_SPAN = {"ingest_serve": "ingest.round", "corpus_clean": "clean.rep"}


def percentile(values, q):
    """Linear interpolation between closest ranks, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_second(items, ms_total):
    """Items processed per second of the wall time spent on them."""
    if ms_total <= 0:
        raise ValueError("no time measured")
    return items * 1000.0 / ms_total


def self_times(spans):
    """Span id -> (self ns, self counts): the span's own interval and
    counts minus those of its direct children."""
    out = {}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        counts = list(s["counts"])
        for c in kids[s["id"]]:
            dur -= c["end_ns"] - c["start_ns"]
            counts = [a - b for a, b in zip(counts, c["counts"])]
        out[s["id"]] = (dur, counts)
    return out


def end_to_end(raw):
    st = raw["stage"]
    w = raw["workload"]
    if w == "ingest_serve":
        cyc = st["cycles"]
        # the delta rounds; each cycle's backfill is its set-up
        publish = [p for c in cyc for p in c["publish_ms"]]
        # a cycle reads at a fixed mix of 1, 2 and 0 pending deltas; the
        # mean weighs that mix, where a median falls between its modes
        points = [p for c in cyc for ps in c["point_ms"] for p in ps]
        items = sum(st["events"][1:]) * len(cyc)
        vals = (per_second(items, sum(publish)), median(publish), mean(points))
    else:
        vals = (per_second(st["docs"] * len(st["clean_ms"]), sum(st["clean_ms"])),
                median(st["clean_ms"]), median(st["clusters_ms"]))
    return dict(zip(END_TO_END, (median(raw["setup_s"]),) + vals))


def per_layer(raw):
    st = raw["stage"]
    w = raw["workload"]
    spans = raw["spans"]
    selfs = self_times(spans)
    cores = raw["cores"]
    out = {name: 0.0 for name in LAYERS}

    def of(name):
        return [s for s in spans if s["name"] == name]

    def dur_ms(name, own=False):
        ss = of(name)
        return mean((selfs[s["id"]][0] if own else s["end_ns"] - s["start_ns"])
                    / 1e6 for s in ss)

    for name in COUNTED_SPANS:
        ss = of(name)
        if not ss:
            continue
        wall_s = sum(selfs[s["id"]][0] for s in ss) / 1e9
        tot = [sum(selfs[s["id"]][1][i] for s in ss) for i in range(5)]
        jobs, tasks, task_ns, shuffle, spill = tot
        n = len(ss)
        out[f"{name}.jobs"] = jobs / n
        out[f"{name}.tasks"] = tasks / n
        out[f"{name}.task_s"] = task_ns / 1e9 / n
        out[f"{name}.busy_ratio"] = task_ns / 1e9 / (wall_s * cores) if wall_s else 0.0
        out[f"{name}.shuffle_write_bytes"] = shuffle / n
        out[f"{name}.spill_bytes"] = spill / n

    for span in TIMED_SPANS:
        out[f"{span}_ms"] = dur_ms(span)
    out["streaming.publish_self_ms"] = dur_ms("streaming.publish", own=True)

    if w == "ingest_serve":
        cyc = st["cycles"]
        out["sinks.compactions"] = mean(sum(c["compacted"]) for c in cyc)
        out["sinks.bytes_written_per_round"] = mean(
            b for c in cyc for b in c["bytes_written"])
        out["sinks.bytes_live"] = mean(c["bytes_live"] for c in cyc)
        out["sinks.pending_deltas_at_read"] = mean(
            p for c in cyc for p in c["pending_at_read"])
        bulk = st.get("bulk")
        if bulk:
            out["core.extract_kept_ratio"] = bulk["extracted"] / bulk["events"]
            out["core.transform_fanout"] = bulk["transformed"] / bulk["extracted"]
    else:
        cands, ver = sum(st["candidates"]), sum(st["verified"])
        out["pipeline.verify_yield"] = ver / cands if cands else 0.0
        out["pipeline.near_dup_recall"] = mean(st["planted_found"]) / st["planted"]
        out["pipeline.kept_ratio"] = mean(st["kept"]) / st["docs"]

    out["jvm.gc_ms"] = float(raw["jvm"]["gc_ms"])
    out["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
    wall = op_ms(raw)
    untraced = mean(selfs[s["id"]][0] / 1e6 for s in of(OP_SPAN[w]))
    out["bench.op_ms"] = wall
    out["bench.untraced_ms"] = untraced
    out["bench.traced_share"] = 1.0 - untraced / wall if wall else 0.0
    return out


def op_ms(raw):
    """Mean wall of one measured operation: the tracing-overhead base."""
    ops = [s for s in raw["spans"] if s["name"] == OP_SPAN[raw["workload"]]]
    return mean((s["end_ns"] - s["start_ns"]) / 1e6 for s in ops)


def result(raw, trace):
    table = LAYERS if trace else END_TO_END
    vals = per_layer(raw) if trace else end_to_end(raw)
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {n: {"value": vals[n], "unit": table[n][0]} for n in table},
    }
