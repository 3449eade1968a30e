"""Turns one run record written by perfbench.Main into the benchmark's
metrics: order statistics of the latency samples, per-op Spark aggregates
from the listener records, and each layer's self time from the spans.
"""
import statistics

TAIL_BEYOND = 10

# name -> (unit, better); the order is the report's order
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "op_tail_ms": ("ms", "lower"),
    "items_per_s": ("1/s", "higher"),
    "live_heap_peak_mb": ("MB", "lower"),
}

LAYERS = ["bench", "sql", "job", "expr", "plans", "ops", "streaming", "core", "spark"]

PER_LAYER = {
    "core.sbbf_insert_ns_per_key": ("ns", "lower"),
    "core.sbbf_lookup_ns_per_key": ("ns", "lower"),
    "core.sbbf_to_bytes_ms": ("ms", "lower"),
    "core.sbbf_from_bytes_ms": ("ms", "lower"),
    "core.filter_bits_per_key": ("bits/key", "lower"),
    **{f"core.merge_us.{f}": ("us", "lower") for f in ("bloom", "hll", "cms", "kll")},
    **{f"core.partial_bytes.{f}": ("bytes", "lower") for f in ("bloom", "hll", "cms", "kll")},
    "expr.scan_ns_per_row": ("ns", "lower"),
    "expr.key_hash_ns_per_row": ("ns", "lower"),
    "expr.bloom_contains_ns_per_row": ("ns", "lower"),
    "job.partition_build_ms_p50": ("ms", "lower"),
    "job.partition_skew": ("ratio", "lower"),
    "job.merge_ms": ("ms", "lower"),
    "job.checkpoint_bytes_per_key": ("bytes/key", "lower"),
    "plans.sketch_agg_planned": ("count", "higher"),
    "plans.partial_flushes": ("count", "lower"),
    "plans.partial_rows_per_group": ("ratio", "lower"),
    "ops.minhash_pairs_ms": ("ms", "lower"),
    "ops.cluster_ms": ("ms", "lower"),
    "ops.join_back_ms": ("ms", "lower"),
    "ops.pair_recall": ("ratio", "higher"),
    "ops.pair_precision": ("ratio", "higher"),
    "streaming.trigger_overhead_ms": ("ms", "lower"),
    "streaming.commit_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_bytes": ("bytes", "lower"),
    "sql.register_ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.planning_ms": ("ms", "lower"),
    "spark.driver_gap_ms": ("ms", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.executor_cpu_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.task_wait_ms": ("ms", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    **{f"self_ms.{layer}": ("ms", "lower") for layer in LAYERS},
    "trace.op_p50_ms": ("ms", "lower"),
}


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample count). With `beyond` or fewer
    samples no percentile qualifies and the maximum is returned as p100.
    """
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - beyond  # 1-based rank of the order statistic with `beyond` above
    return s[k - 1], 100.0 * k / n, n


def union_length(intervals, lo=float("-inf"), hi=float("inf")):
    """Total length covered by the intervals clipped to [lo, hi], overlaps once."""
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


class SpanTree:
    """Spans of a traced run plus Spark jobs as child spans of layer "spark".

    A job is attached to the span whose id it carried, then moved down into
    the child span that contains its start (a streaming micro-batch, whose
    span is recorded after the fact under the span that started the query).
    """

    def __init__(self, spans, jobs):
        self.spans = {}
        self.children = {}
        for sid, parent, layer, name, unit, start, end in spans:
            self.spans[sid] = dict(id=sid, parent=parent, layer=layer, name=name,
                                   unit=unit, start=start, end=end)
            self.children.setdefault(parent, []).append(sid)
        self.jobs = []
        for jid, carried, start, end, stages in jobs:
            if carried not in self.spans or end is None:
                continue
            self.jobs.append(dict(id=jid, span=self._descend(carried, start),
                                  start=start, end=end, stages=stages))
        self.job_children = {}
        for j in self.jobs:
            self.job_children.setdefault(j["span"], []).append(j)

    def _descend(self, sid, t):
        while True:
            inner = [c for c in self.children.get(sid, [])
                     if self.spans[c]["start"] <= t <= self.spans[c]["end"]]
            if not inner:
                return sid
            sid = inner[0]

    def self_ms(self, sid):
        s = self.spans[sid]
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children.get(sid, [])]
        kids += [(j["start"], j["end"]) for j in self.job_children.get(sid, [])]
        return (s["end"] - s["start"]) - union_length(kids, s["start"], s["end"])

    def descendants(self, sid):
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, []))
        return out

    def unit_of(self, sid):
        while sid in self.spans:
            if self.spans[sid]["unit"]:
                return sid
            sid = self.spans[sid]["parent"]
        return None

    def timed_roots(self):
        """Top-level closed-loop op spans (layer "bench")."""
        return [sid for sid in self.children.get(0, []) if self.spans[sid]["layer"] == "bench"]


def layer_self_ms(tree):
    """Self time of each layer over the timed phase, per unit op."""
    totals = {layer: 0.0 for layer in LAYERS}
    units = 0
    for root in tree.timed_roots():
        for sid in tree.descendants(root):
            span = tree.spans[sid]
            totals[span["layer"]] = totals.get(span["layer"], 0.0) + tree.self_ms(sid)
            units += 1 if span["unit"] else 0
            totals["spark"] += union_length(
                [(j["start"], j["end"]) for j in tree.job_children.get(sid, [])],
                span["start"], span["end"])
    return {layer: totals.get(layer, 0.0) / max(units, 1) for layer in LAYERS}


def spark_per_unit(tree, stages, tasks, planning):
    """Median over the timed phase's unit ops of each Spark execution aggregate."""
    stage_info = {s[0]: s for s in stages}
    tasks_by_stage = {}
    for t in tasks:
        tasks_by_stage.setdefault(t[0], []).append(t)
    jobs_by_unit = {}
    for j in tree.jobs:
        u = tree.unit_of(j["span"])
        if u is not None:
            jobs_by_unit.setdefault(u, []).append(j)
    units = [sid for root in tree.timed_roots() for sid in tree.descendants(root)
             if tree.spans[sid]["unit"]]
    rows = []
    for u in units:
        span = tree.spans[u]
        jobs = jobs_by_unit.get(u, [])
        stage_ids = sorted({sid for j in jobs for sid in j["stages"] if sid in stage_info})
        ts = [t for sid in stage_ids for t in tasks_by_stage.get(sid, [])]
        waits = [t[1] - stage_info[t[0]][1] for t in ts]
        skews = []
        for sid in stage_ids:
            runs = [t[3] for t in tasks_by_stage.get(sid, [])]
            if len(runs) >= 2:
                skews.append(max(runs) / max(statistics.median(runs), 1.0))
        rows.append({
            "spark.jobs": len(jobs),
            "spark.stages": len(stage_ids),
            "spark.tasks": len(ts),
            "spark.planning_ms": sum(p[1] for p in planning
                                     if span["start"] <= p[0] <= span["end"]),
            "spark.driver_gap_ms": (span["end"] - span["start"]) - union_length(
                [(j["start"], j["end"]) for j in jobs], span["start"], span["end"]),
            "spark.executor_run_ms": sum(t[3] for t in ts),
            "spark.executor_cpu_ms": sum(t[4] for t in ts),
            "spark.gc_ms": sum(t[5] for t in ts),
            "spark.task_wait_ms": statistics.mean(waits) if waits else 0.0,
            "spark.task_skew": max(skews) if skews else 1.0,
            "spark.shuffle_write_bytes": sum(t[6] for t in ts),
            "spark.shuffle_read_bytes": sum(t[7] for t in ts),
            "spark.spill_bytes": sum(t[8] for t in ts),
        })
    if not rows:
        return {}
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def end_to_end(rec):
    samples = rec["samples"]
    op = samples[rec["op_samples"]]
    value, _, _ = tail(op)
    return {
        "setup_s": statistics.median(rec["setup_s"]) + rec["warmup_s"],
        "op_p50_ms": statistics.median(op),
        "op_tail_ms": value,
        "items_per_s": rec["items"] / statistics.median(samples[rec["items_samples"]]) * 1000.0,
        "live_heap_peak_mb": rec["heap_peak_mb"],
    }


def per_layer(rec):
    """Every per-layer metric; layers the workload does not exercise read 0."""
    out = {name: 0.0 for name in PER_LAYER}
    out.update(rec["layers"])
    out["sql.register_ms"] = statistics.median(rec["register_ms"])
    tr = rec["trace"]
    tree = SpanTree(tr["spans"], tr["jobs"])
    out.update(spark_per_unit(tree, tr["stages"], tr["tasks"], tr["planning"]))
    for layer, ms in layer_self_ms(tree).items():
        out[f"self_ms.{layer}"] = ms
    out["trace.op_p50_ms"] = statistics.median(rec["samples"][rec["op_samples"]])
    return out


def named(rec):
    """The workload's own metric names, as (name, value, unit, note)."""
    out = []
    for n in rec["named"]:
        s = rec["samples"][n["samples"]]
        if n["kind"] == "rate":
            out.append((n["name"], n["items"] / statistics.median(s) * 1000.0, n["unit"], ""))
        elif n["kind"] == "p50":
            out.append((n["name"], statistics.median(s), n["unit"], f"n={len(s)}"))
        else:
            v, pct, cnt = tail(s)
            out.append((n["name"], v, n["unit"], f"p{pct:.1f}, n={cnt}, {TAIL_BEYOND} beyond"))
    return out
