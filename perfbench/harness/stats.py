"""Statistics over one run's raw result file: percentiles with the
tail rule, span self times, driver gaps and the per-workload metrics.

Pure functions of plain lists and dicts, so the unit tests in
perfbench/tests need neither Spark nor the JVM.
"""

import math
import statistics

# a tail percentile is reported only with at least this many samples
# beyond it
MIN_BEYOND = 10


def quantile(xs, q):
    """The q-quantile of xs by linear interpolation between order
    statistics (numpy's default); None for an empty list."""
    if not xs:
        return None
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs, q):
    """{"value", "n"} for the q-quantile when at least MIN_BEYOND of the
    n samples lie beyond it (n * (1 - q) >= MIN_BEYOND), else a record
    of why it is withheld. The sample count is always stated."""
    n = len(xs)
    if n == 0 or n * (1 - q) + 1e-9 < MIN_BEYOND:
        need = math.ceil(MIN_BEYOND / (1 - q) - 1e-9)
        return {"value": None, "n": n, "withheld": f"needs >= {need} samples"}
    return {"value": quantile(xs, q), "n": n}


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, s, e):
    return [(max(a, s), min(b, e)) for a, b in intervals if b > s and a < e]


def self_times(spans):
    """span id -> self time: the span's duration minus the part of its
    interval that its child spans cover (overlapping children count
    once). spans: [id, parent, op, name, start, end]."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp[1], []).append((sp[4], sp[5]))
    out = {}
    for sp in spans:
        s, e = sp[4], sp[5]
        out[sp[0]] = (e - s) - union_length(clip(kids.get(sp[0], []), s, e))
    return out


def driver_gap(span_start, span_end, jobs):
    """Span wall minus the union of the job intervals inside it: the
    time the driver ran with no Spark job active. jobs: [id, start, end]."""
    return (span_end - span_start) - union_length(
        clip([(j[1], j[2]) for j in jobs], span_start, span_end))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# ------------------------------------------------------------------ metrics

END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"),
              ("items_per_s", "1/s"), ("op_ms_p50", "ms")]

PER_LAYER = [
    ("setup.session_ms", "ms"), ("setup.generate_ms", "ms"),
    ("setup.warmup_ms", "ms"),
    ("spark.plan_ms", "ms"), ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.exec_run_ms", "ms"), ("spark.exec_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"), ("spark.shuffle_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.driver_gap_ms", "ms"),
    ("etl.fetch_ms", "ms"), ("etl.fetch_pages", "count"),
    ("etl.fetch_retries", "count"), ("etl.build_ms", "ms"),
    ("etl.export_ms", "ms"), ("etl.write_bytes", "B"),
    ("etl.write_files", "count"),
    ("queries.short.build_ms", "ms"), ("queries.short.exec_ms", "ms"),
    ("queries.heavy.build_ms", "ms"), ("queries.heavy.exec_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.query_planning_ms", "ms"),
    ("stream.get_batch_ms", "ms"), ("stream.latest_offset_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
    ("stream.state_commit_ms", "ms"),
    ("stream.state_rows", "count"), ("stream.state_mem_bytes", "B"),
    ("trace.overhead_pct", "%"), ("trace.self_sum_frac", "frac"),
    ("trace.spans", "count"),
]

# streaming progress durationMs keys behind the stream.* layer metrics
PROGRESS_KEYS = {
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.get_batch_ms": "getBatch",
    "stream.latest_offset_ms": "latestOffset",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.state_commit_ms": "stateCommit",
    "stream.state_rows": "stateRows",
    "stream.state_mem_bytes": "stateMem",
}

def trigger_ms(progress):
    """Per-trigger triggerExecution of the triggers that processed data."""
    return [p["triggerExecution"] for p in progress
            if "triggerExecution" in p and p.get("rows", 0) > 0]


def items_and_op(workload, rec, progress):
    """(items per second, the operation's latency samples in ms) for the
    two gated throughput/latency metrics."""
    smp, cnt = rec["samples"], rec["counters"]
    if workload == "export":
        ops = smp.get("job_ms", [])
        return cnt.get("climbs", 0) / (sum(ops) / 1e3), ops
    if workload == "queries":
        short = smp.get("short_ms", [])
        total = sum(short) + sum(smp.get("heavy_ms", []))
        return (len(short) + len(smp.get("heavy_ms", []))) / (total / 1e3), short
    raise ValueError(workload)


def named_report(workload, rec, progress):
    """The workload's metrics under their descriptive names, with tails
    and sample counts."""
    smp, cnt = rec["samples"], rec["counters"]
    items, op = items_and_op(workload, rec, progress)
    r = {}
    if workload == "export":
        r["export_climbs_per_s"] = items
        r["export_bytes_per_climb"] = cnt["write_bytes"] / cnt["climbs"]
        r["export_job_ms_p50"] = {"value": median(op), "n": len(op)}
        r["export_job_ms_mean_of_p50s"] = op_ms_p50(workload, rec, op)
    elif workload == "queries":
        heavy = per_query_medians(smp, "heavy")
        r["query_short_ms_p50"] = {"value": median(op), "n": len(op)}
        r["query_short_ms_p90"] = tail(op, 0.9)
        r["query_short_ms_mean_of_p50s"] = op_ms_p50(workload, rec, op)
        r["query_heavy_s"] = {"value": sum(heavy.values()) / 1e3,
                              "n": len(smp.get("heavy_ms", []))}
        r["query_ms_p50_by_query"] = {**per_query_medians(smp, "short"), **heavy}
        # q161's micro-batches
        trig = trigger_ms(progress)
        r["stream_batch_ms_p50"] = {"value": median(trig), "n": len(trig)}
        r["stream_batch_ms_p95"] = tail(trig, 0.95)
    return r


def per_query_medians(samples, cls):
    """kind -> median time, for the samples recorded as "<cls>.<kind>"."""
    pre = cls + "."
    return {k[len(pre):]: median(v) for k, v in samples.items()
            if k.startswith(pre)}


def op_ms_p50(workload, rec, op):
    """The gated operation latency. Where one operation comes in several
    kinds (export: schema x codec; queries: the short class's queries) it
    is the per-kind medians averaged: a median over the pooled samples
    would fall between kinds and jump between them from run to run."""
    if workload in ("export", "queries"):
        cls = "job" if workload == "export" else "short"
        return mean(list(per_query_medians(rec["samples"], cls).values()))
    return median(op)


def end_to_end(workload, res, peak_rss_mb):
    rec = res["rec"]
    items, op = items_and_op(workload, rec, res.get("progress", []))
    setup_s = median([sum(s) for s in res["setup"]]) / 1e3
    return {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb,
            "items_per_s": items, "op_ms_p50": op_ms_p50(workload, rec, op)}


def per_layer(workload, res):
    """Every per-layer metric; layers the workload does not exercise
    read 0 (their sample counts, in the detail, are 0)."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    counts = {}
    setups = res["setup"]
    out["setup.session_ms"] = median([s[0] for s in setups])
    out["setup.generate_ms"] = median([s[1] for s in setups])
    out["setup.warmup_ms"] = median([s[2] for s in setups])

    spans = res.get("spans", [])
    root = next((s for s in spans if s[3] == "run"), None)
    ops = [s for s in spans if root and s[1] == root[0]]
    jobs, tasks, plans = res.get("jobs", []), res.get("tasks", []), res.get("plans", [])
    # Spark listener counts attributed to the operation whose span holds them
    per_op = []
    for sp in ops:
        s, e = sp[4], sp[5]
        tk = [t for t in tasks if s <= t[0] <= e]
        per_op.append({
            "spark.plan_ms": sum(p[1] for p in plans if s <= p[0] <= e),
            "spark.jobs": sum(1 for j in jobs if s <= j[1] <= e),
            "spark.tasks": len(tk),
            "spark.exec_run_ms": sum(t[1] for t in tk),
            "spark.exec_cpu_ms": sum(t[2] for t in tk),
            "spark.gc_ms": sum(t[3] for t in tk),
            "spark.shuffle_bytes": sum(t[4] for t in tk),
            "spark.spill_bytes": sum(t[5] for t in tk),
            "spark.driver_gap_ms": driver_gap(s, e, jobs),
        })
    for k in ["spark.plan_ms", "spark.jobs", "spark.tasks", "spark.exec_run_ms",
              "spark.exec_cpu_ms", "spark.gc_ms", "spark.shuffle_bytes",
              "spark.spill_bytes", "spark.driver_gap_ms"]:
        out[k] = mean([o[k] for o in per_op])
        counts[k] = len(per_op)

    def span_ms(name):
        return [s[5] - s[4] for s in spans if s[3] == name]

    for metric, name in [("etl.fetch_ms", "etl.fetch"), ("etl.build_ms", "etl.build"),
                         ("etl.export_ms", "etl.export"),
                         ("queries.short.build_ms", "queries.short.build"),
                         ("queries.short.exec_ms", "queries.short.exec"),
                         ("queries.heavy.build_ms", "queries.heavy.build"),
                         ("queries.heavy.exec_ms", "queries.heavy.exec")]:
        xs = span_ms(name)
        out[metric], counts[metric] = median(xs), len(xs)

    rec = res["rec"]
    smp, cnt = rec["samples"], rec["counters"]
    if workload == "export":
        n = len(smp.get("job_ms", []))
        for metric, key in [("etl.fetch_pages", "fetch_pages"),
                            ("etl.fetch_retries", "fetch_retries"),
                            ("etl.write_bytes", "write_bytes"),
                            ("etl.write_files", "write_files")]:
            out[metric], counts[metric] = cnt.get(key, 0) / max(n, 1), n
    prog = [p for p in res.get("progress", []) if p.get("rows", 0) > 0]
    for metric, key in PROGRESS_KEYS.items():
        xs = [p[key] for p in prog if key in p]
        out[metric], counts[metric] = median(xs), len(xs)

    if root:
        st = self_times(spans)
        wall = root[5] - root[4]
        out["trace.self_sum_frac"] = sum(st.values()) / wall if wall > 0 else 0.0
        out["trace.spans"] = len(spans)
        # tracing overhead: the gated operation latency of the traced half
        # over that of the untraced half of the same run
        plain_rec = res["untraced"]
        _, plain_op = items_and_op(workload, plain_rec, res.get("untraced_progress", []))
        _, traced_op = items_and_op(workload, rec, res.get("progress", []))
        plain = op_ms_p50(workload, plain_rec, plain_op)
        traced = op_ms_p50(workload, rec, traced_op)
        out["trace.overhead_pct"] = (traced / plain - 1) * 100 if plain > 0 else 0.0
        selfs = {}
        for sp in spans:
            selfs[sp[3]] = selfs.get(sp[3], 0.0) + st[sp[0]]
        return out, counts, {k: round(v, 3) for k, v in sorted(selfs.items())}
    return out, counts, {}
