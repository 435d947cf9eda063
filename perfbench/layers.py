"""Turns a benchmark process's raw record into metrics.

The record (written by ``BenchMain``) holds, per pass, each op's
interval and timings; when traced it also holds every Spark job, stage
(with summed task metrics), cached-block total and streaming progress
event, each stamped in epoch milliseconds. Every Spark job belongs to
the op whose interval contains its start, and to a fit group when its
``spark.jobGroup.id`` starts with ``graft-fit-``.

Pass 0 is the cold pass; every later pass is a warm pass. All
per-layer figures are per pass, and a run reports the median over its
warm passes.
"""
import statistics

MB = 1048576.0
FIT_GROUP = "graft-fit-"

# metric name -> (unit, better); end-to-end metrics are reported untraced
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_pass_s": ("s", "lower"),
    "warm_pass_s": ("s", "lower"),
    "input_rows_per_s": ("1/s", "higher"),
    "ok_ratio": ("ratio", "higher"),
    "retained_heap_mb": ("MB", "lower"),
}

# pipeline op -> the layer metric its time adds to
PIPELINE_OPS = {
    "ingest": "ingest.ingest_s", "manifest": "ingest.manifest_s",
    "read_ticker": "lake.read_s", "read_week": "lake.read_s",
    "read_day": "lake.read_s", "adjust": "adjust.build_s",
    "audit": "adjust.audit_s", "qa": "query.qa_s",
}
LAKE_READS = ("read_ticker", "read_week", "read_day")

LAYER_UNITS = {
    "ingest.ingest_s": "s", "ingest.manifest_s": "s", "ingest.output_mb": "MB",
    "ingest.files_written": "count",
    "lake.read_s": "s", "lake.prune_ratio": "ratio",
    "adjust.build_s": "s", "adjust.audit_s": "s",
    "query.qa_s": "s",
    "driver.gap_s": "s", "driver.gap_share": "ratio",
    "codegen.compiles": "count", "codegen.compile_s": "s", "codegen.source_kb": "KB",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.stages_skipped": "count", "scheduler.tasks": "count",
    "scheduler.launch_delay_s": "s", "scheduler.deser_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.core_util": "ratio", "executor.input_mb": "MB",
    "executor.records_in": "count", "executor.output_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "storage.persist_peak_mb": "MB", "storage.tmp_left_mb": "MB",
    "fitpool.jobs": "count", "fitpool.job_s": "s", "fitpool.overlap_s": "s",
    "fitpool.peak_groups": "count",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.planning_s": "s", "streaming.wal_s": "s",
    "streaming.add_batch_s": "s", "streaming.state_rows": "count",
}


def row_metrics(rows):
    """The two per-row metric names of each ``SparkEntry.queries`` row."""
    return [f"queries.{r}.{k}" for r in rows for k in ("build_s", "exec_s")]


# ---- interval arithmetic (milliseconds) ----------------------------------

def union(intervals):
    """Merge [start, end) intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def intersect(a, b):
    """Length of the overlap of two interval sets."""
    ua, ub, total, j = union(a), union(b), 0, 0
    for s, e in ua:
        while j < len(ub) and ub[j][1] <= s:
            j += 1
        k = j
        while k < len(ub) and ub[k][0] < e:
            total += min(e, ub[k][1]) - max(s, ub[k][0])
            k += 1
    return total


def driver_gap(op_intervals, job_intervals):
    """(gap, covered) in ms over a set of op windows: the part of each
    window no Spark job runs in, and the part some job does. The two
    always sum to the windows' total length.
    """
    covered = sum(length(clip(job_intervals, s, e)) for s, e in op_intervals)
    wall = sum(e - s for s, e in op_intervals)
    return wall - covered, covered


def fit_overlap(jobs):
    """ms of fit-group job time that overlaps main-thread job time."""
    fit = [(j["start"], j["end"]) for j in jobs if j["group"].startswith(FIT_GROUP)]
    main = [(j["start"], j["end"]) for j in jobs if not j["group"].startswith(FIT_GROUP)]
    return intersect(fit, main)


def peak_groups(jobs):
    """Most fit groups with a job running at the same moment."""
    ev = []
    for j in jobs:
        if j["group"].startswith(FIT_GROUP):
            ev += [(j["start"], 1, j["group"]), (j["end"], -1, j["group"])]
    running, peak = {}, 0
    for _, d, g in sorted(ev, key=lambda x: (x[0], x[1])):
        running[g] = running.get(g, 0) + d
        if running[g] == 0:
            del running[g]
        peak = max(peak, len(running))
    return peak


# ---- per-pass layers -----------------------------------------------------

def _owner(ops, t):
    for o in ops:
        if o["start"] <= t <= o["end"]:
            return o["name"]
    return None


def pass_layers(p, trace, cores, rows, checks, lake, tmp_left_mb):
    """Every per-layer metric of one traced pass."""
    ops = p["ops"]
    m = {k: 0.0 for k in LAYER_UNITS}
    m.update({k: 0.0 for k in row_metrics(rows)})
    for o in ops:
        if o["name"] in PIPELINE_OPS:
            m[PIPELINE_OPS[o["name"]]] += o["build_s"] + o["exec_s"]
        else:
            m[f"queries.{o['name']}.build_s"] = o["build_s"]
            m[f"queries.{o['name']}.exec_s"] = o["exec_s"]
        m["codegen.compiles"] += o["compiles"]
        m["codegen.compile_s"] += o["compile_s"]
        m["codegen.source_kb"] += o["source_kb"]

    inside = lambda t: _owner(ops, t) is not None
    jobs = [j for j in trace["jobs"] if inside(j["start"])]
    stages = [s for s in trace["stages"] if inside(s["start"])]
    windows = [(o["start"], o["end"]) for o in ops]
    gap, _ = driver_gap(windows, [(j["start"], j["end"]) for j in jobs])
    wall_ms = sum(e - s for s, e in windows)
    m["driver.gap_s"] = gap / 1e3
    m["driver.gap_share"] = gap / wall_ms if wall_ms else 0.0

    m["scheduler.jobs"] = len(jobs)
    m["scheduler.stages"] = sum(j["stages"] for j in jobs)
    m["scheduler.stages_skipped"] = sum(j["skipped"] for j in jobs)
    for s in stages:
        m["scheduler.tasks"] += s["tasks"]
        m["scheduler.launch_delay_s"] += s["sched_delay_ms"] / 1e3
        m["scheduler.deser_s"] += s["deser_ms"] / 1e3
        m["executor.run_s"] += s["run_ms"] / 1e3
        m["executor.cpu_s"] += s["cpu_ns"] / 1e9
        m["executor.gc_s"] += s["gc_ms"] / 1e3
        m["executor.input_mb"] += s["input_bytes"] / MB
        m["executor.records_in"] += s["records_in"]
        m["executor.output_mb"] += s["output_bytes"] / MB
        m["shuffle.write_mb"] += s["shuffle_write_bytes"] / MB
        m["shuffle.read_mb"] += s["shuffle_read_bytes"] / MB
        m["shuffle.fetch_wait_s"] += s["fetch_wait_ms"] / 1e3
        m["shuffle.spill_mb"] += s["spill_bytes"] / MB
    m["executor.core_util"] = m["executor.run_s"] / (wall_ms / 1e3 * cores) if wall_ms else 0.0

    fit = [j for j in jobs if j["group"].startswith(FIT_GROUP)]
    m["fitpool.jobs"] = len(fit)
    m["fitpool.job_s"] = sum(j["end"] - j["start"] for j in fit) / 1e3
    m["fitpool.overlap_s"] = fit_overlap(jobs) / 1e3
    m["fitpool.peak_groups"] = peak_groups(jobs)

    batches = [b for b in trace["progress"] if inside(b["start"])]
    m["streaming.batches"] = len(batches)
    for k in ("trigger", "planning", "wal", "add_batch"):
        m[f"streaming.{k}_s"] = sum(b[f"{k}_ms"] for b in batches) / 1e3
    last = {}
    for b in batches:
        if b["batch"] >= last.get(b["run"], {"batch": -1})["batch"]:
            last[b["run"]] = b
    m["streaming.state_rows"] = sum(b["state_rows"] for b in last.values())

    peak = [b for t, b in trace["blocks"] if p["start"] <= t <= p["end"]]
    m["storage.persist_peak_mb"] = max(peak, default=0.0) / MB
    m["storage.tmp_left_mb"] = tmp_left_mb

    if lake:
        m["ingest.output_mb"] = lake["output_mb"]
        m["ingest.files_written"] = lake["files_written"]
        scanned = sum(s["records_in"] for s in stages
                      if _owner(ops, s["start"]) in LAKE_READS)
        returned = sum(checks["read_rows"].values())
        m["lake.prune_ratio"] = returned / scanned if scanned else 0.0
    return m


def records_in(p, tasks):
    """Records read by scans in a pass (tasks finishing inside its ops)."""
    return sum(r for t, r in tasks if _owner(p["ops"], t) is not None)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def warm_passes(rec):
    return rec["passes"][1:]


def end_to_end(rec, failed, attempted):
    warm = warm_passes(rec)
    warm_s = median([p["wall_s"] for p in warm])
    recs = median([records_in(p, rec["trace_data"]["tasks"]) for p in warm])
    return {
        "setup_s": median(rec["setups_s"]),
        "cold_pass_s": rec["passes"][0]["wall_s"],
        "warm_pass_s": warm_s,
        "input_rows_per_s": recs / warm_s if warm_s else 0.0,
        "ok_ratio": 1.0 - failed / attempted,
        "retained_heap_mb": rec["retained_heap_mb"],
    }


def per_layer(rec, rows, tmp_left_mb):
    warm = [pass_layers(p, rec["trace_data"], rec["cores"], rows, rec["checks"],
                        rec["lake"], tmp_left_mb) for p in warm_passes(rec)]
    return {k: median([w[k] for w in warm]) for k in warm[0]}
