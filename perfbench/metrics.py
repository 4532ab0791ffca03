"""Metric arithmetic for the graft benchmark: percentiles, span self
time, and the end-to-end and per-layer metrics of one run's raw result
(the JSON graftbench.Main writes).  Pure Python, no Spark."""
import math
import re
import statistics

MB = 1048576.0
LOOKUP = re.compile(r"^lookup_")
DRAIN = re.compile(r"^(drain_|refresh_)")

# name -> unit of every metric a run can report.  BENCHMARK.json lists
# the ones measured on every workload; the rest are reported by name in
# the run's report line where they apply.
UNITS = {
    "setup_s": "s", "run_wall_s": "s", "op_p50_s": "s", "cpu_s": "s",
    "peak_storage_mb": "MB",
    "failed_frac": "ratio", "query_p50_s": "s", "query_p90_s": "s",
    "ingest_docs_per_s": "docs/s", "microbatch_p50_s": "s", "microbatch_p90_s": "s",
    "lookup_p50_ms": "ms", "lookup_p90_ms": "ms", "lookup_recall_at5": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "operators.build_s": "s", "operators.eager_jobs": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.stages_skipped": "count", "driver.self_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.deserialize_s": "s", "scan.input_mb": "MB", "scan.input_rows": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.memory_mb": "MB", "spill.disk_mb": "MB",
    "pins.pending": "count", "pins.cached_mb": "MB", "pins.release_s": "s",
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "lake.bytes_written_mb": "MB", "lake.write_amp": "ratio", "lake.files_added": "count",
    "lake.versions": "count",
    "index.lookup_jobs": "count", "index.lookup_tasks": "count",
    "index.lookup_input_mb": "MB", "setup.fit_s": "s",
    "gate.dup_recall": "ratio", "gate.new_admit_frac": "ratio",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "trace.overhead_frac": "ratio",
}


def percentile(values, q, beyond=10):
    """Nearest-rank q-quantile, or None unless at least `beyond` samples
    lie above the rank it picks (the ten-beyond rule)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    k = max(1, math.ceil(q * n))        # 1-based rank
    if n - k < beyond:
        return None
    return xs[k - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    """A span's duration less the part covered by its children (each
    clipped to the span): the time no child layer accounts for."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - union_length(clipped)


def containing(spans, t0, t1):
    """The span (from `spans`, sorted by start) whose interval holds
    [t0, t1], or None."""
    for sp in spans:
        if sp["start"] <= t0 and t1 <= sp["end"]:
            return sp
    return None


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(res, gen_s, n_docs_streamed=None):
    """User-visible metrics of the untraced part of one run."""
    ops = [o for o in res["ops"] if not o["traced"]]
    fit = _median(res.get("fit_s") or []) or 0.0
    m = {"setup_s": gen_s + res["session_s"] + res["warmup_s"] + fit}
    # ingest_serve's one drain counts traced or not (a traced run traces it)
    drains = [p for p in res["passes"] if p.get("drain")]
    loops = [p for p in res["passes"] if not p["traced"] and not p.get("drain")]
    m["run_wall_s"] = (sum(p["wall_s"] for p in drains) +
                       _median([p["wall_s"] for p in loops]))
    m["cpu_s"] = (sum(p["cpu_s"] for p in drains) +
                  _median([p["cpu_s"] for p in loops]))
    unit_ops = [o for o in ops if not DRAIN.match(o["name"])]
    m["op_p50_s"] = _median([o["wall_s"] for o in unit_ops])
    m["peak_storage_mb"] = max(o["storage_mb"] for o in ops)
    failed = sum(1 for o in res["ops"] if o["error"])
    m["failed_frac"] = failed / max(1, len(res["ops"]))
    n = m["_samples"] = {"op_p50_s": len(unit_ops)}
    if res["workload"] == "warehouse_sql":
        walls = [o["wall_s"] for o in unit_ops]
        m["query_p50_s"] = percentile(walls, 0.5)
        m["query_p90_s"] = percentile(walls, 0.9)
        n["query_p50_s"] = n["query_p90_s"] = len(walls)
    if res["workload"] == "ingest_serve":
        drain = [o for o in res["ops"] if o["name"] == "drain_docs"]
        if drain and n_docs_streamed:
            m["ingest_docs_per_s"] = n_docs_streamed / drain[0]["wall_s"]
        trig = [b["triggerExecution"] / 1e3 for b in res.get("streaming", [])
                if "triggerExecution" in b]
        m["microbatch_p50_s"] = percentile(trig, 0.5)
        m["microbatch_p90_s"] = percentile(trig, 0.9)
        lk = [o["wall_s"] * 1e3 for o in unit_ops if LOOKUP.match(o["name"])]
        m["lookup_p50_ms"] = percentile(lk, 0.5)
        m["lookup_p90_ms"] = percentile(lk, 0.9)
        n["microbatch_p50_s"] = n["microbatch_p90_s"] = len(trig)
        n["lookup_p50_ms"] = n["lookup_p90_ms"] = len(lk)
    return m


def per_layer(res):
    """Per-layer metrics of the traced part of one run, per unit of work
    (one pass; for ingest_serve the drain plus one lookup round)."""
    spans = res["spans"]
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    ops = sorted(by_kind.get("op", []), key=lambda s: s["start"])
    traced_ops = [o for o in res["ops"] if o["traced"]]
    traced_passes = [p for p in res["passes"] if p["traced"]]
    n_loop = max(1, sum(1 for p in traced_passes if not p.get("drain")))
    drain_names = {o["name"] for o in traced_ops if DRAIN.match(o["name"])}

    def weight(op_name):
        # drain ops run once; looped ops are averaged over their passes
        return 1.0 if op_name in drain_names else 1.0 / n_loop

    op_of = {s["id"]: s for s in ops}
    parent_op = {}
    for kind in ("build", "action"):
        for s in by_kind.get(kind, []):
            parent_op[s["id"]] = s["parent"]
    job_op = {}
    for j in by_kind.get("job", []):
        job_op[j["id"]] = parent_op.get(j["parent"], j["parent"])
    m = {k: 0.0 for k in (
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "operators.build_s", "operators.eager_jobs", "scheduler.jobs",
        "scheduler.stages", "scheduler.tasks", "scheduler.stages_skipped",
        "driver.self_s", "executor.run_s", "executor.cpu_s", "executor.gc_s",
        "executor.deserialize_s", "scan.input_mb", "scan.input_rows",
        "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
        "spill.memory_mb", "spill.disk_mb", "pins.pending", "pins.release_s")}
    phase_key = {"analysis": "catalyst.analysis_s", "optimization":
                 "catalyst.optimization_s", "planning": "catalyst.planning_s"}
    for ph in by_kind.get("phase", []):
        op = containing(ops, ph["start"], ph["end"])
        if op is not None and ph["name"] in phase_key:
            m[phase_key[ph["name"]]] += (ph["end"] - ph["start"]) / 1e3 * weight(op["name"])
    for b in by_kind.get("build", []):
        m["operators.build_s"] += (b["end"] - b["start"]) / 1e3 * weight(b["name"])
    build_ids = {b["id"] for b in by_kind.get("build", [])}
    jobs_by_op = {}
    for j in by_kind.get("job", []):
        op = op_of.get(job_op.get(j["id"]))
        if op is None:
            continue
        w = weight(op["name"])
        jobs_by_op.setdefault(op["id"], []).append(j)
        m["scheduler.jobs"] += w
        m["scheduler.stages_skipped"] += j["attrs"].get("stages_skipped", 0) * w
        if j["parent"] in build_ids:
            m["operators.eager_jobs"] += w
    job_ids = {j["id"]: op_of[job_op[j["id"]]] for j in by_kind.get("job", [])
               if job_op.get(j["id"]) in op_of}
    stage_keys = [("executor.run_s", "run_ms", 1e-3), ("executor.cpu_s", "cpu_ns", 1e-9),
                  ("executor.gc_s", "gc_ms", 1e-3),
                  ("executor.deserialize_s", "deserialize_ms", 1e-3),
                  ("scan.input_mb", "input_bytes", 1 / MB),
                  ("scan.input_rows", "input_rows", 1.0),
                  ("shuffle.write_mb", "shuffle_write_bytes", 1 / MB),
                  ("shuffle.read_mb", "shuffle_read_bytes", 1 / MB),
                  ("shuffle.fetch_wait_s", "fetch_wait_ms", 1e-3),
                  ("spill.memory_mb", "spill_memory_bytes", 1 / MB),
                  ("spill.disk_mb", "spill_disk_bytes", 1 / MB),
                  ("scheduler.tasks", "tasks", 1.0)]
    for st in by_kind.get("stage", []):
        op = job_ids.get(st["parent"])
        if op is None:
            continue
        w = weight(op["name"])
        m["scheduler.stages"] += w
        for key, attr, scale in stage_keys:
            m[key] += st["attrs"].get(attr, 0.0) * scale * w
    for op in ops:
        m["driver.self_s"] += (self_time(op, jobs_by_op.get(op["id"], [])) / 1e3 *
                               weight(op["name"]))
    for o in traced_ops:
        m["pins.pending"] += o["pins_pending"] * weight(o["name"])
        m["pins.release_s"] += o["release_s"] * weight(o["name"])
    m["pins.cached_mb"] = max([o["cached_mb"] for o in traced_ops] or [0.0])
    m["jvm.gc_s"] = (sum(p["gc_s"] for p in traced_passes if p.get("drain")) +
                     sum(p["gc_s"] for p in traced_passes if not p.get("drain")) / n_loop)
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    # looped passes only (on ingest_serve the one drain is always traced).
    # The overhead compares the last traced pass with the untraced pass
    # right after it: the first timed pass still carries JIT warm-up.
    loops = [p for p in res["passes"] if not p.get("drain")]
    traced_wall = _median([p["wall_s"] for p in loops if p["traced"]])
    untraced_wall = _median([p["wall_s"] for p in loops if not p["traced"]])
    last_t = [p["wall_s"] for p in loops if p["traced"]][-1:]
    last_u = [p["wall_s"] for p in loops if not p["traced"]][-1:]
    m["trace.overhead_frac"] = (last_t[0] / last_u[0] - 1.0
                                if last_t and last_u else None)

    if res["workload"] == "corpus_curation":
        for o in traced_ops:
            q = o["name"].split("_")[0]
            m[f"query.{q}_s"] = m.get(f"query.{q}_s", 0.0) + o["wall_s"] / n_loop
        for op in ops:
            q = op["name"].split("_")[0]
            m[f"scheduler.jobs.{q}"] = (m.get(f"scheduler.jobs.{q}", 0.0) +
                                        len(jobs_by_op.get(op["id"], [])) / n_loop)
    if res["workload"] == "ingest_serve":
        batches = by_kind.get("batch", [])
        m["streaming.batches"] = float(len(batches))
        for key, dur in (("streaming.add_batch_s", "addBatch"),
                         ("streaming.query_planning_s", "queryPlanning"),
                         ("streaming.wal_commit_s", "walCommit"),
                         ("streaming.commit_offsets_s", "commitOffsets")):
            m[key] = sum(b["attrs"].get(dur, 0.0) for b in batches) / 1e3
        lake = res["lake"]
        m["lake.bytes_written_mb"] = lake["bytes_added"] / MB
        m["lake.write_amp"] = lake["bytes_added"] / max(1.0, lake["input_bytes"])
        m["lake.files_added"] = lake["files_added"]
        m["lake.versions"] = lake["versions"]
        lookups = [op for op in ops if LOOKUP.match(op["name"])]
        nl = max(1, len(lookups))
        m["index.lookup_jobs"] = sum(len(jobs_by_op.get(op["id"], [])) for op in lookups) / nl
        tasks, inp = 0.0, 0.0
        for st in by_kind.get("stage", []):
            op = job_ids.get(st["parent"])
            if op is not None and LOOKUP.match(op["name"]):
                tasks += st["attrs"].get("tasks", 0.0)
                inp += st["attrs"].get("input_bytes", 0.0)
        m["index.lookup_tasks"] = tasks / nl
        m["index.lookup_input_mb"] = inp / MB / nl
    if res["workload"] != "warehouse_sql":
        m["setup.fit_s"] = _median(res.get("fit_s") or []) or 0.0
    m["_traced_wall_s"] = traced_wall
    m["_untraced_wall_s"] = untraced_wall
    m["_query_sum_s"] = sum(v for k, v in m.items() if k.startswith("query."))
    return m
