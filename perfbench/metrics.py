"""Turns the JVM program's raw samples and spans into the benchmark's
metrics. Pure functions, no I/O, so the rules are unit-tested."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# Library modules reported one by one in the traced run; jobs whose call
# site names another graft module are summed under `graft_other`, and jobs
# whose call site names none under `unattributed`. A job that a module ran
# through `ops.Layout` counts under both (see `job_modules`).
MODULES = ("ext.Dedup", "ops.Triangles", "ops.PageRank", "ops.Layout",
           "ext.Percentiles", "ops.Stats", "ops.Normalize", "ext.Funnel",
           "queries.Reference", "ext.ExtQueries", "ingest.IngestJob", "catalog.Ddl",
           "graft_other", "unattributed")

# The module that builds the plan each query op's own action (`collect`)
# executes. That action has no `graft.*` frame, so its jobs count under
# this module instead of `unattributed`.
RESULT_MODULE = {
    "e94_triangles": "ops.Triangles", "e23_pagerank": "ops.PageRank",
    "e40_winsorize": "ops.Normalize", "e41_corr_matrix": "ops.Stats",
    "e19_funnel": "ext.Funnel", "q33_q13custdist": "queries.Reference",
}

MB = 1048576.0


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def tail(samples, beyond=10):
    """The highest whole percentile p that still leaves at least ``beyond``
    samples above it, by nearest rank: the p-th percentile is the k-th
    smallest sample with k = ceil(p * n / 100), and n - k samples lie beyond
    it. Below 2 * ``beyond`` samples that percentile would not lie above
    the median, so the maximum is reported as p100. Returns (p, value)."""
    n = len(samples)
    if n < 2 * beyond:
        return 100, max(samples)
    p = (100 * (n - beyond)) // n
    k = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[k - 1]


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
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
    """A span's duration minus the part of it that its children cover."""
    s, e = span["start"], span["end"]
    return (e - s) - union_length([(c["start"], c["end"]) for c in children], s, e)


def module_key(module):
    if module in MODULES:
        return module
    return "unattributed" if module == "unattributed" else "graft_other"


def job_modules(job, result_module=None):
    """The module keys a job counts under: its module (``result_module``
    for a job of an op's own action, which has no module), and
    ``ops.Layout`` too when the module reached the job through a Layout
    call (a pin), so the modules other than Layout split the jobs between
    them."""
    mod = module_key(job["module"])
    if mod == "unattributed" and result_module:
        mod = result_module
    return (mod, "ops.Layout") if job.get("via_layout") and mod != "ops.Layout" else (mod,)


def end_to_end(result, setup_start_ms):
    """End-to-end metrics of an untraced run: (metrics, notes).

    ``pass_s`` is the wall of one closed-loop pass in which every op runs
    at its best: the sum over ops of each op's fastest timed execution.
    Load from outside the benchmark only ever adds time, and on a shared
    machine it comes in bursts that hit one op execution and spare the
    next, so an op's fastest execution in the run is its undisturbed cost.

    The notes carry op latency: the median over ops of each op's median,
    and the slowest op's median. A run times 1 or 2 executions per op, too
    few for a percentile with ten samples beyond it to lie above the median
    (that rule is applied to stage latency in the traced run), and with
    eight ops or fewer a rank over ops jumps from one op to another."""
    passes = result["passes"]
    by_op = {}
    for p in passes:
        for op in p["ops"]:
            if not op["error"]:
                by_op.setdefault(op["name"], []).append(op["wall_s"])
    per_op = {name: statistics.median(ws) for name, ws in by_op.items()}
    slowest = max(per_op, key=per_op.get)
    metrics = {
        "setup_s": ((result["setup_end_epoch_ms"] - setup_start_ms) / 1e3, "s"),
        "pass_s": (sum(min(ws) for ws in by_op.values()), "s"),
        "live_heap_peak_mb": (max(op["heap_mb"] for p in passes for op in p["ops"]), "MB"),
    }
    notes = {"passes": len(passes), "op_samples": sum(map(len, by_op.values())),
             "op_p50_s": statistics.median(per_op.values()),
             "op_tail_s": per_op[slowest], "slowest_op": slowest}
    return metrics, notes


def per_layer(result, spans):
    """Per-layer metrics of a traced run, each the median over its traced
    passes, plus the tracing overhead against its untraced passes."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    per_pass = []
    for p in traced:
        ops = [s for s in spans if s["kind"] == "op" and s["pass"] == p["pass"]]
        m = {k: 0.0 for k in LAYER_UNITS}
        wall = sum(op["wall_s"] for op in p["ops"])
        stage_s = []
        for op in ops:
            for ph in by_parent.get(op["id"], []):
                jobs = by_parent.get(ph["id"], [])
                dur = (ph["end"] - ph["start"]) / 1e3
                if ph["name"] == "construct":
                    m["queries.construct_s"] += dur
                    m["queries.construct_self_s"] += self_time(ph, jobs) / 1e3
                    m["queries.construct_jobs"] += len(jobs)
                elif ph["name"] == "plan":
                    m["engine.plan_s"] += dur
                else:
                    m["engine.execute_s"] += dur
                for j in jobs:
                    stages = by_parent.get(j["id"], [])
                    mods = job_modules(j, RESULT_MODULE.get(op["name"])
                                       if ph["name"] == "execute" else None)
                    m["engine.jobs"] += 1
                    m["engine.job_self_s"] += self_time(j, stages) / 1e3
                    for mod in mods:
                        m[f"{mod}.jobs"] += 1
                    for st in stages:
                        m["engine.stages"] += 1
                        stage_s.append((st["end"] - st["start"]) / 1e3)
                        for mod in mods:
                            m[f"{mod}.stages"] += 1
                            m[f"{mod}.stage_s"] += stage_s[-1]
                        m["engine.tasks"] += st["tasks"]
                        m["engine.task_run_s"] += st["run_ms"] / 1e3
                        m["engine.task_cpu_s"] += st["cpu_ns"] / 1e9
                        m["engine.gc_s"] += st["gc_ms"] / 1e3
                        m["engine.input_mb"] += st["input_bytes"] / MB
                        m["engine.shuffle_read_mb"] += st["shuffle_read_bytes"] / MB
                        m["engine.shuffle_write_mb"] += st["shuffle_write_bytes"] / MB
                        m["engine.spill_mb"] += st["spill_bytes"] / MB
                        m["engine.peak_task_mem_mb"] = max(
                            m["engine.peak_task_mem_mb"], st["peak_task_mem_bytes"] / MB)
        m["engine.core_busy"] = m["engine.task_run_s"] / (wall * result["cpus"]) if wall else 0.0
        if stage_s:
            m["engine.stage_p50_s"] = statistics.median(stage_s)
            m["engine.stage_tail_s"] = tail(stage_s)[1]
        m["layout.cached_left"] = float(sum(op["cached_left"] for op in p["ops"]))
        _ingest(m, p["ops"])
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in LAYER_UNITS}
    t_pass = statistics.median(sum(op["wall_s"] for op in p["ops"]) for p in traced)
    u_pass = statistics.median(sum(op["wall_s"] for op in p["ops"]) for p in untraced)
    out["trace.pass_s"] = t_pass
    out["trace.untraced_pass_s"] = u_pass
    out["trace.overhead"] = t_pass / u_pass - 1.0
    units = {**LAYER_UNITS, **TRACE_UNITS}
    return {k: (v, units[k]) for k, v in out.items()}


def _ingest(m, ops):
    for op in ops:
        name, r = op["name"], op["result"]
        if name == "csv_to_parquet" and not op["error"]:
            m["ingest.csv_to_parquet_s"] = op["wall_s"]
            m["ingest.csv_mb_per_s"] = r["csv_bytes"] / MB / op["wall_s"]
            m["ingest.parquet_mb_written"] = r["parquet_bytes"] / MB
            m["ingest.stored_ratio"] = r["parquet_bytes"] / r["csv_bytes"]
        elif name == "register":
            m["catalog.register_s"] += op["wall_s"]
        elif name == "readback":
            m["catalog.readback_s"] += op["wall_s"]


LAYER_UNITS = {
    "queries.construct_s": "s", "queries.construct_self_s": "s",
    "queries.construct_jobs": "count",
    "engine.plan_s": "s", "engine.execute_s": "s", "engine.jobs": "count",
    "engine.job_self_s": "s", "engine.stages": "count", "engine.stage_p50_s": "s",
    "engine.stage_tail_s": "s", "engine.tasks": "count",
    "engine.task_run_s": "s", "engine.task_cpu_s": "s", "engine.core_busy": "ratio",
    "engine.gc_s": "s", "engine.input_mb": "MB", "engine.shuffle_read_mb": "MB",
    "engine.shuffle_write_mb": "MB", "engine.spill_mb": "MB",
    "engine.peak_task_mem_mb": "MB",
    **{f"{mod}.{k}": u for mod in MODULES
       for k, u in (("jobs", "count"), ("stages", "count"), ("stage_s", "s"))},
    "layout.cached_left": "count",
    "ingest.csv_to_parquet_s": "s", "ingest.csv_mb_per_s": "MB/s",
    "ingest.parquet_mb_written": "MB", "ingest.stored_ratio": "ratio",
    "catalog.register_s": "s", "catalog.readback_s": "s",
}
TRACE_UNITS = {"trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead": "ratio"}
