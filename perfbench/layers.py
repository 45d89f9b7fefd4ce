"""Per-layer metrics from a traced run's span file.

Span kinds: workload (root) > op (one Pipeline.run or one query) > layer (one
call into a program module) > SQL execution > job > stage, and execution >
Catalyst phase where Spark reports the same id for both. A phase counts for
the layer span whose interval holds its start. An ETL op's layer spans come
from stack samples of Pipeline.run (Trace.sampled); a job that no layer span
holds counts for the op alone. Count spans carry numbers taken at a boundary
(the sink's output files).

Every metric is a per-op mean over the traced warm ops, except `session.*`
(once per process), `cold.*` (the traced cold op or cold pass) and `trace.*`
(traced minus untraced warm ops of the same process). A metric whose layer a
workload never calls reads 0.
"""
import json
import statistics
from collections import defaultdict

QUERY_GROUPS = ["Analytics", "Core", "Engine", "Extension", "Function", "Graph", "Incremental",
                "Operator", "Ops", "Profiling", "Quality", "Relational", "Rollup", "Sequence",
                "Sketch", "Sql", "Streaming", "Training", "Warehouse"]
SONGS_ROWS = 114_000
SELF_LAYERS = ["sources", "etl", "sinks", "queries", "hygiene"]
COLD = ["driver.analysis_s", "driver.optimization_s", "driver.planning_s", "driver.jobs",
        "codegen.compile_s", "codegen.classes", "sources.open_s", "etl.validate_s",
        "etl.transform_s", "sinks.write_s", "exec.task_s"]

UNITS = {"_s": "s", "bytes": "bytes", "bytes_read": "bytes", "bytes_written": "bytes",
         "_ratio": "ratio", "_amplification": "ratio", "rows_read": "rows"}


def unit(name):
    return next((u for k, u in UNITS.items() if name.endswith(k)), "count")


def names():
    """Every per-layer metric name, in report order."""
    out = ["session.build_s", "session.warm_s",
           "sources.probe_s", "sources.open_s", "sources.header_jobs", "sources.rows_read",
           "sources.read_amplification", "sources.bytes_read",
           "etl.validate_s", "etl.transform_s", "etl.stale_partitions",
           "driver.analysis_s", "driver.optimization_s", "driver.planning_s", "driver.jobs",
           "driver.stages", "driver.failed_jobs",
           "codegen.compile_s", "codegen.classes",
           "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.blocked_s",
           "exec.busy_ratio", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
           "exec.spill_bytes", "exec.failed_tasks",
           "sinks.write_s", "sinks.commit_s", "sinks.files_written", "sinks.bytes_written",
           "sinks.partitions_written"]
    for g in QUERY_GROUPS:
        out += [f"queries.{g}.construct_s", f"queries.{g}.exec_s", f"queries.{g}.eager_jobs"]
    out += ["hygiene.release_s"] + [f"self.{l}_s" for l in SELF_LAYERS]
    out += [f"cold.{m}" for m in COLD] + ["trace.overhead_s", "trace.overhead_ratio"]
    return out


def _covered(start, end, intervals):
    """Length of [start, end] covered by the union of intervals."""
    total, cur = 0, start
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, end)
        if e > s:
            total += e - s
            cur = e
    return total


def _op_metrics(op, kids, jobs_of, stages_of, phases, cpus, input_rows):
    """Metrics of one op span. kids: its layer/count spans."""
    m = defaultdict(float)
    layers = [k for k in kids if k["kind"] == "layer"]
    op_jobs = jobs_of[op["id"]] + [j for l in layers for j in jobs_of[l["id"]]]
    stages = [s for j in op_jobs for s in stages_of[j["attrs"]["job_id"]]]
    for l in layers:
        name, dur = l["name"], (l["end"] - l["start"]) / 1e9
        jobs = jobs_of[l["id"]]
        family = name.split(".")[0]
        if family == "queries":
            _, group, part = name.split(".")
            m[f"queries.{group}.{part}_s"] += dur
            if part == "construct":
                m[f"queries.{group}.eager_jobs"] += len(jobs)
        else:
            m[f"{name}_s"] += dur
        if name == "sources.open":
            m["sources.header_jobs"] += len(jobs)
        if name == "sinks.write" and jobs:
            m["sinks.commit_s"] += (l["end"] - max(j["end"] for j in jobs)) / 1e9
        mine = [p for p in phases if l["start"] <= p["start"] < l["end"]]
        for p in mine:
            m[f"driver.{p['name']}_s"] += (p["end"] - p["start"]) / 1e9
        children = [(c["start"], c["end"]) for c in jobs + mine]
        m[f"self.{family}_s"] += (dur * 1e9 - _covered(l["start"], l["end"], children)) / 1e9
    m["codegen.compile_s"] = op["attrs"].get("compile_ms", 0) / 1e3
    m["codegen.classes"] = op["attrs"].get("classes", 0)
    m["driver.jobs"] = len(op_jobs)
    m["driver.failed_jobs"] = sum(j["attrs"]["failed"] for j in op_jobs)
    m["driver.stages"] = len(stages)
    a = lambda k: sum(s["attrs"].get(k, 0) for s in stages)  # noqa: E731
    task_s, cpu_s = a("task_ms") / 1e3, a("cpu_ns") / 1e9
    wall = (op["end"] - op["start"]) / 1e9
    m.update({"exec.tasks": a("tasks"), "exec.task_s": task_s, "exec.cpu_s": cpu_s,
              "exec.gc_s": a("gc_ms") / 1e3, "exec.blocked_s": task_s - cpu_s,
              "exec.busy_ratio": task_s / (wall * cpus),
              "exec.shuffle_write_bytes": a("shuffle_write_bytes"),
              "exec.shuffle_read_bytes": a("shuffle_read_bytes"),
              "exec.spill_bytes": a("spill_bytes"), "exec.failed_tasks": a("failed_tasks"),
              "sources.rows_read": a("records_read"), "sources.bytes_read": a("bytes_read")})
    if input_rows is not None:
        rows = input_rows[int(op["attrs"]["input"])] + SONGS_ROWS
        m["sources.read_amplification"] = m["sources.rows_read"] / rows
    for c in (k for k in kids if k["name"] == "sinks.output"):
        m["sinks.files_written"] += c["attrs"]["files"]
        m["sinks.bytes_written"] += c["attrs"]["bytes"]
        m["sinks.partitions_written"] += c["attrs"]["partitions"]
    return m


def per_layer(path, ops, input_rows, cpus, stale_partitions):
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    by_kind = defaultdict(list)
    for s in spans:
        by_kind[s["kind"]].append(s)
    kids = defaultdict(list)
    for s in spans:
        if s["kind"] in ("layer", "count"):
            kids[s["parent"]].append(s)
    # a job's parent is its SQL execution when it has one, else the layer
    layer_of = {e["id"]: e["parent"] for e in by_kind["execution"]}
    jobs_of, stages_of = defaultdict(list), defaultdict(list)
    for j in by_kind["job"]:
        jobs_of[layer_of.get(j["parent"], j["parent"])].append(j)
    for s in by_kind["stage"]:
        stages_of[s["attrs"]["job_id"]].append(s)

    op_spans = sorted(by_kind["op"], key=lambda s: s["start"])
    traced = [o for o in ops if o["traced"]]
    assert len(traced) == len(op_spans), "traced ops and op spans disagree"
    cold, warm = [], []
    for o, span in zip(traced, op_spans):
        m = _op_metrics(span, kids[span["id"]], jobs_of, stages_of, by_kind["phase"], cpus,
                        input_rows)
        {"cold": cold, "warm": warm}.get(o["phase"], []).append(m)

    out = {}
    for n in names():
        out[n] = statistics.fmean(m.get(n, 0.0) for m in warm) if warm else 0.0
    for n in COLD:
        out[f"cold.{n}"] = statistics.fmean(m.get(n, 0.0) for m in cold) if cold else 0.0
    # query groups are each one op per pass: mean over that group's ops only
    for g in QUERY_GROUPS:
        mine = [m for m in warm if f"queries.{g}.construct_s" in m]
        for part in ("construct_s", "exec_s", "eager_jobs"):
            k = f"queries.{g}.{part}"
            out[k] = statistics.fmean(m[k] for m in mine) if mine else 0.0
    for s in by_kind["layer"]:
        if s["name"].startswith("session."):
            out[f"{s['name']}_s"] = (s["end"] - s["start"]) / 1e9
    out["etl.stale_partitions"] = stale_partitions
    # paired by op name (each query; the one ETL op): median traced minus
    # median untraced warm time
    warm_ops = [o for o in ops if o["phase"] == "warm"]
    diffs, bases = [], []
    for name in {o["name"] for o in warm_ops}:
        tw = [o["seconds"] for o in warm_ops if o["name"] == name and o["traced"]]
        uw = [o["seconds"] for o in warm_ops if o["name"] == name and not o["traced"]]
        if tw and uw:
            diffs.append(statistics.median(tw) - statistics.median(uw))
            bases.append(statistics.median(uw))
    if diffs:
        out["trace.overhead_s"] = statistics.fmean(diffs)
        out["trace.overhead_ratio"] = sum(diffs) / sum(bases)
    return {n: {"value": out.get(n, 0.0), "unit": unit(n)} for n in names()}
