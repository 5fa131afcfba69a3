"""Per-layer metrics of a traced run.

Inputs are the harness's records: ``spans.jsonl`` (harness spans around
calls into graft), ``jobs.jsonl`` (every Spark job with its call site
and stage metrics), ``plans.jsonl`` (planning phases and plan shape of
every executed query) and the streaming progress log.  Jobs and
planning phases become spans too, so every module's self time is its
span time minus the time its child spans cover.

Figures are per traced unit: a traced pass (analytics) or a traced
scheduled run (ingest).
"""
import json
import os

from callsite import module_of

MB = 1048576.0
SELF_MODULES = ["Tables", "ops", "plan", "exec", "RelationCache",
                "streaming", "BarStore", "SinkRetention", "StatusServer"]
STREAM_DURATIONS = ["latestOffset", "getBatch", "queryPlanning",
                    "addBatch", "walCommit", "commitOffsets"]
PHASES = {"analysis": "plan.analysis_s", "optimization": "plan.optimization_s",
          "planning": "plan.planning_s"}


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time (span time minus child-covered time, in span units)
    summed per module.  ``spans`` are dicts with id, parent, module,
    start_us and end_us."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = union_length(
            [(max(c["start_us"], lo), min(c["end_us"], hi))
             for c in children.get(s["id"], []) if c["end_us"] > lo and c["start_us"] < hi])
        out[s["module"]] = out.get(s["module"], 0) + (hi - lo) - covered
    return out


def _innermost(spans, lo, hi, module=None):
    best = None
    for s in spans:
        if s["start_us"] <= lo and hi <= s["end_us"] and (module is None or s["module"] == module):
            if best is None or s["end_us"] - s["start_us"] < best["end_us"] - best["start_us"]:
                best = s
    return best


def job_module(job, sources, write_modules):
    """A job's layer: by the path its SQL execution writes to (every
    micro-batch job carries the stream's start call site), else by its
    call site; None when neither tells."""
    path = (job.get("write_path") or "").replace("file://", "").replace("file:", "")
    for prefix, module in write_modules.items():
        if path.startswith(prefix):
            return module
    return module_of(job.get("call_site"), sources)


def build_spans(spans, jobs, plans, sources, write_modules=None):
    """All spans of a traced run: the harness's, plus one per job and one
    per planning phase, each with a module and a parent."""
    by_id = {s["id"]: s for s in spans}
    next_id = max(by_id) + 1 if by_id else 1
    out = list(spans)
    for j in jobs:
        parent = by_id.get(int(j["span"])) if j.get("span") else None
        module = job_module(j, sources, write_modules or {})
        if parent is None:
            parent = _innermost(spans, j["start_us"], j["end_us"], module)
        if module is None:
            module = parent["module"] if parent else "other"
        j["module"] = module
        out.append({"id": next_id, "parent": parent["id"] if parent else None,
                    "module": module, "name": j.get("call_site", ""),
                    "start_us": j["start_us"], "end_us": max(j["end_us"], j["start_us"])})
        next_id += 1
    for p in plans:
        for phase, t in p.get("phases", {}).items():
            lo, hi = t["start_us"], t["end_us"]
            parent = _innermost(spans, lo, hi)
            out.append({"id": next_id, "parent": parent["id"] if parent else None,
                        "module": "plan", "name": phase, "start_us": lo, "end_us": hi})
            next_id += 1
    return out


def write_spans(out_dir, spans):
    """All spans of the run, jobs and planning phases included, as JSON
    lines: id, parent, module, name, start_us, end_us."""
    with open(os.path.join(out_dir, "trace_spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps({k: s.get(k) for k in
                                ("id", "parent", "module", "name", "start_us", "end_us")}) + "\n")


def load(out_dir, sources, write_modules=None):
    """The traced run's harness spans, jobs (with their module), plans,
    and every span built from them (written to trace_spans.jsonl)."""
    spans = read_jsonl(os.path.join(out_dir, "spans.jsonl"))
    jobs = read_jsonl(os.path.join(out_dir, "jobs.jsonl"))
    plans = read_jsonl(os.path.join(out_dir, "plans.jsonl"))
    all_spans = build_spans(spans, jobs, plans, sources, write_modules)
    write_spans(out_dir, all_spans)
    return spans, jobs, plans, all_spans


def analytics_layers(result, out_dir, sources):
    spans, jobs, plans, all_spans = load(out_dir, sources)
    units = max(1, sum(1 for p in result["passes"] if p["traced"]))
    m = common_layers(result, jobs, plans, all_spans, units)
    construct = [s for s in spans if s["name"] == "construct"]
    collect = [s for s in spans if s["name"] == "collect"]
    m["ops.construct_s"] = sum(s["end_us"] - s["start_us"] for s in construct) / 1e6 / units
    m["exec.s"] = sum(s["end_us"] - s["start_us"] for s in collect) / 1e6 / units
    traced_ops = [o for o in result["ops"] if o["traced"]]
    m["exec.result_rows"] = sum(o["rows"] for o in traced_ops) / units
    untraced = [o for o in result["ops"] if not o["traced"]]
    n_untraced = max(1, len({o["pass"] for o in untraced}))
    for fam in {family(o["query"]) for o in result["ops"]}:
        m[f"family.{fam}_s"] = sum(
            o["s"] for o in untraced if family(o["query"]) == fam) / n_untraced
    m["trace.overhead_frac"] = overhead(
        [p["s"] for p in result["passes"] if p["traced"]],
        [p["s"] for p in result["passes"] if not p["traced"]])
    return m


def ingest_layers(result, out_dir, sources, store, write_modules):
    _, jobs, plans, all_spans = load(out_dir, sources, write_modules)
    daily = [r for r in result["runs"] if r["kind"] == "daily"]
    traced_runs = [r for r in daily if r["traced"]]
    units = max(1, len(traced_runs))
    m = common_layers(result, jobs, plans, all_spans, units)
    prog = [p for p in result["progress"] if p.get("traced")]
    data = [p for p in prog if p["kind"] == "progress" and p["input_rows"] > 0]
    nodata = [p for p in prog if p["kind"] == "progress" and p["input_rows"] == 0]
    m["streaming.batches"] = len(data) / units
    m["streaming.nodata_batches"] = len(nodata) / units
    m["streaming.query_starts"] = sum(1 for p in prog if p["kind"] == "start") / units
    m["streaming.input_rows"] = sum(p["input_rows"] for p in data) / units
    for k in STREAM_DURATIONS:
        m[f"streaming.{k}_ms"] = sum(
            p["duration_ms"].get(k, 0) for p in prog if p["kind"] == "progress") / units
    states = [s for p in prog if p["kind"] == "progress" for s in p.get("state", [])]
    m["streaming.state_rows"] = float(max((s["rows"] for s in states), default=0))
    m["streaming.state_mb"] = max((s["mem_b"] for s in states), default=0) / MB
    m["streaming.state_commit_ms"] = sum(s["commit_ms"] for s in states) / units
    written = sum(j["output_b"] for j in jobs if j["module"] == "BarStore")
    m["BarStore.bytes_written_mb"] = written / MB / units
    part_b = store["bytes"] / max(1, store["partitions"])
    m["BarStore.write_amp"] = (written / units) / part_b if part_b else 0.0
    m["BarStore.files"] = float(store["files"])
    m["Quarantine.rows"] = float(store["quarantine_rows"])
    summaries = [r["summaries_ms"] for r in traced_runs if r.get("summaries_ms") is not None]
    m["StatusServer.summaries_ms"] = sum(summaries) / len(summaries) if summaries else 0.0
    reqs = result["requests"]
    m["loadgen.late_ms"] = (sum(r["send_us"] - r["due_us"] for r in reqs) / len(reqs) / 1000.0
                            if reqs else 0.0)
    m["trace.overhead_frac"] = overhead([r["s"] for r in traced_runs],
                                        [r["s"] for r in daily if not r["traced"]])
    return m


def common_layers(result, jobs, plans, all_spans, units):
    m = {}
    for mod in ["Tables", "BarStore", "SinkRetention", "StatusServer"]:
        m[f"{mod}.jobs"] = sum(1 for j in jobs if j["module"] == mod) / units
        m[f"{mod}.s"] = sum(j["end_us"] - j["start_us"] for j in jobs
                            if j["module"] == mod) / 1e6 / units
    m["ops.eager_jobs"] = sum(1 for j in jobs if j["module"] == "ops") / units
    m["ops.eager_s"] = sum(j["end_us"] - j["start_us"] for j in jobs
                           if j["module"] == "ops") / 1e6 / units
    for phase, name in PHASES.items():
        m[name] = sum(p["phases"][phase]["end_us"] - p["phases"][phase]["start_us"]
                      for p in plans if phase in p.get("phases", {})) / 1e6 / units
    m["plan.exchanges"] = sum(p["exchanges"] for p in plans) / units
    ex = [j for j in jobs if j["module"] == "exec"]
    m["exec.jobs"] = len(ex) / units
    m["exec.stages"] = sum(j["stages"] for j in ex) / units
    m["exec.tasks"] = sum(j["tasks"] for j in ex) / units
    m["exec.task_s"] = sum(j["task_ms"] for j in ex) / 1e3 / units
    m["exec.cpu_s"] = sum(j["cpu_ns"] for j in ex) / 1e9 / units
    m["exec.gc_s"] = sum(j["gc_ms"] for j in ex) / 1e3 / units
    m["exec.shuffle_read_mb"] = sum(j["shuffle_read_b"] for j in ex) / MB / units
    m["exec.shuffle_write_mb"] = sum(j["shuffle_write_b"] for j in ex) / MB / units
    m["exec.spill_mb"] = sum(j["spill_b"] for j in ex) / MB / units
    m["RelationCache.memo_scans"] = sum(p["memo_scans"] for p in plans) / units
    m["RelationCache.cache_mb"] = result.get("cache_mb", 0.0)
    for name, s in result.get("builds", {}).items():
        m[f"build.{name}_s"] = s
    selfs = self_times(all_spans)
    for mod in SELF_MODULES:
        m[f"self.{mod}_s"] = selfs.get(mod, 0) / 1e6 / units
    return m


def layer_of(metric):
    """The layer a per-layer metric belongs to: the module of a
    ``self.<module>_s`` time, else the name's first part."""
    head, _, rest = metric.partition(".")
    return rest.rsplit("_", 1)[0] if head == "self" else head


def overhead(traced, untraced):
    if not traced or not untraced:
        return 0.0
    return (sum(traced) / len(traced)) / (sum(untraced) / len(untraced)) - 1.0


def family(q):
    """Query family by name prefix."""
    if q.startswith("ingest_") or q.startswith("src_"):
        return "ingest"
    for prefix, fam in (("text_", "text"), ("lex_", "text"), ("sim_", "sim"),
                        ("dedup_", "dedup"), ("mm_", "mm")):
        if q.startswith(prefix):
            return fam
    return "relational"
