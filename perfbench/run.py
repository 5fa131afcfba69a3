#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json):

- ``analytics_sf001``: closed loop over registered queries on the sf0.01
  fixture in ``perfbench/data``: multi-table relational joins, the
  batch-bar scan, and LLM-operator queries after the shared builds they
  consume;
- ``ingest_serve``: seeded tick files landed day by day and drained
  by scheduled ``Serve.runOnce`` runs while an open-loop client calls the
  status server's ``GET /``.

The first run in a checkout compiles graft and the harness with sbt
(``perfbench/harness``) and archives the classes a warm-up loads.
Every run checks its results: analytics digests against DuckDB's
answers over ``SparkEntry.oracleSql`` (``digests.json``, regenerated by
``regen_digests.py``); for ingest, the final store against DuckDB's bars
over the landed ticks, one summary event per symbol per data batch, the
quarantine, and a 200 with JSON on every status request.

With ``--trace 0`` the last line of output carries the end-to-end
metrics; with ``--trace 1`` the per-layer metrics of a traced run.  A
human-readable report and the run's artifact (``metrics.json``, with
provenance; spans as JSON lines when traced) go to
``.bench_build/perfbench/runs/<workload>-s<seed>-t<trace>/``.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import callsite  # noqa: E402
import digest  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import ticks  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE = os.path.join(HERE, "data", "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
DEADLINE_S = 170
HEAP = "3g"
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# The analytics query set, sized so that a run's builds, cold pass and
# measured passes fit its time budget on 4 cores.  Relational: q3 and q5
# resolve 3 and 6 tables, q8 collects eagerly while it is built, q1
# aggregates one table, src_bar_scan reads the batch bars.  LLM
# operators: text, dedup and multimodal queries whose shared builds (the
# tokenized corpus, the MinHash signature store) are cheap.  Every sim_*
# query consumes the k-means codebook build and lex_index_health the
# BM25 store build, 9-11 s each at this scale, so neither family is in.
ANALYTICS = [
    "q1_pricing_summary", "q3_join_agg_topn", "q5_star_join", "q8_market_share",
    "src_bar_scan", "text_heavy_hitters", "dedup_exact", "mm_inventory",
]

# Each workload names the layers it loads (see layers.layer_of): a traced
# run must report every declared per-layer metric of those layers; the
# metrics of the other layers read 0.
WORKLOADS = {
    "analytics_sf001": {
        "mode": "analytics", "queries": ANALYTICS,
        "layers": ["Tables", "ops", "plan", "exec", "family", "RelationCache", "build",
                   "trace"],
    },
    "ingest_serve": {
        "mode": "ingest",
        "layers": ["streaming", "BarStore", "SinkRetention", "Quarantine", "StatusServer",
                   "loadgen", "trace"],
        "symbols": 40, "mean_ticks": 60, "backfill_days": 3, "days": 40,
        "late_frac": 0.03, "bad_frac": 0.01, "root_per_s": 4.0, "gap_s": 1.0,
    },
}
# Session builds in one JVM keep getting faster for several builds while
# the JIT warms up, and a slow host slows that warm-up too; the median of
# 13 lies past most of it.
SETUPS = 13
# the ingest part of the build's class-loading warm-up: a small feed
WARMUP_INGEST = dict(WORKLOADS["ingest_serve"], symbols=5, gap_s=0.0)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Content hash of everything the harness's classpath is built from."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(deadline):
    """Build once per source state: compile graft and the harness into
    jars, then archive the classes that a short run of each workload
    loads (class-data sharing).  Every run starts its JVM from that
    archive, and fails if it cannot: loading Spark's classes from jars
    would otherwise add about 7 s to each run's first session and
    several seconds, unevenly, to its cold figures.  Returns (classpath,
    archive, source fingerprint, built now)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources (build.sbt, src/main/scala/graft) are not next to perfbench/")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("fingerprint") == fp:
            return saved["classpath"], saved["archive"], fp, False
        os.remove(cp_file)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export harness/Runtime/fullClasspathAsJars"],
            cwd=os.path.join(HERE, "harness"), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        wait(proc, deadline - time.time(), "the sbt build")
    with open(log) as f:
        lines = [line.strip() for line in f if ".jar" in line and os.pathsep in line]
    if proc.returncode != 0 or not lines:
        fail(f"the sbt build failed (see {log})")
    classpath = lines[-1]
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    warm = os.path.join(BUILD, "warmup")
    shutil.rmtree(warm, ignore_errors=True)
    os.makedirs(warm)
    cfgs = [analytics_config(WORKLOADS["analytics_sf001"], os.path.join(warm, "a"), 0, 0, False),
            ingest_config(WARMUP_INGEST, os.path.join(warm, "i"), 0, 0, False)[0]]
    for cfg in cfgs:
        cfg["setups"] = 1
    launch(classpath, cfgs, warm, deadline, [f"-XX:ArchiveClassesAtExit={archive}"])
    if not os.path.exists(archive):
        fail(f"the warm-up wrote no class-data-sharing archive (see {warm}/harness.log)")
    shutil.rmtree(warm, ignore_errors=True)
    with open(cp_file, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath, "archive": archive}, f)
    return classpath, archive, fp, True


def wait(proc, timeout, what):
    try:
        proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} did not finish in time")


def launch(classpath, cfgs, run_dir, deadline, jvm_flags):
    """Run the harness on ``cfgs`` in turn, in one JVM; fails the run
    when the harness fails."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = []
    for i, cfg in enumerate(cfgs):
        paths.append(os.path.join(run_dir, f"config{i}.json"))
        with open(paths[-1], "w") as f:
            json.dump(cfg, f)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", *jvm_flags, *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           "-cp", classpath, "perfbench.Main", *paths]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "harness.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, env=env)
        wait(proc, deadline - time.time(), "the benchmark harness")
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"the benchmark harness failed (see {run_dir}/harness.log)")


def run_harness(build, cfg, run_dir, deadline):
    """One measured run of the harness on ``cfg``, its JVM started from
    the build's class-data-sharing archive (``-Xshare:on``: a JVM that
    cannot map it exits); returns the harness's result.json."""
    classpath, archive = build
    launch(classpath, [cfg], run_dir, deadline,
           ["-Xshare:on", f"-XX:SharedArchiveFile={archive}"])
    with open(os.path.join(cfg["out"], "result.json")) as f:
        return json.load(f)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def provenance(res, args, fp, params):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    p = dict(res["provenance"])
    p.update({"nproc_host": nproc(), "git_commit": commit, "source_sha256": fp,
              "class_data_sharing": "on: -Xshare:on with the build's archive",
              "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "params": params})
    return p


# ---------------------------------------------------------------- analytics

def analytics_config(spec, out, seconds, seed, trace):
    return {"mode": "analytics", "out": out, "queries": spec["queries"], "fixture": FIXTURE,
            "seconds": seconds, "seed": seed, "trace": trace, "cores": nproc(),
            "setups": SETUPS}


def analytics(args, spec, build, run_dir, deadline):
    cfg = analytics_config(spec, os.path.join(run_dir, "out"), args.seconds, args.seed,
                           bool(args.trace))
    res = run_harness(build, cfg, run_dir, deadline)

    with open(os.path.join(HERE, "digests.json")) as f:
        expected = json.load(f)
    con = digest.fixture_connection(FIXTURE, [])
    problems = [f"{e['phase']} {e['query']}: {e['error']}" for e in res["errors"]]
    checked_bad = 0
    for q in spec["queries"]:
        rdir = os.path.join(cfg["out"], "results", q)
        if q not in expected:
            problems.append(f"{q}: no expected digest (run regen_digests.py)")
            checked_bad += 1
            continue
        if not os.path.isdir(rdir):
            problems.append(f"{q}: no result written")
            checked_bad += 1
            continue
        rows, cols = digest.engine_rows(con, rdir)
        if digest.digest(rows, cols) != expected[q]["digest"]:
            problems.append(f"{q}: result digest differs from DuckDB's")
            checked_bad += 1
    measured = [o for o in res["ops"] if not o["traced"]]
    attempted = len(spec["queries"]) + len(res["ops"])
    failed = checked_bad + sum(1 for o in res["ops"] if not o["ok"])

    lat = [o["s"] for o in measured]
    passes = [p for p in res["passes"] if not p["traced"]]
    loop_s = sum(p["s"] for p in passes)
    cold_s = sum(c["s"] for c in res["cold"]) + sum(res["builds"].values())
    e2e = {
        "setup_s": (stats.median(res["setup_s"]), "s"),
        "cold_s": (cold_s, "s"),
        "op_mean_ms": (ms(stats.mean(lat)), "ms"),
        "pass_s": (stats.mean([p["s"] for p in passes]), "s"),
    }
    report = {
        "setup_s": (stats.median(res["setup_s"]), "s"),
        "failed_frac": (failed / attempted, "1"),
        "queries_per_s": (len(lat) / loop_s if loop_s else None, "1/s"),
        **timing("query", lat, "s"),
        "build_s": (sum(res["builds"].values()), "s"),
        "cache_mb": (res["cache_mb"], "MB"),
    }
    per_layer = None
    if args.trace:
        sources = callsite.graft_sources(os.path.join(ROOT, "src", "main", "scala"))
        per_layer = layers.analytics_layers(res, cfg["out"], sources)
    return res, e2e, report, per_layer, attempted, failed, problems


def ms(x):
    return None if x is None else x * 1000.0


def timing(name, values, unit):
    """A timing as its median, the highest tail percentile with at least
    ten samples beyond it (if any), and the sample count."""
    out = {f"{name}_p50_{unit}": (stats.median(values), unit)}
    p, v = stats.tail(values, candidates=(99, 95, 90, 75))
    if p is not None:
        out[f"{name}_p{p}_{unit}"] = (v, unit)
    out[f"{name}_n"] = (len(values), "count")
    return out


# ------------------------------------------------------------------- ingest

def ingest_config(spec, run_dir, seconds, seed, trace):
    """Generate the seeded tick files; returns (config, file paths, per-file
    tick counts, per-file counts of rule-breaking ticks)."""
    paths, rows, bad = ticks.generate(os.path.join(run_dir, "ticks"), seed, spec["symbols"],
                                      spec["days"], spec["mean_ticks"], spec["late_frac"],
                                      spec["bad_frac"])
    nb = spec["backfill_days"]
    cfg = {"mode": "ingest", "out": os.path.join(run_dir, "out"),
           "src_dir": os.path.join(run_dir, "landing"), "work_dir": os.path.join(run_dir, "work"),
           "backfill": paths[:nb], "daily": paths[nb:], "seconds": seconds, "trace": trace,
           "cores": nproc(), "setups": SETUPS, "root_per_s": spec["root_per_s"],
           "gap_s": spec["gap_s"]}
    return cfg, paths, rows, bad


def ingest(args, spec, build, run_dir, deadline):
    cfg, paths, counts, bad = ingest_config(spec, run_dir, args.seconds, args.seed,
                                            bool(args.trace))
    staging = os.path.join(run_dir, "ticks")
    work = cfg["work_dir"]
    res = run_harness(build, cfg, run_dir, deadline)

    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    problems = [f"run {e.get('run', '-')}: {e['error']}" for e in res["errors"]]
    landed = [os.path.join(staging, f) for r in res["runs"] for f in r["files"]]
    n_landed = len(landed)
    store = os.path.join(work, "bars")
    checks = 0
    if ticks.stored_bars(con, store) != ticks.expected_bars(con, landed):
        problems.append("bar store differs from DuckDB's daily bars over the landed ticks")
        checks += 1
    checks += check_summaries(res, work, problems)
    qrows = con.execute(
        f"SELECT count(*) FROM read_parquet('{work}/quarantine/events/*/*.parquet')"
    ).fetchone()[0]
    if qrows != sum(bad[:n_landed]):
        problems.append(f"quarantine holds {qrows} rows, {sum(bad[:n_landed])} ticks broke a rule")
        checks += 1
    reqs = res["requests"]
    bad_reqs = [r for r in reqs if r["status"] != 200 or not r["json"]]
    if bad_reqs:
        problems.append(f"{len(bad_reqs)} status requests without a 200 JSON answer")
    attempted = len(res["runs"]) + len(reqs) + 3
    failed = len(res["errors"]) + len(bad_reqs) + checks

    daily = [r for r in res["runs"] if r["kind"] == "daily"]
    untraced = [r for r in daily if not r["traced"]]
    backfill = [r for r in res["runs"] if r["kind"] == "backfill"][0]
    health = [(r["end_us"] - r["due_us"]) / 1000.0 for r in reqs]
    fresh = freshness(res, untraced)
    rows = {os.path.basename(p): n for p, n in zip(paths, counts)}
    run_s = sum(r["s"] for r in untraced)
    e2e = {
        "setup_s": (stats.median(res["setup_s"]), "s"),
        "cold_s": (backfill["s"], "s"),
        "op_mean_ms": (stats.mean(health), "ms"),
        "pass_s": (stats.mean([r["s"] for r in untraced]), "s"),
    }
    report = {
        "setup_s": (stats.median(res["setup_s"]), "s"),
        "failed_frac": (failed / attempted, "1"),
        "backfill_s": (backfill["s"], "s"),
        **timing("run", [r["s"] for r in untraced], "s"),
        "ticks_per_s": (sum(rows[f] for r in untraced for f in r["files"]) / run_s
                        if run_s else None, "1/s"),
        **timing("freshness", fresh, "s"),
        **timing("health", health, "ms"),
        "loadgen_late_ms": (stats.mean([(r["send_us"] - r["due_us"]) / 1000.0 for r in reqs]),
                            "ms"),
        "cache_mb": (res["cache_mb"], "MB"),
    }
    per_layer = None
    if args.trace:
        sources = callsite.graft_sources(os.path.join(ROOT, "src", "main", "scala"))
        files = glob.glob(os.path.join(store, "*", "*.parquet"))
        info = {"bytes": sum(os.path.getsize(f) for f in files), "files": len(files),
                "partitions": len(glob.glob(os.path.join(store, "bar_date=*"))),
                "quarantine_rows": qrows}
        writes = {os.path.join(work, "bars"): "BarStore",
                  os.path.join(work, "events"): "SinkRetention",
                  os.path.join(work, "quarantine"): "SinkRetention"}
        per_layer = layers.ingest_layers(res, cfg["out"], sources, info, writes)
    return res, e2e, report, per_layer, attempted, failed, problems


def main_query_batches(res):
    """Progress events of the bar query's data batches (it is the query
    with a stateful operator; the quarantine query has none)."""
    return [p for p in res["progress"]
            if p["kind"] == "progress" and p["input_rows"] > 0 and p.get("state")]


def freshness(res, runs):
    """Seconds from a file landing to the progress event of the batch
    that published its summary."""
    batches = main_query_batches(res)
    out = []
    for r in runs:
        after = [p["at_us"] for p in batches if p["at_us"] >= r["land_us"]]
        if after:
            out.append((min(after) - r["land_us"]) / 1e6)
    return out


def check_summaries(res, work, problems):
    """One summary event per symbol in every data batch; returns 1 on failure."""
    per_batch = {}
    for path in glob.glob(os.path.join(work, "events", "*", "*.json")):
        with open(path) as f:
            for line in f:
                if line.strip():
                    e = json.loads(line)
                    sym = json.loads(e["message"])["asset_symbol"]
                    per_batch.setdefault(e["batch_id"], []).append(sym)
    dup = [b for b, syms in per_batch.items() if len(syms) != len(set(syms))]
    n_data = len({p["batch"] for p in main_query_batches(res)})
    if dup or len(per_batch) != n_data:
        problems.append(f"summary events: {len(per_batch)} batches published for {n_data} "
                        f"data batches, {len(dup)} with a repeated symbol")
        return 1
    return 0


# --------------------------------------------------------------------- main

def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    deadline = start + DEADLINE_S

    classpath, archive, fp, built = ensure_built(start + 880)
    if built:  # a run that compiles may take longer, up to the build budget
        deadline = min(start + 890, time.time() + DEADLINE_S)
    spec = WORKLOADS[args.workload]
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    fn = analytics if spec["mode"] == "analytics" else ingest
    res, e2e, report, per_layer, attempted, failed, problems = fn(
        args, spec, (classpath, archive), run_dir, deadline)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={res['provenance']['spark_cores']} spark={res['provenance']['spark_version']}")
    for name, (v, unit) in report.items():
        print(f"  {name:<18} {fmt(v):>12} {unit}")
    for p in problems:
        print(f"  FAILED: {p}")
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        lost = [k for k in units if k not in per_layer and layers.layer_of(k) in spec["layers"]]
        if lost:
            problems.append(f"the traced run did not produce {lost}")
            failed += 1
        chosen = {k: per_layer.get(k, 0.0) for k in units if k not in lost}
    else:
        units = {k: u for k, (_, u) in e2e.items()}
        chosen = {k: v for k, (v, _) in e2e.items()}
    missing = [k for k, v in chosen.items() if v is None]
    if missing:
        problems.append(f"not enough samples for {missing}")
        failed += 1
    metrics = {k: {"value": v, "unit": units[k]} for k, v in chosen.items() if v is not None}
    artifact = {"provenance": provenance(res, args, fp, spec), "end_to_end": {
        k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        "per_layer": per_layer, "attempted": attempted, "failed": failed,
        "problems": problems}
    with open(os.path.join(run_dir, "metrics.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
