#!/usr/bin/env python3
"""Layered benchmark of graft: one workload, one seed, one run.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds graft and the harness from source when they are missing or stale
(`sbt`, offline), generates the workload's input tables from the seed
(cached under `.bench_build/data`), runs the harness in one JVM, checks
every query's result against its DuckDB oracle, and prints one report line
per metric followed by the result as one JSON object on the last line.

`--trace 0` reports the end-to-end metrics; `--trace 1` reports the
per-layer metrics, writes the span tree to `.bench_build/traces/`, and
reports its own overhead against untraced warm passes of the same run.
Workloads, scales and query lists are in `perfbench/workloads.json`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
HARNESS = os.path.join(HERE, "harness")
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 850

# as graft's build.sbt passes them to forked JVMs (Spark on JDK 17)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build --

def _source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*"]
    files = [p for pat in pats
             for p in glob.glob(os.path.join(ROOT, pat), recursive=True)]
    files += [p for p in glob.glob(os.path.join(HARNESS, "**", "*"),
                                   recursive=True)
              if "/target/" not in p and "/project/project/" not in p]
    return sorted(p for p in files if os.path.isfile(p))


def build():
    """Compile graft and the harness; returns the harness classpath. A
    build is reused while no source file has changed and its outputs are
    all still there."""
    h = hashlib.sha256()
    for p in _source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            built, cp = f.read().strip(), g.read().strip()
        if built == stamp and all(map(os.path.exists, cp.split(os.pathsep))):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
        except subprocess.TimeoutExpired:
            fail("build timed out", 1)
    out_lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not out_lines:
        fail(f"build failed (rc={r.returncode}); see {BUILD}/build.log", 1)
    cp = out_lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# -------------------------------------------------------------- harness --

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(cp, cfg, wl, data_dir, seconds, trace, work, deadline):
    out = os.path.join(work, "harness.json")
    verify = os.path.join(work, "verify")
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (verify, local, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed-size heap, so no run pays for growing it at a different time
    cmd += [f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "org.apache.spark.perfbench.Harness",
            f"data={data_dir}", f"queries={','.join(wl['queries'])}",
            f"warmup={cfg['warmup_query']}", f"cores={cores()}",
            f"seconds={seconds}", f"trace={1 if trace else 0}",
            f"setups={cfg['setups']}", f"verify={verify}",
            f"local={local}", f"out={out}"]
    cmd += [f"conf.{k}={v}" for k, v in cfg["spark_conf"].items()]
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=logf,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness timed out", 1)
        finally:  # also on SIGTERM: the JVM never outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        fail(f"harness failed (rc={rc}); see {work}/harness.log", 1)
    with open(out) as f:
        return json.load(f), verify


# -------------------------------------------------------------- metrics --

def summary(values):
    """Median, n, and the highest percentile with at least ten samples
    above it (None below eleven samples)."""
    s = sorted(values)
    n = len(s)
    hi = None
    if n >= 11:
        hi = (int(100 * (n - 10) / n), s[n - 11])
    return statistics.median(s), n, hi


def pass_wall(p):
    return p["t1"] - p["t0"]


def end_to_end(res, warm, input_rows, failed, attempted):
    cold = res["passes"][0]
    cold_s = sum(q["t1"] - q["t0"] for q in cold["queries"])
    walls = [pass_wall(p) for p in warm]
    mb = 1e6
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_s": ([cold_s], "s"),
        "wall_s": (walls, "s"),
        "rows_per_s": ([input_rows / w for w in walls], "rows/s"),
        "peak_storage_mb":
            ([p["storage"]["peak_bytes"] / mb for p in warm], "MB"),
        "held_storage_mb":
            ([p["storage"]["held_bytes"] / mb for p in warm], "MB"),
        "failed_frac": ([failed / attempted], "ratio"),
    }


def pass_layers(p, cores_n, all_queries, tree):
    """Per-layer metrics of one traced pass; adds its spans to `tree`."""
    wall = pass_wall(p)
    jobs = p["jobs"]
    iv = [(j["start"], j["end"]) for j in jobs if j["end"] > 0]
    busy = layers.union_length(iv, p["t0"], p["t1"])
    tot = {k: sum(j[k] for j in jobs) for k in
           ("task_s", "cpu_s", "gc_s", "scan_bytes", "shuffle_write_bytes",
            "shuffle_read_bytes", "fetch_wait_s", "spill_bytes")}
    in_pass = [s for s in p["sql"] if p["t0"] <= s <= p["t1"]]
    st = p["storage"]
    mb = 1e6
    m = {
        "scheduler.jobs": len(jobs),
        "scheduler.tasks": sum(j["tasks"] for j in jobs),
        "scheduler.job_busy_s": busy,
        "scheduler.driver_gap_s": wall - busy,
        "sql.executions": len(in_pass),
        "sql.planning_s": sum(x["planning_s"] for x in p["plans"]),
        "executor.task_s": tot["task_s"],
        "executor.cpu_s": tot["cpu_s"],
        "executor.slot_util": tot["task_s"] / (wall * cores_n),
        "executor.gc_s": tot["gc_s"],
        "io.scan_mb": tot["scan_bytes"] / mb,
        "shuffle.write_mb": tot["shuffle_write_bytes"] / mb,
        "shuffle.read_mb": tot["shuffle_read_bytes"] / mb,
        "shuffle.fetch_wait_s": tot["fetch_wait_s"],
        "shuffle.spill_mb": tot["spill_bytes"] / mb,
        "storage.peak_mb": st["peak_bytes"] / mb,
        "storage.held_mb": st["held_bytes"] / mb,
        "storage.blocks_end": st["held_blocks"],
        "storage.checkpoint_blocks": st["checkpoint_blocks"],
        "entry.build_s": sum(q["t_built"] - q["t0"] for q in p["queries"]),
        "exec.materialize_s": sum(q["t1"] - q["t_built"] for q in p["queries"]),
    }
    label = p["label"]
    root = tree.add(label, label, p["t0"], p["t1"], "run")
    for q in p["queries"]:
        qid = f"{label}/{q['name']}"
        tree.add(qid, q["name"], q["t0"], q["t1"], label)
        tree.add(f"{qid}/build", "build", q["t0"], q["t_built"], qid)
        tree.add(f"{qid}/exec", "exec", q["t_built"], q["t1"], qid)
    for j in jobs:
        if j["end"] > 0:
            tree.attach_job(j["id"], j["start"], j["end"], j["span"], root)
    for name in all_queries:
        q = next((x for x in p["queries"] if x["name"] == name), None)
        qspan = tree.spans.get(f"{label}/{name}")
        n_jobs = 0
        if qspan:
            n_jobs = sum(len(c.children) for c in qspan.children)
        m[f"q.{name}.build_s"] = q["t_built"] - q["t0"] if q else 0.0
        m[f"q.{name}.wall_s"] = q["t1"] - q["t0"] if q else 0.0
        m[f"q.{name}.jobs"] = n_jobs
    return m


def per_layer(res, cores_n, all_queries, trace_path):
    """Median per-layer metrics over the traced warm passes, and the span
    tree (run -> pass -> query -> phase -> Spark job) of every traced pass,
    the cold one included, written to `trace_path`."""
    traced = [p for p in res["passes"] if p["traced"]]
    tree = layers.SpanTree()
    tree.add("run", "run", min(p["t0"] for p in traced),
             max(p["t1"] for p in traced))
    per_pass = [pass_layers(p, cores_n, all_queries, tree) for p in traced]
    per_pass = [m for m, p in zip(per_pass, traced) if p["label"] != "cold"]
    warm = res["passes"][1:]
    metrics = {k: statistics.median(m[k] for m in per_pass)
               for k in per_pass[0]}
    metrics["trace.overhead_s"] = (
        statistics.median(pass_wall(p) for p in warm if p["traced"])
        - statistics.median(pass_wall(p) for p in warm if not p["traced"]))
    scanned = sorted({t for p in traced for x in p["plans"]
                      for t in x["tables"]})
    spans = tree.to_json()
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as f:
        json.dump({"spans": spans, "scanned_tables": scanned,
                   "metrics": metrics}, f)
    return metrics, spans, scanned


# ----------------------------------------------------------------- main --

def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources next to the benchmark ({need} missing)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run graft")
    cfg = load_config()
    wl = cfg["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}; "
             f"known: {', '.join(cfg['workloads'])}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = build()
    t_run = time.time()  # the run limit starts after any build

    rows = datagen.row_counts(wl["scale"], wl.get("table_scale"))
    key = hashlib.sha256(json.dumps(rows, sort_keys=True).encode()).hexdigest()[:10]
    data_dir = os.path.join(BUILD, "data", f"seed{args.seed}-rows{key}")
    t0 = time.time()
    datagen.generate(data_dir, args.seed, rows)
    log(f"inputs ready in {time.time() - t0:.1f} s: {data_dir}")
    input_rows = sum(rows[t] for t in wl["tables"])
    if input_rows != wl["input_rows"]:
        fail(f"workloads.json states {wl['input_rows']} input rows for "
             f"{args.workload}, its scales give {input_rows}")

    work = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res, verify_dir = run_harness(cp, cfg, wl, data_dir, args.seconds,
                                  args.trace == 1, work,
                                  t_run + RUN_LIMIT_S - 10)

    # correctness: every throw and every oracle mismatch is a failure
    checks = oracle.check(verify_dir, data_dir, res["oracle_sql"],
                          wl["queries"])
    runs = [q for p in res["passes"] for q in p["queries"]]
    attempted = len(runs)
    failed = sum(1 for q in runs if not q["ok"])
    for q, why in checks.items():
        if why is not None:
            failed += 1
            log(f"MISMATCH {q}: {why}")
    for q in runs:
        if not q["ok"]:
            log(f"THREW {q['name']}: {q['error']}")

    warm = [p for p in res["passes"][1:] if not p["traced"]]
    e2e = end_to_end(res, warm, input_rows, failed, attempted)
    print(f"workload {args.workload} seed {args.seed} cores {res['cores']}"
          f" input_rows {input_rows} queries {len(wl['queries'])}"
          f" warm_passes {len(warm)}")
    for name, (vals, unit) in e2e.items():
        med, n, hi = summary(vals)
        hi_s = f"p{hi[0]}={hi[1]:.6g}" if hi else "p_hi=none(n<11)"
        print(f"{name} {med:.6g} {unit} median n={n} {hi_s}")
    print(f"oracle {sum(v is None for v in checks.values())}/{len(checks)}"
          f" queries match; failed {failed} of {attempted} attempted")

    if args.trace:
        all_q = sorted({q for w in cfg["workloads"].values()
                        for q in w["queries"]})
        trace_path = os.path.join(BUILD, "traces",
                                  f"{args.workload}-seed{args.seed}.json")
        metrics, spans, scanned = per_layer(res, res["cores"], all_q,
                                            trace_path)
        undeclared = sorted(set(scanned) - set(wl["tables"]))
        if undeclared:
            log(f"NOTE tables scanned but not declared: {undeclared}")
        top = sorted((s for s in spans if not s["id"].startswith("cold")),
                     key=lambda s: -s["self_s"])[:8]
        for s in top:
            print(f"self {s['self_s']:.4f} s  {s['id']}")
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
               for m in bench["per_layer"]}
        print(f"trace {trace_path}; overhead "
              f"{metrics['trace.overhead_s']:.4f} s vs untraced wall_s")
    else:
        out = {m["name"]: {"value": summary(e2e[m["name"]][0])[0],
                           "unit": m["unit"]}
               for m in bench["end_to_end"]}
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    log(f"run took {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
