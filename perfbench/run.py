#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a graft checkout. The first run builds graft from
source together with the harness in perfbench/jvm and exports the
classpath once; later runs start the JVM directly from it. Inputs are
generated from the seed and cached per seed under .bench_build/inputs, so
generation is never billed to set-up time.

Workloads (see perfbench/README.md for what each stresses):
  permits_monthly  the reference's monthly DAG over a permits ZIP
  corpus_funnel    Pipeline.prepareCorpus over a planted corpus
  operator_sweep   registry queries, each once, checked against DuckDB

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. Progress and diagnostics go to stderr; the JVM log goes to
.bench_build/logs.

Other modes:
  --self-check        regenerate every workload's inputs twice for two
                      seeds and check same seed -> same bytes, different
                      seed -> same size
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_DIR = os.path.join(HERE, "jvm")
SOURCES = os.path.join(ROOT, "src", "main", "scala", "graft")
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("permits_monthly", "corpus_funnel", "operator_sweep")
HEAP = "4g"
# the JDK 17 module opens graft's build.sbt passes to every forked JVM
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
RUN_BUDGET_S = 170     # every run ends well inside the 180 s limit
# operator_sweep: the untimed warm-up query, then the measured queries in
# the order they run. How they were chosen is in perfbench/README.md.
SWEEP_WARMUP = ["q1_agg"]
SWEEP_QUERIES = [
    "q30_pivot2", "q5_multiwindow", "q52_histogram", "q77_unpivot",
    "q75_snapshot_diff", "q43_diversity", "q85_geometry_dim",
    "q66_inverted_index", "q89_equal_freq_bins", "q125_robots_meta"]
# a traced pass may leave at most this share of its wall time outside
# every span below the root (work no layer accounts for)
MAX_UNATTRIBUTED = 0.05
END_TO_END = [("makespan_s", "s"), ("rows_per_s", "rows/s"),
              ("op_p50_s", "s"), ("op_p90_s", "s"), ("setup_s", "s"),
              ("cpu_s", "s")]


def log(msg):
    print("perfbench: %s" % msg, file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ---- build ----------------------------------------------------------------

def _tree_hash(h, top):
    for d, dirs, files in sorted(os.walk(top)):
        dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())


def build():
    """Compile graft + harness (once per source state); return classpath."""
    if not os.path.isdir(SOURCES):
        die("no graft sources under %s: run from a graft checkout" % ROOT)
    h = hashlib.sha256()
    _tree_hash(h, os.path.join(ROOT, "src", "main"))
    _tree_hash(h, os.path.join(JVM_DIR, "src"))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(JVM_DIR, f), "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    log("building graft and the harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    # build against the Spark jars the library's own build names
    with open(os.path.join(ROOT, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not jars:
        die("graft's build.sbt names no unmanagedBase jar directory")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dgraft.sparkJars=" + jars.group(1)]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=JVM_DIR, env=env, stdout=subprocess.PIPE, stderr=lf,
            text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or ".jar" not in cp:
        with open(os.path.join(BUILD, "build.log"), "a") as lf:
            lf.write(p.stdout)
        die("build failed; see .bench_build/build.log")
    archive = os.path.join(BUILD, "graft.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    dump_cds(cp, archive)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def dump_cds(cp, archive):
    """Record the classes a set-up loads into a class-data-sharing archive,
    so every later JVM maps them instead of loading ~10k classes from jars
    (part of the launch posture, done once per build)."""
    inputs = input_dir("permits_monthly", 0)
    gen.generate("permits_monthly", 0, inputs)
    work = os.path.join(BUILD, "runs", "cds")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    code, _ = run_jvm(cp, ["--workload", "permits_monthly", "--input", inputs,
                           "--cores", "1", "--seconds", "1", "--trace", "0",
                           "--setup-only", "1", "--out",
                           os.path.join(work, "r.json"), "--work", work],
                      os.path.join(BUILD, "build.log"), 120,
                      ["-XX:ArchiveClassesAtExit=" + archive])
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        log("no class-data-sharing archive (exit %d); runs start without" % code)


# ---- JVM runs -------------------------------------------------------------

def run_jvm(cp, args, log_path, timeout, jvm_opts=None):
    """Start the harness JVM, wait for it, return (exit code, spawn epoch)."""
    if jvm_opts is None:
        archive = os.path.join(BUILD, "graft.jsa")
        jvm_opts = ["-XX:SharedArchiveFile=" + archive] \
            if os.path.exists(archive) else []
    cmd = ["java", "-Xmx" + HEAP, "-Xms1g", *jvm_opts, *ADD_OPENS,
           "-cp", cp, "graftbench.Main", *args]
    with open(log_path, "ab") as lf:
        spawned = time.time()
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, cwd=ROOT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1, spawned
    return p.returncode, spawned


def input_dir(workload, seed):
    """Where the inputs for (workload, seed) are cached. The path names the
    generator's source hash, so a changed generator never reuses inputs
    an older one wrote."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(BUILD, "inputs", workload,
                        "seed-%d-%s" % (seed, version))


def nearest_rank(xs, q):
    s = sorted(xs)
    return s[max(0, -(-int(q * 100) * len(s) // 100) - 1)]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if a.self_check:
        return self_check()
    if not a.workload:
        die("--workload is required")
    cp = build()
    inputs = input_dir(a.workload, a.seed)
    truth = gen.generate(a.workload, a.seed, inputs)
    # the run's time limit counts from here: only a checkout's first run
    # builds, and it may take longer
    t_start = time.time()
    cores = len(os.sched_getaffinity(0))
    tag = "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    work = os.path.join(BUILD, "runs", tag)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, tag + ".log")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = measure(a, cp, inputs, truth, cores, work, log_path, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        die("run failed; see %s" % os.path.relpath(log_path, ROOT))
    print(json.dumps(result[0], sort_keys=True))
    print(json.dumps(result[1]))
    return 0


def measure(a, cp, inputs, truth, cores, work, log_path, t_start):
    base = ["--workload", a.workload, "--input", inputs,
            "--cores", str(cores), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == "operator_sweep":
        base += ["--warmup", ",".join(SWEEP_WARMUP),
                 "--queries", ",".join(SWEEP_QUERIES)]
    out = os.path.join(work, "result.json")
    budget = RUN_BUDGET_S - (time.time() - t_start)
    code, spawned = run_jvm(cp, base + ["--out", out, "--work", work],
                            log_path, budget - 25)
    if code != 0 or not os.path.exists(out):
        return None
    with open(out) as f:
        r = json.load(f)
    setup = r["ready_epoch"] - spawned

    checks = list(r["checks"])
    failed = r["failed"]
    if a.workload == "operator_sweep":
        import oracle
        for q, why in oracle.compare(inputs, os.path.join(work, "results")).items():
            checks.append({"name": "oracle[%s]" % q, "ok": why is None,
                           "ops": 1, "detail": why or ""})
            failed += why is not None
    passes = r["passes"]
    traced = [p for p in passes if p["traced"]]
    for p in traced:
        # a span's self time is its duration minus its children's, so the
        # self times add up to the pass by construction; what can fail is
        # the root's own share, the time no layer span accounts for
        root = [s for s in p["spans"] if s["parent"] == -1][0]
        wall = root["end_s"] - root["start_s"]
        ok = root["self_s"] <= MAX_UNATTRIBUTED * wall
        checks.append({"name": "unattributed_time", "ok": ok, "ops": 0,
                       "detail": "%.3f s of %.3f s outside layer spans"
                       % (root["self_s"], wall)})
    failed = min(r["attempted"], failed)
    correct = failed == 0 and all(c["ok"] for c in checks)

    ops = [x for p in passes for x in p["ops"]]
    walls = [p["wall"] for p in passes]
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cores": cores, "records": r["records"],
            "input_bytes": r["input_bytes"], "input_digest": truth["digest"],
            "passes": len(passes), "op_samples": len(ops),
            "op_samples_above_p90": sum(
                1 for x in ops if ops and x > nearest_rank(ops, 0.9)),
            "peak_rss_mb": r["peak_rss_mb"],
            "loadavg_start": r["loadavg_start"],
            "loadavg_end": r["loadavg_end"],
            "failed_checks": [c for c in checks if not c["ok"]]}
    if a.trace:
        metrics = per_layer(r, passes, traced, a.workload)
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, "%s-seed%d.json"
                                  % (a.workload, a.seed))
        with open(trace_path, "w") as f:
            json.dump({"info": info, "passes": passes}, f)
        info["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        makespan = median(walls)
        metrics = {
            "makespan_s": makespan,
            "rows_per_s": r["records"] / makespan,
            "op_p50_s": median(ops),
            "op_p90_s": nearest_rank(ops, 0.9),
            "setup_s": setup,
            "cpu_s": median([p["cpu"] for p in passes]),
        }
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}
    return info, {"correct": correct, "attempted": r["attempted"],
                  "failed": failed, "metrics": metrics}


def per_layer(r, passes, traced, workload):
    with open(os.path.join(HERE, "layers.json")) as f:
        spec = json.load(f)["per_layer"]
    keys = set().union(*(p["layers"].keys() for p in traced))
    vals = {k: median([p["layers"][k] for p in traced if k in p["layers"]])
            for k in keys}
    plain = [p["wall"] for p in passes if not p["traced"]]
    if len(plain) > 1:
        plain = plain[1:]  # the first pass is the JVM's cold one
    traced_wall = median([p["wall"] for p in traced])
    vals["session.start_s"] = r["session_s"]
    vals["trace.makespan_s"] = traced_wall
    vals["trace.unattributed_s"] = median(
        [s["self_s"] for p in traced for s in p["spans"] if s["parent"] == -1])
    if workload == "operator_sweep":
        # one pass: the overhead is the span bookkeeping around the queries
        root = sum(s["end_s"] - s["start_s"] for p in traced
                   for s in p["spans"] if s["parent"] == -1)
        inner = sum(s["end_s"] - s["start_s"] for p in traced
                    for s in p["spans"] if s["name"].startswith("entry."))
        vals["trace.overhead_s"] = root - inner
    else:
        vals["trace.overhead_s"] = traced_wall - median(plain)
    return {m["name"]: {"value": vals.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec}


# ---- self-check ------------------------------------------------------------

def self_check():
    ok = True
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".bench_check") as tmp:
        for w in WORKLOADS:
            seen = {}
            for seed, rep in ((11, 0), (11, 1), (12, 0)):
                out = os.path.join(tmp, "%s-%d-%d" % (w, seed, rep))
                t = gen.generate(w, seed, out)
                seen[(seed, rep)] = (t["digest"], t["records"])
            same = seen[(11, 0)] == seen[(11, 1)]
            size = seen[(11, 0)][1] == seen[(12, 0)][1] and \
                seen[(11, 0)][0] != seen[(12, 0)][0]
            log("%s: same seed identical=%s, other seed same size=%s"
                % (w, same, size))
            ok = ok and same and size
    print(json.dumps({"self_check": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
