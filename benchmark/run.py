#!/usr/bin/env python3
"""Benchmark of the dwhspark engine: one command, one workload per run.

    python3 benchmark/run.py --workload gql_read|cdc_live|registry_sweep \
        --seed N --seconds S --trace 0|1

Run it from the repository root (any directory works; paths resolve from this
file). The first run builds the program and the harness with sbt into
benchmark/target and generates the input tables into benchmark/work; later
runs reuse both while the sources are unchanged.

The last line of standard output is one JSON object:
    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones plus the tracing overhead. A summary line before it gives the
sample counts and fail_ratio. See NOTES.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
SCRATCH = os.path.join(WORK, "scratch")  # the program's fixture root
JVM_TIMEOUT_S = 170
CPUS = len(os.sched_getaffinity(0))  # local[CPUS], and as many clients
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def fingerprint(paths):
    """Content hash of every file under `paths` (sorted, path-qualified)."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + harness with sbt once per source state; returns the
    runtime classpath."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        fail(f"program sources not found at {os.path.relpath(src, ROOT)}; "
             "run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    fp = fingerprint([src, os.path.join(HERE, "src"),
                      os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    stamp = os.path.join(WORK, "build", f"classpath-{fp}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    log("building program and harness with sbt (first run only)")
    t0 = time.time()
    # the repository's offline resolver settings, when the caller has none
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
    os.makedirs(os.path.dirname(stamp))
    with open(stamp, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def data_dir(sf):
    """Generate the tables for scale factor `sf` once per generator
    version."""
    gen = os.path.join(HERE, "gen_data.py")
    d = os.path.join(WORK, "data", f"sf{sf}-{fingerprint([gen])}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, gen, str(sf), d], check=True,
                       timeout=300)
        open(os.path.join(d, "_done"), "w").close()
    return d


def run_jvm(cp, args, run_dir, out):
    """Run dwhbench.Main in `run_dir`. Afterwards its scratch is removed:
    the program's fixture dirs named after this run's Spark application ids,
    and any other fixture dir the run created (dir-keyed stores, which would
    otherwise make the next run's pass warm)."""
    os.makedirs(SCRATCH, exist_ok=True)
    before = set(os.listdir(SCRATCH))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "dwhbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir,
                                                              "local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    try:
        with open(os.path.join(run_dir, "app_ids.txt")) as fh:
            app_ids = [l.strip() for l in fh if l.strip()]
    except FileNotFoundError:
        app_ids = []
    for name in os.listdir(SCRATCH):
        if name not in before or any(a in name for a in app_ids):
            shutil.rmtree(os.path.join(SCRATCH, name), ignore_errors=True)
    for sub in ("tmp", "local", "spark-warehouse", "metastore_db"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail("benchmark JVM timed out" if code is None
             else f"benchmark JVM exited with {code}")
    with open(os.path.join(out, "run.json")) as fh:
        return json.load(fh)


def measure(args, cp, trace, run_dir, corrupt):
    """One JVM run of the workload plus its correctness check."""
    w = workloads.WORKLOADS[args.workload]
    data = data_dir(args.sf if args.sf is not None else w["sf"])
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "out")
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "1" if trace else "0",
             "--data", data, "--out", out,
             "--cpus", str(CPUS)]
    if args.max_ops:
        jargs += ["--max-ops", str(args.max_ops)]
    if corrupt and args.workload == "cdc_live":
        jargs += ["--corrupt-expected", "1"]
    if args.workload == "gql_read":
        deck = workloads.gql_deck(args.seed, data)
        path = os.path.join(run_dir, "requests.jsonl")
        with open(path, "w") as fh:
            for r in deck:
                fh.write(json.dumps(r) + "\n")
        jargs += ["--requests", path]
    res = run_jvm(cp, jargs, run_dir, out)
    if args.workload == "gql_read":
        bad = checks.check_gql(deck, os.path.join(out, "responses.jsonl"),
                               data, corrupt)
        served = [r for r in deck if not r["warmup"]]
        wrong = [o for o in res["ops"]
                 if served[(o["id"] - 1) % len(served)]["id"] in bad]
    elif args.workload == "cdc_live":
        ok = res["check"]["ok"]
        if not ok:
            log(f"cdc_live check: {res['check']['detail']}")
        wrong = [] if ok else res["ops"][-1:]
    else:
        bad = checks.check_registry(out, data,
                                    os.path.join(WORK, "oracle"), corrupt)
        wrong = [o for o in res["ops"] if o["name"] in bad]
    return res, wrong


def quantile(vals, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    v = sorted(vals)
    if not v:
        return 0.0
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def end_to_end(res):
    ops = res["ops"]
    ms = [o["ms"] for o in ops]
    wall = res["wall_s"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "ops_per_s": (len(ops) / wall, "1/s"),
        "events_per_s": (sum(o["records"] for o in ops) / wall, "1/s"),
        "p50_ms": (quantile(ms, 0.5), "ms"),
        "p90_ms": (quantile(ms, 0.9), "ms"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
    }


def per_layer(res):
    out = {}
    layers = res.get("layers", {})
    for name, unit, kind in workloads.LAYERS:
        vals = layers.get(name, [])
        out[f"{name}.p50"] = (quantile(vals, 0.5), unit)
        if kind == "gauge":
            out[f"{name}.max"] = (max(vals) if vals else 0.0, unit)
        else:
            out[f"{name}.sum"] = (sum(vals), unit)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # development and self-test knobs; the defaults are the benchmark
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor (default: the workload's own)")
    ap.add_argument("--max-ops", type=int, default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="alter one expected answer (self-test of checks)")
    args = ap.parse_args()

    cp = build()
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    base = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(WORK, "traces")
    try:
        if args.trace:
            plain, _ = measure(args, cp, False, base + "-plain",
                               args.corrupt_expected)
        res, wrong = measure(args, cp, bool(args.trace), base,
                             args.corrupt_expected)
        if args.trace:  # keep the last traced run's spans for inspection
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(base, "out", "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-{args.seed}"
                                     ".spans.jsonl"))
    finally:
        for d in (base, base + "-plain"):
            shutil.rmtree(d, ignore_errors=True)

    attempted = len(res["ops"])
    errors = [o for o in res["ops"] if "error" in o]
    failed = len({o["id"] for o in errors + wrong})
    for o in errors[:5]:
        log(f"op {o['id']} {o['name']} failed: {o['error']}")
    if args.trace:
        metrics = per_layer(res)
        per_op = lambda r: r["wall_s"] / max(1, len(r["ops"]))
        over = (per_op(res) - per_op(plain)) * attempted
        metrics["trace.overhead_s"] = (over, "s")
        metrics["trace.overhead_pct"] = (
            100.0 * over / (per_op(plain) * attempted), "%")
    else:
        metrics = end_to_end(res)
    ms = [o["ms"] for o in res["ops"]]
    log("setup phases (session, tables, warm-up; cumulative s): "
        + " | ".join(f"{x:.2f}" for x in res["setup_phases_s"])
        + f"; wall_s={res['wall_s']:.2f}")
    if len(ms) <= 150:
        log("op ms: " + " ".join(f"{m:.0f}" for m in ms))
    print(f"{args.workload} seed={args.seed}: {attempted} ops, "
          f"fail_ratio={failed / max(1, attempted):.4f}, "
          f"p50_ms={quantile(ms, 0.5):.1f} (n={len(ms)}), "
          f"p90_ms={quantile(ms, 0.9):.1f} (n={len(ms)}, "
          f"{sum(1 for m in ms if m > quantile(ms, 0.9))} above)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
