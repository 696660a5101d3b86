#!/usr/bin/env python3
"""Security-lake benchmark: one workload per invocation, one JVM per run.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (`lakebench/build.sbt` depends on the root build); later
runs reuse the build while the sources are unchanged. The script then
generates the workload's inputs from the seed, runs the workload in a fresh
JVM (`lakebench.Main`), checks its outputs against the planted truth and
DuckDB, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs the workload untraced and then traced,
and reports the per-layer metrics, the tracing overhead and, for ingest,
a single-core (local[1]) baseline pass. `--workload all` runs both
workloads in turn and prefixes each metric with its workload's name. See lakebench/DESIGN.md for what each workload stresses.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["ingest", "hunt"]
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s",
              "mem_live_peak_mb": "MiB", "lake_bytes_per_record": "bytes"}
GEN_REPS = 2
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Workload sizes. Live lands LIVE_RATE objects per second of --seconds.
BACKLOG = dict(objects_per_source=4, lines_per_object=2000, bursts_per_source=4)
BACKLOG_WARM = dict(objects_per_source=2, lines_per_object=500, bursts_per_source=2)
LIVE_RATE = 10
LIVE = dict(lines_per_object=50, bursts_per_source=10)
HUNT = dict(hours=24, vpc_per_hour=1500, ct_per_hour=200)


def fail(msg):
    print("lakebench: " + msg, file=sys.stderr)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no engine sources at %s (run from the repository root)" % ROOT)
    stamp = os.path.join(WORK, "build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b["hash"] == digest and all(os.path.exists(p) for p in b["classpath"].split(":")):
            return b["classpath"]
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    opts = ["-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        # a provisioned repository mirror: resolve from it only
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos,
                 "-Dsbt.offline=true"]
        env["COURSIER_MODE"] = "offline"
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    p = subprocess.run(["sbt", "--batch"] + opts + ["export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": cp}, fh)
    return cp


# ---- inputs ------------------------------------------------------------------

def dir_digest(d):
    h = hashlib.sha256()
    for root, _, fs in sorted(os.walk(d)):
        for f in sorted(fs):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def make_inputs(workload, seed, seconds, out):
    """Writes the workload's inputs under `out`; returns its truth."""
    if workload == "ingest":
        per_source = max(1, int(-(-seconds * LIVE_RATE // 2)))
        return {"main": gen.ingest_inputs(os.path.join(out, "main"), seed, tag="main", **BACKLOG),
                "warm": gen.ingest_inputs(os.path.join(out, "warm"), seed, tag="warm",
                                          **BACKLOG_WARM),
                "live": gen.ingest_inputs(os.path.join(out, "live"), seed, per_source,
                                          span_s=per_source * 60, tag="live", **LIVE),
                "live_warm": gen.ingest_inputs(os.path.join(out, "live_warm"), seed, 5,
                                               span_s=600, tag="live_warm", **LIVE)}
    if workload == "hunt":
        # more hours than a writer appending once per rotation (a rotation
        # takes over a second) can use in the window and the two warm-up
        # rotations
        writer_hours = int(seconds) + 4
        truth = gen.hunt_inputs(out, seed, writer_hours=writer_hours, **HUNT)
        for k in ("t0", "hours"):
            with open(os.path.join(out, k), "w") as fh:
                fh.write(str(truth[k]))
        return truth
    fail("unknown workload %s" % workload)


def inputs(workload, seed, seconds, run_dir):
    """Generates the inputs GEN_REPS times; every repetition must be
    byte-identical to the first. Returns (dir, truth, median seconds,
    determinism failures)."""
    times, digests, truth, first = [], [], None, None
    for r in range(GEN_REPS):
        d = os.path.join(run_dir, "inputs" if r == 0 else "inputs_rep%d" % r)
        t0 = time.time()
        t = make_inputs(workload, seed, seconds, d)
        times.append(time.time() - t0)
        digests.append(dir_digest(d))
        if r == 0:
            truth, first = t, d
            with open(os.path.join(d, "truth.json"), "w") as fh:
                json.dump(t, fh)
        else:
            shutil.rmtree(d)
    bad = [] if len(set(digests)) == 1 else ["generator is not deterministic for seed %d" % seed]
    return first, truth, statistics.median(times), bad


# ---- one JVM run ------------------------------------------------------------------

def jvm(cp, workload, inputs_dir, work, seed, seconds, traced, cores, deadline):
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    # Spark's status store keeps past jobs and SQL executions; capped, so
    # mem_live_peak_mb measures what the engine retains, not how many
    # operations a run happened to finish
    cmd += ["-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
            "-Dspark.ui.retainedTasks=1000", "-Dspark.sql.ui.retainedExecutions=50"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "lakebench.Main", workload, inputs_dir, work, str(seed),
            str(seconds), "1" if traced else "0", str(cores)]
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        res = json.load(fh)
    res["session_s"] = res["info"]["session_ready_ms"] / 1000.0 - launched
    return res


def check(workload, res, truth, inputs_dir, work):
    """Launcher-side checks; returns (operations checked, failures)."""
    info = res["info"]
    if workload == "ingest":
        fails = []
        for p in range(1, info["passes"] + 1):
            fails += checks.ingest(os.path.join(work, "pass%d" % p),
                                   os.path.join(work, "warm", "alerts"), truth["main"])
        if "objects" not in info:
            return info["passes"], fails
        fails += checks.ingest(os.path.join(work, "live"), os.path.join(work, "live_warm", "alerts"),
                               truth["live"][:info["objects"]])
        return info["passes"] + 1, fails
    return checks.hunt(work, inputs_dir)


def run_once(cp, workload, seed, seconds, traced, cores, run_dir, inputs_dir, truth, deadline):
    work = os.path.join(run_dir, "trace" if traced else "plain", "c%d" % cores)
    shutil.rmtree(work, ignore_errors=True)
    res = jvm(cp, workload, inputs_dir, work, seed, seconds, traced, cores, deadline)
    if res is None:
        return None, 1, ["%s: the JVM run produced no result (see %s/jvm.log)" % (workload, work)]
    n, fails = 0, list(res["failures"])
    if res["status"] == 0:
        try:
            n, more = check(workload, res, truth, inputs_dir, work)
            fails += more
        except Exception as e:  # a check that cannot run is a failed check
            n, fails = n + 1, fails + ["%s: check aborted: %r" % (workload, e)]
    return res, res["attempted"] + n, fails


def workload_result(cp, workload, seed, seconds, trace, cores, deadline):
    run_dir = os.path.join(WORK, "runs", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs_dir, truth, gen_s, fails = inputs(workload, seed, seconds, run_dir)
    attempted = 1
    res, n, f = run_once(cp, workload, seed, seconds, False, cores, run_dir, inputs_dir,
                         truth, deadline)
    attempted += n
    fails += f
    metrics = {}
    if res is not None:
        info = res["info"]
        setup = gen_s + res["session_s"] + info.get("warmup_s", 0.0) + info.get("prebuild_s", 0.0)
        values = dict(res["metrics"], setup_s=setup)
        metrics = {k: {"value": values.get(k), "unit": u} for k, u in END_TO_END.items()}
        print("lakebench %s seed=%d: %s" % (workload, seed, json.dumps(
            {"setup": {"gen_s": gen_s, "session_s": res["session_s"],
                       "warmup_s": info.get("warmup_s"), "prebuild_s": info.get("prebuild_s")},
             "info": {k: v for k, v in info.items()
                      if not isinstance(v, (dict, list)) and not k.startswith("session")}})))
    if trace and res is not None:
        traced, n, f = run_once(cp, workload, seed, seconds, True, cores, run_dir, inputs_dir,
                                truth, deadline)
        attempted += n
        fails += f
        layer = dict.fromkeys(PER_LAYER, 0.0)
        if traced is not None:
            layer.update({k: v for k, v in traced["layer"].items() if k in layer})
            layer["trace.overhead_share"] = (
                traced["metrics"]["latency_p50_s"] / res["metrics"]["latency_p50_s"] - 1.0)
        metrics = {k: {"value": v if v is not None else 0.0, "unit": PER_LAYER.get(k, "s")}
                   for k, v in layer.items()}
    return {"correct": not fails and res is not None, "attempted": attempted,
            "failed": len(fails), "metrics": metrics}, fails


PER_LAYER = {}


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        PER_LAYER.update({m["name"]: m["unit"] for m in json.load(fh)["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    started = time.time()
    load_benchmark()
    cores = len(os.sched_getaffinity(0))
    names = WORKLOADS if args.workload == "all" else [args.workload]
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        deadline = (started if len(names) == 1 else time.time()) + RUN_LIMIT_S
        r, fails = workload_result(cp, w, args.seed, args.seconds, args.trace, cores, deadline)
        for f in fails:
            print("lakebench %s FAILED: %s" % (w, f))
        out["correct"] = out["correct"] and r["correct"]
        out["attempted"] += r["attempted"]
        out["failed"] += r["failed"]
        prefix = w + "." if len(names) > 1 else ""
        out["metrics"].update({prefix + k: v for k, v in r["metrics"].items()})
        print("lakebench %s: attempted=%d failed=%d" % (w, r["attempted"], r["failed"]))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
