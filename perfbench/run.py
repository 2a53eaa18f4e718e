#!/usr/bin/env python3
"""Seeded, layer-traced benchmark of the query catalog: analyst SQL over
the star schema, and index maintenance with the queries it serves. See
perfbench/README.md.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (into
.bench_build/), generates the workload's inputs from the seed into a
fresh per-run directory, runs the JVM harness, checks every output with
DuckDB, and prints a report followed by one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from a traced pass that runs after an untraced one.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms",
    "setup_span_mean_ms": "ms",
    "probe_span_mean_ms": "ms",
}

PER_LAYER = {
    "span.setup_ms": "ms", "span.probe_ms": "ms",
    "layer.target_share": "ratio", "self.bench_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.executions": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.tasks_per_stage": "count", "sched.in_job_ms": "ms",
    "sched.outside_job_ms": "ms", "sched.queue_ms": "ms",
    "exec.cpu_ms": "ms", "exec.run_ms": "ms", "exec.gc_ms": "ms",
    "exec.busy_frac": "ratio", "exec.max_task_share": "ratio",
    "shuffle.exchanges": "count", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "io.input_bytes": "bytes",
    "io.output_bytes": "bytes", "mem.spill_bytes": "bytes",
    "cache.blocks_mb": "MB", "catalog.bytes_written": "bytes",
    "catalog.files_written": "count", "probe.exec.cpu_ms": "ms",
    "probe.shuffle.exchanges": "count", "probe.shuffle.write_bytes": "bytes",
    "label.jobs": "count", "fail.tasks": "count", "fail.stages_retried": "count",
    "trace.overhead_ms_per_op": "ms",
}


JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, cwd, env, log, timeout):
    """Run ``cmd`` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(sub))) if sub else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def build(root, spark):
    """Compile the program and the harness once per source state, package
    the classes as a jar and record a class-data-sharing archive of a short
    training run (it halves JVM and Spark start-up in every later run).
    Returns the JVM options that select the build."""
    src = os.path.join(root, "src", "main", "scala")
    harness_dir = os.path.join(HERE, "harness")
    if not os.path.isdir(src) or not glob.glob(os.path.join(src, "graft", "*.scala")):
        die("the program's sources (src/main/scala) are missing from this checkout")
    files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(harness_dir, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(harness_dir, "build.sbt"),
                    os.path.join(harness_dir, "project", "build.properties"),
                    os.path.join(HERE, "workloads.py")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    bdir = os.path.join(root, ".bench_build")
    jar, jsa, stamp = (os.path.join(bdir, x) for x in ("graft.jar", "classes.jsa", "stamp"))
    cp = ["-cp", f"{jar}:{os.path.join(spark, 'jars', '*')}"]
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(jsa):
        return cp + [f"-XX:SharedArchiveFile={jsa}"]
    os.makedirs(bdir, exist_ok=True)
    for f in (jsa, stamp):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, SPARK_HOME=spark, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(bdir, "build.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   harness_dir, env, log, BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(tail(log))
        die(f"build failed (exit {rc}); log in {log}")
    classes = os.path.join(bdir, "target", "scala-2.13", "classes")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    # Every run starts the JVM from the archive, so a build without one
    # is a failed build (no stamp is written, the next run retries).
    train = os.path.join(root, ".bench_run", f"cds-training-{os.getpid()}")
    try:
        warm = os.path.join(train, "input")
        gen.fixture(warm, 0.001, 0)
        entries = sorted({e for w in workloads.WORKLOADS.values() for e in w["entries"]})
        plan = dict(workload="cds-training", input=warm, warm=warm, trace=False,
                    setup_reps=1, warm_entries=[], passes=[entries], layers={})
        harness(cp + [f"-XX:ArchiveClassesAtExit={jsa}"], train, plan)
    finally:
        shutil.rmtree(train, ignore_errors=True)
    if not os.path.exists(jsa):
        die("the class-data-sharing training run wrote no archive")
    with open(stamp, "w") as f:
        f.write(digest)
    return cp + [f"-XX:SharedArchiveFile={jsa}"]


def harness(jvm_opts, run_dir, plan):
    """Run the JVM harness on ``plan`` inside ``run_dir``; return its result."""
    for d in ("tmp", "work", "check"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    plan = dict(plan, cpus=len(os.sched_getaffinity(0)),
                check_dir=os.path.join(run_dir, "check"),
                catalog_root=os.path.join(run_dir, "tmp", "graft_warehouse"),
                out=os.path.join(run_dir, "result.json"))
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # the heap of the program's own sessions (build.sbt, graft.Bench)
    cmd = ["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    log = os.path.join(run_dir, "jvm.log")
    rc = run_child(cmd + jvm_opts + ["graft.perfbench.PerfBench", plan_path],
                   os.path.join(run_dir, "work"), dict(os.environ), log, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(plan["out"]):
        sys.stderr.write(tail(log))
        die(f"harness failed (exit {rc})")
    with open(plan["out"]) as f:
        return json.load(f)


def make_inputs(w, seed, run_dir):
    """Generate the run's full and warm-up inputs; return their
    directories and the seconds spent."""
    t0 = time.time()
    inp, warm = os.path.join(run_dir, "input"), os.path.join(run_dir, "warm")
    gen.fixture(inp, w["sf"], seed)
    gen.fixture(warm, w["warm_sf"], seed)
    return inp, warm, time.time() - t0


def entry_medians(ops, key):
    """Each entry's median of ``key`` over the timed passes: one slow pass
    (a colder JIT, a burst of load from outside) does not move it."""
    by_entry = {}
    for o in ops:
        by_entry.setdefault(o["entry"], []).append(o[key])
    return [stats.median(xs) for xs in by_entry.values()]


def e2e_metrics(res):
    wall, cpu, setup, probe = (entry_medians(res["ops"], k)
                               for k in ("wall_ms", "cpu_ms", "setup_ms", "probe_ms"))
    n = len(wall)
    return {
        "setup_s": res["session_s"] + stats.median(res["setup_reps_s"]) + res["first_pass_s"],
        "ops_per_s": n * 1000.0 / sum(wall),
        "cpu_ms_per_op": sum(cpu) / n,
        "setup_span_mean_ms": sum(setup) / n,
        "probe_span_mean_ms": sum(probe) / n,
    }


def report(name, res, gen_s, load1m):
    """Human-readable lines: the workload's own headline numbers, each
    timing with its sample count and tail, and the contamination labels."""
    ops = res["ops"]
    walls = [o["wall_ms"] for o in ops]
    probes = [o["probe_ms"] for o in ops]
    setups = [o["setup_ms"] for o in ops]
    lines = [f"workload {name}: {len(ops)} ops in {res['wall_s']:.2f} s, "
             f"cpu {res['cpu_s']:.2f} s, cache_peak_mb {res['cache_peak_mb']:.2f}"]

    def dist(label, xs):
        t = stats.tail_percentile(xs)
        tl = f", p{t[0]} {t[1]:.1f}" if t else ", no tail percentile (<11 samples)"
        return f"  {label}: n={len(xs)} p50 {stats.median(xs):.1f}{tl}"
    lines.append(dist("op_ms", walls))
    per_pass = {}
    for o in ops:
        per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["wall_ms"] / 1000
    lines.append(f"  timed pass walls: {[round(x, 2) for x in per_pass.values()]} s")
    lines.append(dist("setup_span_ms", setups))
    lines.append(dist("probe_span_ms", probes))
    lines.append(f"  setup: session {res['session_s']:.2f} s, warm-up reps "
                 f"{[round(x, 2) for x in res['setup_reps_s']]} s, first pass "
                 f"{res['first_pass_s']:.2f} s; input generation {gen_s:.2f} s (not in setup_s)")
    host = res.get("host") or {}
    lines.append(f"  host: load1m at start {load1m:.2f}, steal "
                 f"{host.get('steal_frac', float('nan')):.4f}, other processes' cpu "
                 f"{host.get('other_cpu_s', float('nan')):.2f} s over the timed region")
    return lines


def layer_metrics(res, target):
    """Per-layer metrics of the traced pass, with each layer's self time
    and the share of op wall spent in the workload's target layer."""
    tr = res["trace"]
    m = dict(tr["metrics"])
    st = stats.self_times(tr["spans"])
    for layer, ms in st.items():
        m[f"self.{layer}_ms"] = ms
    m["layer.target_share"] = st[target] / sum(st.values())
    m["label.jobs"] = sum((v for k, v in m.items()
                           if k.startswith("label.") and k.endswith(".jobs")), 0.0)
    m["trace.overhead_ms_per_op"] = (tr["wall_s"] / tr["ops"] - res["wall_s"] / len(res["ops"])) * 1000
    return m


def per_layer_result(m):
    """The result's per-layer metrics; a metric the traced pass did not
    produce fails the run rather than reading as zero."""
    missing = sorted(set(PER_LAYER) - set(m))
    if missing:
        die(f"the traced pass produced no {', '.join(missing)}")
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    load1m = os.getloadavg()[0]
    root = os.getcwd()
    jvm_opts = build(root, spark_home())

    name, w = a.workload, workloads.WORKLOADS[a.workload]
    run_dir = os.path.join(root, ".bench_run", f"{name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inp, warm, gen_s = make_inputs(w, a.seed, run_dir)
        plan = {
            "workload": name, "input": inp, "warm": warm, "trace": bool(a.trace),
            "setup_reps": 3, "warm_entries": w["warm"],
            "passes": workloads.passes(name, a.seed, a.seconds), "layers": w["entries"],
        }
        if "probe_layer" in w:
            plan["probe_layer"] = w["probe_layer"]
        res = harness(jvm_opts, run_dir, plan)

        fails = check.catalog(inp, res["checked"], res["oracle"], res["first_ops"] + res["ops"])
        failed = sum(1 for o in res["ops"] if o["entry"] in fails)

        for k, why in sorted(fails.items()):
            print(f"CHECK FAILED {k}: {why}")
        for line in report(name, res, gen_s, load1m):
            print(line)
        print(f"  listeners attached by the harness: {res['listeners_added']}")
        if res["listeners_added"]:
            die("the untraced timed region ran with listeners attached")
        if a.trace:
            m = layer_metrics(res, w["target"])
            out = os.path.join(root, ".bench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"trace-{name}-seed{a.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": name, "seed": a.seed, "metrics": m,
                           "untraced_wall_s": res["wall_s"], "traced_wall_s": res["trace"]["wall_s"],
                           "listeners_added_untraced": res["listeners_added"],
                           "spans": res["trace"]["spans"]}, f)
            for k in sorted(m):
                print(f"  {k} = {m[k]:.6g}")
            print(f"  trace written to {os.path.relpath(path, root)}")
            metrics = per_layer_result(m)
        else:
            m = e2e_metrics(res)
            metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"correct": not fails, "attempted": len(res["ops"]),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
