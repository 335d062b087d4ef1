#!/usr/bin/env python3
"""Benchmark runner for the triplet pipeline: serve and intake workloads.

    python3 perfbench/run.py --workload serve|intake --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest           # the harness helpers' self-tests
    python3 perfbench/run.py --pin [--workload W] # re-pin fingerprints for the default seed

Run from the repository root. Each run:
  1. builds the program and the harness from source (perfbench/build.sbt, an
     sbt project of its own) unless the sources are unchanged since the last
     build;
  2. starts one fresh JVM (perfbench.Main) with a private index dir, Spark
     local dir, warehouse, temp dir and intake state dir under
     .perfbench/runs/, all deleted when the run ends;
  3. prints the end-to-end metrics (--trace 0) or the per-layer metrics
     (--trace 1) with their units, and as the last line one JSON object
     {"correct", "attempted", "failed", "metrics"}.

A fingerprint that differs from perfbench/pins.json (default seed) or a
failed invariant makes the run incorrect and the exit code 1. Results and
traced spans are kept under .perfbench/out/ for comparison.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DEFAULT_SEED = 1
RUN_LIMIT_S = 170  # a run (build excluded) must end within 180 s
PIN_LIMIT_S = 900

# the JDK 17 module opens build.sbt passes to every forked JVM
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classes_dir():
    return os.path.join(BENCH, "target", "scala-2.13", "classes")


def build():
    """Compile program + harness with sbt, once per source state."""
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    with open(os.path.join(BENCH, "target", ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isdir(classes_dir()) and os.path.isfile(stamp_file) \
                and open(stamp_file).read() == stamp:
            return 0.0
        env = dict(os.environ, SPARK_HOME=spark_home())
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx4g")
        t0 = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return time.time() - t0


def spark_home():
    """SPARK_HOME, else the first Spark distribution (a bin/ next to jars/) on PATH."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in candidates:
        if home and os.path.isfile(os.path.join(home, "bin", "spark-submit")) \
                and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark distribution found: set SPARK_HOME")


def spark_jars():
    return os.path.join(spark_home(), "jars", "*")


def java_cmd(main, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    return [java, *opens, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", classes_dir() + os.pathsep + spark_jars(), main]


def run_jvm(cmd, run_dir, limit_s):
    """Run the harness JVM in its own process group; kill the group on
    timeout and wait for it either way."""
    env = dict(os.environ)
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(run_dir, "index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    with open(log_path) as f:
        log = f.read()
    return code, log


def cpu_times():
    """Aggregate CPU jiffies (user..steal) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def private_dirs(workload, seed, trace):
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("index", "local", "warehouse", "tmp", "state"):
        os.makedirs(os.path.join(run_dir, d))
    return run_dir


def harness_run(workload, seed, seconds, trace, limit_s, check_pins=True):
    run_dir = private_dirs(workload, seed, trace)
    try:
        out = os.path.join(run_dir, "result.json")
        cmd = java_cmd("perfbench.Main", run_dir) + [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", run_dir, "--out", out, "--commit", git_commit()]
        if check_pins:
            cmd += ["--pins", os.path.join(BENCH, "pins.json")]
        cpu0 = cpu_times()
        code, log = run_jvm(cmd, run_dir, limit_s)
        cpu1 = cpu_times()
        if code != 0 or not os.path.isfile(out):
            sys.stderr.write(log[-3000:])
            fail(f"harness JVM failed (exit {code})", 1)
        with open(out) as f:
            res = json.load(f)
        if cpu0 and cpu1:
            d = [b - a for a, b in zip(cpu0, cpu1)]
            # time the hypervisor gave to other guests while this run wanted CPU
            res["env"]["host_steal_share"] = d[7] / max(1, sum(d))
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.isfile(spans):
            keep = os.path.join(ROOT, ".perfbench", "out", f"{workload}-s{seed}-spans.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(spans, keep)
            res["spans_file"] = os.path.relpath(keep, ROOT)
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(args, res, spec):
    e2e, layers, info, env = res["e2e"], res["layers"], res["info"], res["env"]
    s = env["session"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} commit={env['commit']}")
    print(f"env: nproc={env['nproc']} jdk={env['jdk']} spark={env['spark']} "
          f"master={s['spark.master']} shuffle.partitions={s['spark.sql.shuffle.partitions']} "
          f"aqe={s['spark.sql.adaptive.enabled']} ui={s['spark.ui.enabled']} "
          f"jvm={' '.join(a for a in env['jvm_args'] if a.startswith('-X'))} "
          f"host_steal={env.get('host_steal_share', 0):.1%}")
    marks = [(k[3:-2], v) for k, v in info.items() if k.startswith("at_")]
    print("harness phases, s since JVM start: "
          + " ".join(f"{k}={v:.1f}" for k, v in sorted(marks, key=lambda kv: kv[1])))
    warm = info.get("warmup_s", [])
    tail = info.get("warmup_tail_over_p50")
    print("warm-up op latencies (s): " + " ".join(fmt(x) for x in warm)
          + f" | levelled={info.get('warmup_levelled')}"
          + (f" | last warm-up / timed p50 = {tail:.3f}" if tail else ""))
    print("timed op latencies (s): " + " ".join(fmt(x) for x in info.get("timed_s", [])))
    n = info.get("op_p50_n", 0)
    for m in spec["end_to_end"]:
        name = m["name"]
        extra = f"  (n={n})" if name == "op_p50_s" else ""
        print(f"  {name:<22} {fmt(e2e.get(name, 0.0)):>14} {m['unit']}{extra}")
    print(f"  {'op_error_ratio':<22} {fmt(layers.get('op_error_ratio', 0.0)):>14} ratio"
          f"  ({res['failed']} of {res['attempted']} ops failed)")
    pinned = "checked against pins.json" if info.get("fingerprint_pinned") \
        else "no pin for this seed"
    print(f"fingerprint {info.get('fingerprint')} over the first {info.get('fingerprint_ops')} ops"
          f" ({pinned})")
    for p in res["problems"]:
        print(f"PROBLEM: {p}")
    if args.trace:
        print("per-layer:")
        for m in spec["per_layer"]:
            print(f"  {m['name']:<28} {fmt(layers.get(m['name'], 0.0)):>14} {m['unit']}")
        print(f"spans: {info.get('spans')} written to {res.get('spans_file')}")
        base = os.path.join(ROOT, ".perfbench", "out", f"{args.workload}-s{args.seed}-t0.json")
        if os.path.isfile(base):
            with open(base) as f:
                b = json.load(f)["e2e"]
            parts = [f"{k} {e2e[k] / b[k] - 1:+.1%}" for k in b if k in e2e and b[k]]
            print("tracing overhead vs the untraced run of this seed: " + ", ".join(parts))
        else:
            print("tracing overhead: no untraced run of this seed in .perfbench/out to compare")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="serve")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    # SIGTERM to this script still kills and waits for the harness JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail("program sources not found: run from a full checkout of the repository")
    spec = load_spec()
    build_s = build()
    if build_s:
        print(f"built program + harness in {build_s:.1f} s")
    t0 = time.time()

    if args.selftest:
        run_dir = private_dirs("selftest", 0, 0)
        try:
            code, log = run_jvm(java_cmd("perfbench.SelfTest", run_dir), run_dir, RUN_LIMIT_S)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        print("\n".join(l for l in log.splitlines() if l.startswith(("PASS", "FAIL", "SELFTEST"))))
        sys.exit(0 if code == 0 else 1)

    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    if args.pin:
        path = os.path.join(BENCH, "pins.json")
        pins = json.load(open(path)) if os.path.isfile(path) else {"seed": DEFAULT_SEED}
        w = args.workload
        # a window no run reaches: the run stops at the workload's op cap,
        # so every op a timed run can reach gets a pin
        res = harness_run(w, DEFAULT_SEED, PIN_LIMIT_S, 0, PIN_LIMIT_S, check_pins=False)
        if res["problems"]:
            fail(f"{w}: not pinning a run with problems: {res['problems']}", 1)
        pins[w] = res["info"]["fingerprints"]
        print(f"pinned {w}: {len(pins[w])} ops")
        print("op latencies (s): " + " ".join(fmt(x) for x in res["info"]["timed_s"]))
        with open(path, "w") as f:
            json.dump(pins, f, indent=1)
            f.write("\n")
        return

    res = harness_run(args.workload, args.seed, args.seconds, args.trace,
                      RUN_LIMIT_S - (time.time() - t0))
    os.makedirs(os.path.join(ROOT, ".perfbench", "out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "out",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(res, f)
    report(args, res, spec)

    section = "per_layer" if args.trace else "end_to_end"
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[section]}
    # a run without a timed op counts as one failed attempt
    attempted, failed = (res["attempted"], res["failed"]) if res["attempted"] else (1, 1)
    correct = failed == 0 and not res["problems"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
