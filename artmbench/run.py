#!/usr/bin/env python3
"""Benchmark launcher for the graft library.

Run from the root of a checkout:

    python3 artmbench/run.py --workload artm_wide --seed 1 --seconds 20 --trace 0
    python3 artmbench/run.py --self-check

It builds the library and the benchmark with sbt (skipped when the
sources are unchanged since the last build), then starts one JVM directly
on the built classpath with a fixed heap and runs the workload in it. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. Lines before it give the contention sentinel, the output
fingerprints and notes.

Everything the run writes goes under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.relpath(os.path.abspath(__file__)))
BUILD = os.path.join(".bench_build", "artmbench")
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
WORKLOADS = ("artm_wide", "curate")

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"artmbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", os.path.join("project", "build.properties"), os.path.join("src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.join(BENCH, "src")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the library and the benchmark; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=out, text=True,
            start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build did not finish in {BUILD_LIMIT_S} s; see {log}")
        out.write(stdout)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode}); see {log}")
    lines = [ln.strip() for ln in stdout.splitlines() if os.pathsep in ln and ".jar" in ln]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    classpath = [os.path.abspath(os.path.join(BENCH, p)) for p in lines[-1].split(os.pathsep)]
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def stop(proc):
    """Kill a process group started with start_new_session and reap it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def sentinel():
    """Contention sentinel: /proc/loadavg and a fixed single-thread spin."""
    try:
        with open("/proc/loadavg") as f:
            load = " ".join(f.read().split()[:3])
    except OSError:
        load = "n/a"
    t = time.perf_counter()
    x = 1
    for _ in range(1000000):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
    return {"loadavg": load, "spin_ms": round((time.perf_counter() - t) * 1000, 1)}


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(classpath, workload, seed, seconds, trace, size, deadline):
    """One JVM run of one workload; returns the parsed result object."""
    run_dir = os.path.abspath(os.path.join(BUILD, f"run-{os.getpid()}-{workload}-{seed}-{trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(os.path.dirname(run_dir), "last-run.log")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    t0_ms = int(time.time() * 1000)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", os.pathsep.join(classpath), "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--size", size, "--cores", str(cores()),
           "--t0-ms", str(t0_ms), "--out", out, "--local-dir", os.path.join(run_dir, "spark")]
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                stop(proc)
                fail(f"{workload} run did not finish in time; see {log}", 3)
        if proc.returncode != 0 or not os.path.isfile(out):
            with open(log) as lf:
                tail = lf.read()[-3000:]
            fail(f"{workload} JVM exited with {proc.returncode}:\n{tail}", 3)
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def spec():
    try:
        with open("BENCHMARK.json") as f:
            return json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")


def declared_metrics():
    s = spec()
    return ({m["name"]: m["unit"] for m in s["end_to_end"]},
            {m["name"]: m["unit"] for m in s["per_layer"]})


def check_pins(res, workload, size, seed):
    """Compare the run's reference fingerprints with the ones pinned for
    this seed. A mismatch fails every attempted op. An unpinned seed gets
    a note: its ops are then checked only against the run's own warm-up."""
    key = f"{workload}/{size}/{seed}"
    with open(os.path.join(BENCH, "expected.json")) as f:
        pins = json.load(f).get(key)
    if not pins:
        res["notes"].append(f"no pinned fingerprints for {key}: ops checked against the warm-up only")
        return
    for op, want in sorted(pins.items()):
        got = res["fingerprints"].get(op)
        if got != want:
            res["errors"].append(f"{op} output {got} differs from the pinned {want}")
            res["failed"] = res["attempted"]
            res["correct"] = False


def run(workload, seed, seconds, trace, size, deadline):
    e2e, per_layer = declared_metrics()
    wanted = per_layer if trace else e2e
    classpath = build()
    before = sentinel()
    res = run_jvm(classpath, workload, seed, seconds, trace, size, deadline)
    after = sentinel()
    check_pins(res, workload, size, seed)
    metrics = {}
    for name, unit in wanted.items():
        m = res["metrics"].get(name)
        if m is None or m["unit"] != unit or m["value"] is None or not math.isfinite(m["value"]):
            res["errors"].append(f"metric {name} missing or not finite")
            res["correct"] = False
            continue
        metrics[name] = m
    print(json.dumps({"sentinel": {"before": before, "after": after}}))
    print(json.dumps({"fingerprints": res["fingerprints"]}))
    for note in res["notes"]:
        print(f"note: {note}")
    for err in res["errors"]:
        print(f"error: {err}")
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def self_check():
    """Tiny-size run of every workload of BENCHMARK.json: seed 1 untraced
    and traced, and a second seed traced. Asserts that every declared
    metric prints with its unit, that traced and untraced ops pass the same
    output checks, and that the trace overhead is reported."""
    e2e, per_layer = declared_metrics()
    problems = []
    for workload in [w["name"] for w in spec()["workloads"]]:
        for seed, trace in ((1, 0), (1, 1), (2, 1)):
            res = run(workload, seed, 1, trace, "tiny", time.monotonic() + RUN_LIMIT_S)
            tag = f"{workload} seed {seed} trace {trace}"
            wanted = per_layer if trace else e2e
            missing = sorted(set(wanted) - set(res["metrics"]))
            if missing:
                problems.append(f"{tag}: metrics missing {missing}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: output checks failed")
            if trace and "trace.overhead_s" not in res["metrics"]:
                problems.append(f"{tag}: trace.overhead_s not reported")
            print(json.dumps({"self_check": tag, **res}))
    for p in problems:
        print(f"self-check: {p}")
    print(json.dumps({"self_check_passed": not problems}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala"))):
        fail("run from the root of a checkout of the library (build.sbt and src/main/scala missing)")
    if args.self_check:
        sys.exit(self_check())
    if not args.workload:
        fail("--workload is required")
    build()
    res = run(args.workload, args.seed, args.seconds, args.trace, args.size,
              time.monotonic() + RUN_LIMIT_S)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
