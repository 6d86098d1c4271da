#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
program and the benchmark from source with sbt (offline); later runs reuse
the build while no source file changed. The measured program runs in its
own JVM, launched here directly. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Exits non-zero, printing no result, when the program's
sources are missing, the build fails, or the run fails or overruns.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when it is started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root, bench):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(bench, "src"),
            os.path.join(root, "project"), os.path.join(bench, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(bench, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, bench, work):
    """Build with sbt unless the last build saw the same sources; returns
    the runtime classpath."""
    cp_file = os.path.join(bench, "target", "runtime-classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp(root, bench)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cfh:
                    return cfh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building the program and the benchmark with sbt", flush=True)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=bench, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def complete(result, spec, trace):
    """Check the metrics against the ones BENCHMARK.json declares for this
    mode, in its order. A per-layer metric a workload does not exercise
    reads 0; an undeclared or missing end-to-end metric fails the run."""
    declared = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    extra = sorted(set(got) - {m["name"] for m in declared})
    if extra:
        fail(f"undeclared metrics {', '.join(extra)}")
    missing = [m["name"] for m in declared if m["name"] not in got]
    if missing and not trace:
        fail(f"end-to-end metrics {', '.join(missing)} were not measured")
    result["metrics"] = {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                         for m in declared}
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no program sources here ({need} is missing); run from the repository root")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    work = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = build(root, bench, work)

    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", args.trace, "--work", work, "--cores", str(cores)])
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the run did not finish within {RUN_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"the run failed (exit code {proc.returncode})")
    result = complete(json.loads(lines[-1]), spec, args.trace == "1")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
