#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and
the harness from source with sbt (offline) into the checkout; later runs
reuse that build while the sources are unchanged. Each run gets its own
scratch directory (tmpdir, Spark local dir, warehouse, stages, inputs)
under the build directory and removes it afterwards. The last line of
standard output is the result object; the full record of the run (run
context, per-op latencies, checks, spans) goes to
`<build dir>/perfbench/results/`.

Other modes, for maintaining `workloads.json`:
    --mode record     check pass only; print each op's rows and content hash
    --mode stagemap   print which stage builders each listed query reads
"""

import argparse
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
DEADLINE_S = 170  # the harness must finish inside the 180 s a run may take
BUILD_DEADLINE_S = 850

# Spark on JDK 17 outside spark-submit needs the same module opens the
# repository's build passes to forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env(build):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(build, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, cwd, env, deadline, stdout, stderr):
    """Run cmd in its own process group and wait for it; kill the group at
    the deadline, or when this script is told to stop."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            start_new_session=True)

    def kill_group():
        # SIGTERM first, so the JVM's shutdown hooks clean up; then SIGKILL
        for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, None)):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                return
            if grace:
                try:
                    proc.wait(timeout=grace)
                except subprocess.TimeoutExpired:
                    pass

    def on_signal(signum, _frame):
        kill_group()
        proc.wait()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        proc.wait(timeout=max(1, deadline - time.time()))
        return proc.returncode
    except subprocess.TimeoutExpired:
        return None
    finally:
        kill_group()  # on a timeout, and any stragglers the child left
        proc.wait()
        for s, h in previous.items():
            signal.signal(s, h)


def classpath(build):
    """Build graft and the harness if the sources changed; the runtime classpath."""
    fp = source_fingerprint()
    cp_file = os.path.join(build, f"classpath-{fp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), fp
    os.makedirs(build, exist_ok=True)
    log = os.path.join(build, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"],
                         HERE, sbt_env(build), time.time() + BUILD_DEADLINE_S, out, out)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    # the classpath is the one output line without an sbt log prefix
    cps = [l for l in lines if not l.startswith("[") and "perfbench" in l]
    if rc != 0 or not cps:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); log in {log}")
    cp = cps[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp, fp


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--mode", choices=["bench", "record", "stagemap"], default="bench")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}; run from the root of a graft checkout")
    spec_path = os.path.join(HERE, "workloads.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; one of {sorted(spec['workloads'])}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    wanted = {m["name"]: m["unit"] for m in
              declared["per_layer" if args.trace else "end_to_end"]}

    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp, fp = classpath(build)
    build_s = time.time() - start
    # the run deadline starts after the build: only a first run builds
    deadline = time.time() + DEADLINE_S

    work = os.path.join(build, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(build, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    # a fixed, pre-touched heap: the resident set then reads heap plus
    # native memory, instead of however far the collector grew the heap
    # -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp]
    if args.mode == "stagemap":
        workload = spec["workloads"][args.workload]
        if workload["kind"] != "queries":
            fail(f"{args.workload} runs no queries, so it reads no stages")
        java += ["perfbench.StageMap", os.path.join(HERE, spec["data"]), work] + workload["ops"]
    else:
        java += ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--mode", args.mode, "--spec", spec_path, "--work", work, "--out", out,
                 "--commit", commit() or f"source-{fp}"]
    log = os.path.join(build, "last-run.log")
    try:
        with open(log, "w") as err:
            proc_out = os.path.join(work, "stdout.txt")
            with open(proc_out, "w") as so:
                rc = run_bounded(java, ROOT, os.environ.copy(), deadline, so, err)
            with open(proc_out) as fh:
                lines = fh.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"{args.workload} did not finish in {DEADLINE_S} s; log in {log}")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-20:]))
        fail(f"{args.workload} exited with {rc}; log in {log}")
    if args.mode != "bench":
        print("\n".join(lines))
        return
    result = json.loads(lines[-1])
    if set(result["metrics"]) != set(wanted) or any(
            result["metrics"][n]["unit"] != u for n, u in wanted.items()):
        fail(f"metrics {sorted(result['metrics'])} do not match BENCHMARK.json {sorted(wanted)}")
    print("\n".join(lines[:-1]))
    if build_s > 5:
        print(f"[perfbench] build took {build_s:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
