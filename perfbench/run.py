#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <bag_etl|graph_loops|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt when a source
file changed since the last build (the classpath is cached under
perfbench/harness/target/), then runs the harness JVM once. The harness
prints the run record as one JSON line and, as the last stdout line, the
result object {"correct", "attempted", "failed", "metrics"}. Scratch data
goes to perfbench/.work/ and is removed on exit; full records land in
perfbench/out/.

    --record <file>   write the observed output fingerprints to <file>
                      instead of checking them (done once per program
                      change that is meant to change results)
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
HARNESS = os.path.join(HERE, "harness")
BUILD_INFO = os.path.join(HARNESS, "target", "perfbench-build.json")
WORKLOADS = ("bag_etl", "graph_loops", "query_mix")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose change calls for a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp():
    h = hashlib.sha1()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The harness runtime classpath, rebuilding first if sources changed."""
    stamp = source_stamp()
    try:
        with open(BUILD_INFO) as f:
            info = json.load(f)
        if info["stamp"] == stamp:
            return info["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log("building program and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=sbt_env(), stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout[-4000:])
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"[perfbench] build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD_INFO), exist_ok=True)
    with open(BUILD_INFO, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"build took {time.time() - t0:.1f} s")
    return cp


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_harness(args, cp, deadline):
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work,
        "--data", os.path.join(HERE, "data", "sf0.01"), "--cores", str(cores),
        "--fingerprints", os.path.join(HERE, "fingerprints.json"),
        "--out", os.path.join(HERE, "out"), "--git-sha", git_sha()]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("[perfbench] harness timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("[perfbench] no program sources beside perfbench/; nothing to measure")
    cp = classpath()
    code, out = run_harness(args, cp, time.time() + RUN_TIMEOUT_S)
    if code != 0:
        raise SystemExit(f"[perfbench] harness exited {code}")
    if args.record:
        return
    lines = out.rstrip("\n").split("\n")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("[perfbench] harness printed no result line")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
