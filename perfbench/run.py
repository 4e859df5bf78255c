#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <etl_daily|corpus_dedup|index_live> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first call builds the engine and
the benchmark from source with sbt (perfbench/build.sbt) and caches the
resulting class path under .bench_build/; later calls rebuild only when a
source or build file changed. The measurement runs in one JVM
(perfbench.Main); its stdout passes through, so the last line printed is
the result object. Exit status is non-zero when the build fails, a batch,
query or output check fails, or the run exceeds its time limit.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

WORKLOADS = ("etl_daily", "corpus_dedup", "index_live")
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = ["-Xms3g", "-Xmx3g"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    """The environment for sbt: offline resolution from the local caches,
    as the repository's own test command sets it, unless the caller
    already chose."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, cwd, timeout, capture, env=None):
    """Run `cmd` in its own process group; on timeout or on SIGTERM/SIGINT
    to this script, kill the whole group and wait for it. Returns
    (exit code or None on timeout, captured stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE if capture else None,
                            stderr=subprocess.STDOUT if capture else None,
                            text=True, start_new_session=True, env=env)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def on_signal(signum, _frame):
        stop()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        stop()
        return None, None


def sources(root):
    """Every file the build reads, in a stable order."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in sorted(os.walk(os.path.join(root, top))):
            files += [os.path.relpath(os.path.join(d, n), root)
                      for n in sorted(names)]
    return files


def fingerprint(root):
    h = hashlib.sha256()
    for f in sources(root):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Return (class path, JVM options), building when sources changed."""
    cache = os.path.join(root, BUILD_DIR, "build.json")
    fp = fingerprint(root)
    try:
        with open(cache) as fh:
            cached = json.load(fh)
        if cached["fingerprint"] == fp:
            return cached["classpath"], cached["java_options"]
    except (OSError, ValueError, KeyError):
        pass
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath", "show javaOptions"]
    code, out = run_group(cmd, os.path.join(root, "perfbench"),
                          BUILD_TIMEOUT_S, capture=True, env=sbt_env())
    if code is None:
        fail("build timed out")
    lines = out.splitlines()
    if code != 0:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]")) + "\n")
        fail("build failed")
    cp = [l for l in lines if "perfbench/target" in l and not l.startswith("[")]
    opts = [l[len("[info] * "):].strip() for l in lines
            if l.startswith("[info] * ")]
    if not cp or not opts:
        fail("could not read the class path from sbt")
    classpath = cp[-1].strip()
    java_options = [o for o in opts if not o.startswith("-Xmx")]
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath,
                   "java_options": java_options}, fh)
    return classpath, java_options


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    for f in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, f)):
            fail(f"{f} not found: run from the root of a repository checkout")

    classpath, java_options = build(root)
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}"] + java_options +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(root, BUILD_DIR, "work")])
    code, _ = run_group(cmd, root, RUN_TIMEOUT_S, capture=False)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    sys.exit(code)


if __name__ == "__main__":
    main()
