#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload rounds_sf0.01|rows_sf0.1|edinet_etl \
        --seed N --seconds S --trace 0|1

The first run builds the engine's main sources together with the harness
(perfbench/build.sbt) with sbt; later runs reuse the classes while the
sources are unchanged. Each run is one fresh JVM (perfbench.Main) whose
scratch state lives under .perfbench/ and is removed afterwards. With
--trace 1 the spans and per-op layer metrics are written to
.perfbench/trace/<workload>-seed<N>.jsonl.

The last line of stdout is the result JSON. The exit code is 0 only when
every op of the run produced its expected output.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(WORK, "build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")

WORKLOADS = ("rounds_sf0.01", "rows_sf0.1", "edinet_etl")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    """Compile with sbt unless the classes match the current sources;
    returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and os.path.isdir(cp.split(os.pathsep)[0]):
                return cp
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    out_file = os.path.join(BUILD, "sbt.log")
    os.makedirs(BUILD, exist_ok=True)
    with open(out_file, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime / fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_file) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (sbt exit {rc})")
    cp = [l for l in lines if "perfbench" in l and "classes" in l and ":" in l
          and not l.startswith("[")][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def commit_id():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "source-sha256:" + source_stamp()[:16]


def java_cmd(cp, main, args, state):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it outside the checkout
    # -Xmx only: the heap grows with what the program holds, so the peak
    # resident set follows it
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, main, *args]


def check_checkout():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        raise SystemExit("no engine sources under src/main/scala/graft: "
                         "run from the root of a graft checkout")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    check_checkout()
    cp = build()
    state = os.path.join(WORK, f"run-{os.getpid()}")
    trace_file = os.path.join(WORK, "trace", f"{a.workload}-seed{a.seed}.jsonl")
    try:
        cmd = java_cmd(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--bench", BENCH, "--state", state, "--trace-file", trace_file,
            "--commit", commit_id()], state)
        rc = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
        rc = 3
    finally:
        shutil.rmtree(state, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
