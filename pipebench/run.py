#!/usr/bin/env python3
"""Taxi-pipeline benchmark: builds the library and the harness from the
checkout's sources, runs one seeded workload in one JVM and prints the
result object as the last line of stdout.

Usage (from the repository root):

    python3 pipebench/run.py --workload pipeline|gates \
        --seed N --seconds S --trace 0|1

The build runs only when a source or build file changed since the last
one (digest in pipebench/target/build.stamp). Everything the run writes
stays under pipebench/ (work/ for data and records, target/ for classes).
The JVM's stderr goes to pipebench/work/logs/; its tail is echoed when the
run fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"
YOUNG = "1g"

# Spark 4 on JDK 17 outside spark-submit (same list as the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[pipebench] {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        files.append(os.path.join(base, "project", "build.properties"))
    return sorted(f for f in files if os.path.isfile(f))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the benchmark."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout} s and was killed")
    return proc.returncode


def build():
    """sbt build of the root library + harness; returns the classpath."""
    sources = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(sources):
        fail(f"library sources not found at {sources}: run from a full checkout")
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    want = digest(build_inputs())
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == want:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log = os.path.join(WORK, "logs", "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "writeClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); full log in {log}")
    with open(stamp, "w") as f:
        f.write(want + "\n")
    with open(cp_file) as c:
        return c.read().strip()


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=["pipeline", "gates"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--mode", default="run", choices=["run", "goldens"],
                   help="goldens: rewrite goldens/gates.json (see confirm_goldens.py)")
    a = p.parse_args()

    expected = declared_metrics(a.trace == 1) if a.mode == "run" else {}
    cp = build()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    # fixed heap and young generation: the resident high-water mark then
    # follows what the program keeps live, not G1's adaptive sizing
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p_ in ADD_OPENS for x in ("--add-opens", f"{p_}=ALL-UNNAMED")]
           + ["-cp", cp, "pipebench.Main",
              "--mode", a.mode, "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", WORK, "--home", HERE])
    # two malloc arenas: with glibc's default of one per thread, the native
    # part of the resident high-water mark depends on which of Spark's
    # threads happened to allocate (a 60-190 MB spread between runs)
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    log = os.path.join(WORK, "logs",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    out_file = log + ".stdout"
    with open(log, "w") as err, open(out_file, "w") as out:
        rc = run_bounded(cmd, RUN_TIMEOUT_S if a.mode == "run" else 1200, cwd=ROOT, env=env,
                         stdout=out, stderr=err, stdin=subprocess.DEVNULL)
    with open(out_file) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited {rc}; log in {log}")
    if a.mode != "run":
        return
    result = json.loads(lines[-1]) if lines else None
    if not result or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"no result object from the JVM; log in {log}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        fail(f"metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(expected.items())}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
