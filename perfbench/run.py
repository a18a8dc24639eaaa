#!/usr/bin/env python3
"""Fixed-work benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 20 --trace 0

Workloads: sketch_build and sketch_merge (see BENCHMARK.json and
perfbench/README.md). The first run in a checkout compiles the engine's
sources through the checkout's own build, then the benchmark
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The benchmark itself is a plain `java` launch of perfbench.Main
on local[k], k = min(2, cores).

Prints a per-metric table on stderr and, as the last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and the
full span trace is written to perfbench/out/trace_<workload>_seed<n>.json.
Exits non-zero, without a result line, if the engine sources are missing or
the build fails; exits 1, after the result line, if any op or correctness
check failed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("sketch_build", "sketch_merge")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175
HEAP = "3g"
# What Spark's launcher adds for JDK 17 (JavaModuleOptions), as in build.sbt.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(code, msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    or interruption, and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    try:
        rc, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                             "-Dsbt.server.autostart=false", "writeClasspath"],
                            BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        die(3, "build timed out")
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(out[-4000:])
        die(3, f"build failed (rc={rc})")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def java_cmd(args, work):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # two task threads leave the other cores of a 4-core box to the client
    # thread, the JIT compilers and the GC; with four, the same ops took ~20%
    # more task CPU time
    cpus = min(2, os.cpu_count() or 1)
    # no hsperfdata file in the system temp directory: the run writes only
    # inside the checkout
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"] + opens +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
            "--work", work])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        die(2, f"engine sources not found at {ENGINE_SRC}; run from a checkout root")

    # SIGTERM unwinds through run_group, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        rc, out = run_group(java_cmd(args, work), RUN_TIMEOUT_S,
                            stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        die(4, f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        die(5, f"benchmark JVM exited {rc} without a result line")
    for name, m in result["metrics"].items():
        print(f"[perfbench] {args.workload:13s} {name:40s} {m['value']:>16.6g} {m['unit']}",
              file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
