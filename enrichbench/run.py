#!/usr/bin/env python3
"""Enrichment benchmark: build the library with the benchmark, then run one
workload and print its metrics as a JSON line (the last line of stdout).

Usage, from the root of the repository:

    python3 enrichbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: enrich_inline, enrich_paced, crash_resume, evidence_enrich.
`python3 enrichbench/run.py --test` runs the benchmark's own tests.
The first run compiles the library sources (src/main/scala) together with
enrichbench/src with sbt, offline; later runs reuse the build while no
source changed. Everything the build and the runs write stays inside the
repository: enrichbench/target, enrichbench/work and the build directory
($CARGO_TARGET_DIR, default .bench_build).
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# packages Spark needs opened on JDK 17 outside spark-submit; build.sbt
# reads the same file for the tests
with open(os.path.join(HERE, "java-opens.txt")) as _f:
    JAVA_OPENS = [l.strip() for l in _f if l.strip()]


# The benchmark's JVM. With the default tiered JIT the C2 compiler was
# still compiling Spark's driver code 40 s into a process, beside the run,
# so run times kept falling (by 28-40% over five or six crash_resume runs)
# and a process's median depended on how far its warm-up had got. With C1
# alone they were no slower, and after the warm-up runs they fall by about
# a tenth more on crash_resume and not at all on enrich_inline. C1 needs a
# larger code cache than its default 48 MB: Spark's generated code filled
# that, setting off bursts of recompilation. A fixed-size parallel-GC
# heap keeps heap resizing out of the runs.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
             "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]


def jvm_cpus():
    """CPUs the benchmark's JVM sees, and so Spark's local[n]: half of
    those this process may run on. On 4 CPUs, local[4] was at most a tenth
    faster than local[2] on enrich_inline, and its run times spread three
    times as much within a process: the task, client-pool, GC and compiler
    threads then outnumber the cores."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def fail(msg, code=2):
    print(f"enrichbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "java-opens.txt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt(tasks, **kw):
    """Run sbt offline in the benchmark's directory, with its global state
    kept in the build directory."""
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={build_dir}/sbt-global",
            f"-Dsbt.ivy.home={build_dir}/ivy",
            f"-Djava.io.tmpdir={build_dir}/tmp", "-XX:-UsePerfData", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + tasks,
                          cwd=HERE, env=env, text=True, **kw)


def build():
    """Compile with sbt unless the recorded build matches the sources;
    return the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "bench-build.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            old_stamp, cp = (f.read().split("\n", 1) + [""])[:2]
        if old_stamp == stamp and cp.strip():
            return cp.strip()
    try:
        p = sbt(["compile", "export Runtime/fullClasspath"],
                stdout=subprocess.PIPE, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    except FileNotFoundError:
        fail("sbt not found on PATH")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def main(argv):
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC)}: "
             "run from a checkout of the repository")
    if argv == ["--test"]:
        return sbt(["test"]).returncode
    if "--workload" not in argv or "--seed" not in argv:
        fail("usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>")
    cp = build()
    work = os.path.join(HERE, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           JVM_FLAGS + [f"-XX:ActiveProcessorCount={jvm_cpus()}",
                        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "enrichbench.Main"] +
           argv + ["--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    except KeyboardInterrupt:
        proc.kill()
        proc.wait()
        raise


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
