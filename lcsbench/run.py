#!/usr/bin/env python3
"""Run one lcsbench workload against the engine built from this checkout.

    python3 lcsbench/run.py --workload lifecycle --seed 1 --seconds 12 --trace 0
    python3 lcsbench/run.py --check-gen --seed 1

The first run builds the engine and the harness with sbt (offline, from
the dependency cache) into the checkout and records the classpath under
.bench_build/; later runs reuse it until a source file changes. Each run
is one JVM; its last stdout line is the result JSON. Build output and
Spark logs go to stderr.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORES = min(4, os.cpu_count() or 1)
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_files():
    """Every file the build reads from this checkout."""
    roots = [
        (ROOT, ["build.sbt"]), (os.path.join(ROOT, "project"), None),
        (os.path.join(ROOT, "src", "main"), None),
        (HERE, ["build.sbt"]), (os.path.join(HERE, "project"), None),
        (os.path.join(HERE, "src", "main"), None),
    ]
    out = []
    for base, names in roots:
        if names is not None:
            out += [os.path.join(base, n) for n in names
                    if os.path.isfile(os.path.join(base, n))]
            continue
        for d, subdirs, files in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def digest():
    h = hashlib.sha256(ROOT.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("lcsbench: no engine sources (src/main/scala) in this checkout")
    want = digest()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's global state and temp files stay in the checkout; only the
    # launcher and the dependency cache are read from the home directory
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
    # an sbt repositories override, where one is configured, names the
    # mirror the offline dependency cache was filled from
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export lcsbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.exit("lcsbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-gen", action="store_true")
    a = ap.parse_args()
    if not a.check_gen and a.workload not in ("lifecycle", "serve"):
        sys.exit("lcsbench: --workload must be lifecycle or serve")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        sys.exit("lcsbench: BENCHMARK.json not found at the checkout root")
    cp = build()
    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "lcsbench.Main",
            "--seed", str(a.seed), "--work", work, "--cores", str(CORES),
            "--benchmark", bench_json])
    if a.check_gen:
        cmd.append("--check-gen")
    else:
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write("lcsbench: run timed out\n")
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
