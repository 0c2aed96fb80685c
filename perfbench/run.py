#!/usr/bin/env python3
"""Run one benchmark workload against the code in this checkout.

    python3 perfbench/run.py --workload generate|chart --seed N --seconds S --trace 0|1

Run it from the root of the repository. The first run builds the library and
the benchmark with sbt (perfbench/build.sbt depends on the root build) and
keeps the classpath in .bench_build/; later runs rebuild only when a source
or build file changed. The measuring program is perfbench.Main on a plain
JVM; its last stdout line, the JSON result, is the last line printed here.

Extra options for checking the benchmark itself: --scale toy (tiny sizes)
and --corrupt 1 (one expected value is made wrong, so the output check
must fail).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(os.getcwd(), ".bench_build")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "stamp.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Hash of every file the build reads: the library's main sources, the
    benchmark's sources and both builds' definitions."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx3g"
    env["SBT_OPTS"] = opts.strip()
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build():
    stamp = sources_stamp()
    if os.path.isfile(CLASSPATH_FILE) and os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH_FILE) as c:
                    return c.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        code, out, _ = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=sbt_env(),
                                   stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as f:
        f.write(out)
    cp = [l for l in out.splitlines() if "perfbench" in l and l.count(":") > 2 and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write(out[-4000:])
        fail("build failed (see .bench_build/build.log)")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["generate", "chart"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--scale", default="full", choices=["full", "toy"])
    ap.add_argument("--corrupt", default="0", choices=["0", "1"])
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a checkout of the repository")
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    classpath = build()

    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(BUILD_DIR, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", a.scale, "--corrupt", a.corrupt]
    # Spark lets SPARK_LOCAL_DIRS override spark.local.dir; the program sets
    # its scratch dir inside the checkout, so drop the override
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = os.path.join(BUILD_DIR, f"run-{a.workload}.log")
    try:
        with open(log, "w") as err:
            code, out, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=os.getcwd(), env=env,
                                       stdout=subprocess.PIPE, stderr=err, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run timed out after {RUN_TIMEOUT_S} s (log: {log})", 3)
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed with exit code {code} (log: {log})", 1)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
