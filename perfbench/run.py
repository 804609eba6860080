#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine and
the harness (`perfbench/build.sbt`, offline sbt) into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`); later runs reuse the build
while the sources are unchanged. Each run starts one JVM with the harness
(`perfbench.Main`), which generates its inputs from the seed, measures the
workload, checks the outputs and prints one JSON result line. This script
passes the harness's other lines through and prints the result line last.
Everything a run writes stays inside the checkout.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("stream_latency", "pipeline_epochs")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when a session starts outside spark-submit
# (the same list as the root build's forked runs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of every file the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"),
            os.path.join(root, "perfbench", "src", "main"),
            os.path.join(root, "perfbench", "build.sbt"),
            os.path.join(root, "perfbench", "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def git_rev(root):
    """The checkout's commit, when it is a git repository at all."""
    try:
        p = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           cwd=root, timeout=10, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        out = p.stdout.split()
        # a checkout nested in some other repository is not that repository
        if p.returncode == 0 and len(out) == 2 and \
                os.path.realpath(out[0]) == os.path.realpath(root):
            return out[1]
        return "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def spark_jars(root):
    """The Spark jars to compile against: `$SPARK_HOME/jars`, else those of
    the `spark-submit` on the PATH, else the root build's `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars found: set SPARK_HOME")


def build(root, bdir, digest):
    """Compile engine + harness once per source digest; return the classpath."""
    stamp = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env["PERFBENCH_TARGET"] = os.path.join(bdir, "sbt")
    env["PERFBENCH_SPARK_JARS"] = spark_jars(root)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's temporary files, its native-library cache, the launcher's
    # lock and every JVM's perf data (the launch script's version probe
    # included) out of the system directories
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djna.tmpdir={tmp}"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-Dsbt.boot.lock=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    cps = [l.strip() for l in out.splitlines()
           if os.pathsep in l and "scala-library" in l and not l.startswith("[")]
    if not cps:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft missing)")
    if shutil.which("java") is None:
        fail("java not found")
    bdir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bdir, exist_ok=True)
    digest = source_digest(root)
    cp = build(root, bdir, digest)

    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    # a fixed heap: one that grows from its small initial size collects
    # more often early in a run, which kept trigger times falling for 30 s
    # and more. A fixed young generation keeps the collections at one
    # cadence (every 2-3 s at the stream's ~400 MB/s), so the share of
    # triggers a collection lands in is the same in every run
    cmd = (["java", "-Xmx3g", "-Xms3g", "-Xmn1g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--traces", os.path.join(bdir, "traces"),
              "--rev", digest])
    try:
        code, out, err = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                                   stdout=subprocess.PIPE,
                                   stderr=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-run " + json.dumps({
        "git_rev": git_rev(root), "source_digest": digest,
        "command": sys.argv[1:]}))
    lines = out.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if code != 0 or not results:
        sys.stderr.write(err[-6000:])
        if results:  # a failed output check: report it, then fail the run
            print(results[-1])
        sys.exit(code or 1)
    print(results[-1])


if __name__ == "__main__":
    main()
