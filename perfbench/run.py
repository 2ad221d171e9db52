#!/usr/bin/env python3
"""Benchmark launcher for the graft KG engine.

Run from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

or, to write the query-mix digest file from a graft.Verify dump that
test-oracle/check_oracle.py passed (its output saved in LOG):

    python3 perfbench/run.py --gen-expected DUMP --oracle-log LOG

Builds the engine and the harness from source with sbt (offline) when the
sources changed since the last build, then runs the harness in one JVM at
local[4]. Everything the harness prints goes to stdout; its last line is the
JSON result. sbt and Spark logs go to stderr. Exits non-zero without a
result when the engine sources are missing or the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # the harness JVM is killed past this
WORKLOADS = ["kg_build", "query_mix"]

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the list matches the root build's javaOptions.
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


def source_files():
    """Every file the build reads: the engine's build and sources, the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(set(files))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, env, stdout):
    """Runs cmd in its own process group; kills the group on SIGTERM/SIGINT."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        sys.exit(124)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    return p, kill


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    s = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == s:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            "-Djava.io.tmpdir=" + os.path.join(BUILD_DIR, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    p, kill = run_child(cmd, HERE, env, subprocess.PIPE)
    try:
        out, _ = p.communicate(timeout=840)
    except subprocess.TimeoutExpired:
        kill()
    text = out.decode(errors="replace")
    sys.stderr.write(text)
    if p.returncode != 0:
        fail(f"build failed (sbt exit {p.returncode})", 3)
    lines = [l for l in text.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(s + "\n")
    return cp


def clean_stale_work():
    """Removes work dirs left by harness processes that no longer run."""
    import shutil
    if not os.path.isdir(WORK_DIR):
        return
    for d in os.listdir(WORK_DIR):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_DIR, d), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--gen-expected", metavar="DUMP", help="write the query-mix digest file from this dump")
    ap.add_argument("--oracle-log", metavar="LOG", help="check_oracle.py's output on DUMP")
    args = ap.parse_args()
    if args.gen_expected:
        if not args.oracle_log:
            ap.error("--gen-expected needs --oracle-log")
        harness = ["--gen-expected", os.path.abspath(args.gen_expected),
                   "--oracle-log", os.path.abspath(args.oracle_log)]
    elif args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    else:
        harness = ["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources (build.sbt, src/main/scala/graft) are missing")

    cp = build()
    clean_stale_work()
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx3g", "-XX:+ExitOnOutOfMemoryError",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + harness)
    p, _ = run_child(cmd, ROOT, dict(os.environ), subprocess.PIPE)
    # the digest-file run covers the whole headline list and has no limit
    watchdog = threading.Timer(RUN_LIMIT_S, lambda: os.killpg(p.pid, signal.SIGKILL))
    watchdog.daemon = True
    if not args.gen_expected:
        watchdog.start()
    last = ""
    for raw in p.stdout:
        line = raw.decode(errors="replace")
        sys.stdout.write(line)
        sys.stdout.flush()
        if line.strip():
            last = line.strip()
    rc = p.wait()
    watchdog.cancel()
    if rc != 0:
        fail(f"harness exited with {rc}", rc)
    if args.gen_expected:
        return
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("harness printed no result line", 4)


if __name__ == "__main__":
    main()
