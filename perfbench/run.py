#!/usr/bin/env python3
"""ETD pipeline benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark package (perfbench/build.sbt: the program in
perfbench/src plus the repo's src/main/scala/graft/etd) with sbt into
.bench_build, unless a build of the same sources is already there, then runs
perfbench.Main in one JVM with the same arguments. Everything it writes stays
under .bench_build. Standard output holds the JVM's environment stamp, then,
last, the JSON result. Exits non-zero, printing no result, when the build or
the JVM fails.
"""
import ctypes
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ETD_SRC = os.path.join(ROOT, "src", "main", "scala", "graft", "etd")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "sources.sha256")
# A run must end within 180 s; past this it is stopped and fails.
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the repo's build.sbt
# passes the same list to its forked mains).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_digest():
    h = hashlib.sha256()
    files = []
    for top in (HERE, ETD_SRC):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, or else the first spark-submit on PATH that sits in a
    Spark installation (one with a jars directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


def build(digest, home):
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=home)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true"] + opts + ["compile", "Compile/copyResources"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def commit(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except OSError:
        pass
    return "sources-sha256:" + digest[:16]


def heap():
    """Half the machine's memory, clamped to 2..8 GB (the repo's rule)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def die_with_parent():
    """Have the kernel kill the JVM if this process dies first."""
    try:
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def main():
    home = spark_home()
    jars = os.path.join(home, "jars")
    if not os.path.isdir(ETD_SRC) or not os.path.isdir(jars):
        sys.exit("perfbench: needs %s and a Spark installation (SPARK_HOME)"
                 % ETD_SRC)
    digest = sources_digest()
    build(digest, home)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx" + heap(), "-Djava.io.tmpdir=" + tmp,
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main"] + sys.argv[1:])
    stamp, result = run_jvm(cmd, dict(os.environ, PERFBENCH_COMMIT=commit(digest)))
    print(stamp)
    print(json.dumps(result))


def run_jvm(cmd, env):
    """Run the JVM; returns its environment stamp line and parsed result."""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, preexec_fn=die_with_parent)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.exit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2 or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)
    return lines[-2], json.loads(lines[-1])


if __name__ == "__main__":
    main()
