#!/usr/bin/env python3
"""Build and run the benchmark for one workload.

    python3 perfbench/run.py --workload tsne_bh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine's
sources (src/main/scala) together with the benchmark in perfbench/ with sbt
and records the classpath under .bench_build/. The build ends with a fixed
training run, one tiny pass of each workload, whose loaded classes go into
a JVM class-data archive that every later run starts from. Later runs
reuse the build while the sources are unchanged. A rebuild also empties
the untraced wall times
and per-seed output digests that earlier runs left there, so those always
come from the current build. The benchmark's human-readable lines go to
stdout, and its last stdout line is the result object, which this script
prints last.
"""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
# the benchmark's classes go in a jar: class-data archives skip directories
JAR = os.path.join(BENCH, "target", "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
# results of earlier runs that are only comparable within one build
PER_BUILD = [os.path.join(BUILD, d) for d in ("walls", "digests")]
# a run must end well inside 180 s; only a first run that builds takes longer
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 175
HEAP = "3g"

JDK_OPENS = [
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


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project"),
                os.path.abspath(__file__)):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if not d.split(os.sep)[-1] == "target" and os.sep + "target" not in d)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or interrupt, and always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    digest = sources_digest()
    if all(os.path.exists(p) for p in (CLASSPATH, STAMP, JAR, ARCHIVE)):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    for d in PER_BUILD:
        shutil.rmtree(d, ignore_errors=True)
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "package", "export Runtime/fullClasspath"]
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-6000:])
        fail("build failed")
    cps = [l.strip() for l in out.splitlines() if os.pathsep in l and ".jar" in l]
    if not cps or not os.path.exists(JAR):
        sys.stderr.write(out[-3000:])
        fail("build printed no classpath")
    cp = os.pathsep.join(JAR if e == CLASSES else e for e in cps[-1].split(os.pathsep))
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    work = os.path.join(BUILD, "training")
    try:
        code, out = run_java(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                             ["perfbench.Training", work], work, BUILD_TIMEOUT_S,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        sys.stderr.write(out[-6000:])
        fail("the training run for the class-data archive failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp


def run_java(cp, jvm_args, args, work, timeout, **kw):
    """Run a benchmark main class with its scratch space under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + jvm_args + ["-cp", cp] + args)
    # Spark takes its scratch directories from this variable before its
    # own setting, so point both inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    return run_group(cmd, timeout, text=True, env=env, **kw)


def main(argv):
    if not os.path.isdir(ENGINE):
        fail("engine sources (src/main/scala/graft) not found; run from the root of a checkout")
    if not os.environ.get("SPARK_HOME"):
        # the distribution that provides spark-submit
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME to the Spark distribution")
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    cp = build()
    work = os.path.join(BUILD, "work", str(os.getpid()))
    try:
        code, out = run_java(cp, [f"-XX:SharedArchiveFile={ARCHIVE}"],
                             ["perfbench.Main"] + argv + ["--work", work, "--out", BUILD],
                             work, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l)
    if code != 0 or not lines:
        fail(f"benchmark exited with code {code}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("the last output line is not a result object")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
