#!/usr/bin/env python3
"""Builds the program and the benchmark from source, offline.

Compiles `src/main/scala` (the program) and `perfbench/src` (the benchmark)
into one jar with the Scala compiler that ships among the Spark jars, so no
sbt, network or package cache is needed. It then runs `graftbench.Train`
(one set-up and one op of each workload, and each graph query once) in a
JVM that archives every class it loaded (AppCDS); the benchmark JVMs map
that archive instead of loading and verifying the Spark classes one by one,
which takes about 4 s off each run's set-up. A hash of every source file is kept next to the jar; an
unchanged tree is not rebuilt.

Usage, from the repository root:  python3 perfbench/build.py
Prints the jar on the last line of its output.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
OUT = ".bench_build/graftbench"
HERE = os.path.dirname(os.path.abspath(__file__))
TRAIN_TIMEOUT_S = 600

# A fixed, pre-touched heap: the JVM's resident memory is then the heap plus
# what it holds outside the heap, not an artefact of when G1 chose to grow
# the heap, which made peak RSS vary by a third between identical runs.
HEAP = "2g"

# Spark on JDK 17 needs these when started outside spark-submit (the same
# list the sbt build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    resources = sorted(f for f in glob.glob("src/main/resources/**", recursive=True) if os.path.isfile(f))
    return main, bench, resources


def java_command(jar, work, main, args, archive):
    """The JVM command of a benchmark process. `archive` is ("dump", path)
    while building, ("use", path) when running."""
    # dumping warns of every class it skips (signed jars, generated classes)
    flag = {"dump": "-Xlog:cds=off -XX:ArchiveClassesAtExit=", "use": "-XX:SharedArchiveFile="}[archive[0]]
    # -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
    return (["java", "-XX:-UsePerfData"] + (flag + archive[1]).split() + ["-Dfile.encoding=UTF-8",
             f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            # CDS archives classes from jars only, so the class path holds no directory
            + ["-cp", os.pathsep.join([os.path.abspath(jar), os.path.join(SPARK_JARS, "*")]), main]
            + args)


def java_env(work):
    return dict(os.environ, SPARK_GRAFT_LOCAL_DIR=f"{work}/spark-local")


def archive_path():
    return os.path.abspath(os.path.join(OUT, "classes.jsa"))


def train(jar):
    """Runs one set-up and one op of each workload in a JVM that archives the
    classes it loaded."""
    work = os.path.abspath(os.path.join(OUT, "train"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{work}/spark-local")
    print("[perfbench] archiving the classes of one op of each workload", file=sys.stderr, flush=True)
    cmd = java_command(jar, work, "graftbench.Train", [work], ("dump", archive_path()))
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=java_env(work),
                            timeout=TRAIN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        rc = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(archive_path()):
        raise BuildError(f"class archive run failed (exit {rc})")


def build():
    """Returns the jar, compiling and archiving first if any source changed."""
    main, bench, resources = sources()
    if not main:
        raise BuildError("no program sources under src/main/scala; run from the repository root")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {SPARK_JARS}")
    digest = hashlib.sha256()
    # build.py holds the JVM flags the class archive was made with
    for f in main + bench + resources + [os.path.join(HERE, "build.py")]:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    jar = os.path.join(OUT, "graftbench.jar")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(jar) and os.path.exists(archive_path()) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return jar
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    jars = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-encoding", "UTF-8", "-classpath", jars, "-d", classes] + main + bench
    print(f"[perfbench] compiling {len(main)} program and {len(bench)} benchmark sources",
          file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise BuildError("compilation failed")
    for f in resources:
        dest = os.path.join(classes, os.path.relpath(f, "src/main/resources"))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copy(f, dest)
    shutil.make_archive(jar[:-len(".jar")], "zip", classes)
    os.rename(jar[:-len(".jar")] + ".zip", jar)
    shutil.rmtree(classes)
    train(jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
