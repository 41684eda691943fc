"""Build file of the benchmark: compiles graft's sources (src/main/scala)
and the benchmark's own (perfbench/src) with the Scala compiler that
ships in Spark's jars directory into .bench_build/perfbench.jar, then
records an application class-data-sharing archive (.bench_build/app.jsa)
by running the self-test once with -XX:ArchiveClassesAtExit.

The archive holds the parsed and verified classes of Spark and graft, so
a run's JVM maps them instead of loading thousands of classes from jars: this
halves Spark session start (about 8 s to 4 s on a 4-vCPU VM) and the
class-loading part of the cold operation, which were the widest-spread
parts of a run. A run whose JVM cannot use the archive falls back to
loading classes from the jars (-Xshare:auto).

Run from the repository root: `python3 perfbench/build.py`. A stamp of
every source's path and content skips the build when nothing changed;
a file lock keeps two concurrent runs from building at once.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
JAR = "perfbench.jar"
ARCHIVE = "app.jsa"

# Spark on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the one build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open("build.sbt").read() if os.path.exists("build.sbt") else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = m.group(1) if m else "jars"
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler in {jars}: set SPARK_HOME")
    return jars


def driver_mem():
    """Half the host memory in GiB, clamped to 2..8 (the tier-1 formula)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def java_command(root, scratch, main_args, share):
    """The JVM command of a run: the flags of the repository's forked
    `run`, an explicit jar class path (the archive is valid only for the
    class path it was recorded with) and `share`, the archive flag."""
    out = os.path.join(root, BUILD_DIR)
    cp = [os.path.join(out, JAR)] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    cmd = ["java", f"-Xmx{driver_mem()}", "-XX:ReservedCodeCacheSize=1g", share,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={scratch}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join(cp), "perfbench.Main", "--scratch", scratch] + main_args


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(root, d)):
            raise BuildError(f"missing source directory {d}: run from the repository root")
        found += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_jar(out, files):
    classes = os.path.join(out, "classes.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + args]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise BuildError(f"scalac failed with exit code {done.returncode}")
    jar = os.path.join(out, JAR)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)


def record_archive(root, out):
    """Runs the self-test once, dumping every class it loaded."""
    archive = os.path.join(out, ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    scratch = tempfile.mkdtemp(prefix="cds-", dir=out)
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = java_command(root, scratch, ["--selftest"], f"-XX:ArchiveClassesAtExit={archive}")
    try:
        code = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                              timeout=600).returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 and os.path.exists(archive):
        os.remove(archive)
    if not os.path.exists(archive):
        print(f"perfbench build: no class-data archive (self-test: {code}); "
              "runs load classes from the jars", file=sys.stderr)


def build(root):
    """Builds if the sources changed; returns the JVM archive flag."""
    files = sources(root)
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    want = stamp(files)
    stamp_file = os.path.join(out, "build.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
            if os.path.exists(stamp_file):
                os.remove(stamp_file)
            compile_jar(out, files)
            record_archive(root, out)
            with open(stamp_file, "w") as fh:
                fh.write(want)
    archive = os.path.join(out, ARCHIVE)
    return f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive) else "-Xshare:auto"


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
