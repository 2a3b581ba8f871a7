"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own into .bench_build/perfbench/classes.

Run from the repository root: `python3 perfbench/build.py`. The Scala
compiler and Spark come from the Spark distribution's jar directory,
$SPARK_HOME/jars, or the one beside the `spark-submit` on PATH; nothing is
downloaded. A rebuild happens only when a source file changed.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars():
    """The first Spark distribution that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str((Path(d) / "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        if list((Path(home) / "jars").glob("scala-compiler-*.jar")):
            return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler; set SPARK_HOME")


BUILD = Path(".bench_build") / "perfbench"
CLASSES = BUILD / "classes"
PROGRAM_SOURCES = Path("src/main/scala")
PROGRAM_RESOURCES = Path("src/main/resources")
BENCH_SOURCES = Path("perfbench/src")
JVM_OPTS = [
    "-Xss8m",
    "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
    # what spark-submit adds on JDK 17
    *[x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                  "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar")
      for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
]


def classpath(classes=None):
    jars = str(spark_jars() / "*")
    return jars if classes is None else f"{classes}{os.pathsep}{jars}"


def cores():
    return len(os.sched_getaffinity(0))


def sources():
    return sorted(PROGRAM_SOURCES.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))


def source_digest():
    h = hashlib.sha256()
    files = sources() + sorted(p for p in PROGRAM_RESOURCES.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Returns (classes directory, source digest), compiling if needed."""
    if not PROGRAM_SOURCES.is_dir() or not BENCH_SOURCES.is_dir():
        raise SystemExit("perfbench: run from the repository root; program sources not found")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp = BUILD / "classes.sha256"
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if CLASSES.is_dir() and stamp.exists() and stamp.read_text() == digest:
            return CLASSES, digest
        fresh = BUILD / "classes.new"
        shutil.rmtree(fresh, ignore_errors=True)
        fresh.mkdir()
        args = BUILD / "sources.txt"
        args.write_text("\n".join(str(p) for p in sources()) + "\n")
        print(f"perfbench: compiling {len(sources())} files", file=sys.stderr, flush=True)
        subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", classpath(), "scala.tools.nsc.Main",
             "-classpath", classpath(), "-d", str(fresh), "-nowarn",
             "-Ybackend-parallelism", str(min(4, cores())), f"@{args}"],
            check=True, stdout=sys.stderr, timeout=800)
        if PROGRAM_RESOURCES.is_dir():
            shutil.copytree(PROGRAM_RESOURCES, fresh, dirs_exist_ok=True)
        shutil.rmtree(CLASSES, ignore_errors=True)
        fresh.rename(CLASSES)
        stamp.write_text(digest)
        return CLASSES, digest


if __name__ == "__main__":
    print(build()[0])
