"""Build file of the perfbench package.

Compiles the library's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships in
the Spark distribution, packs them with src/main/resources into one jar, and
records a class-data-sharing archive of the classes a run loads (a traced
training run of the ingest workload at the self-test size), which roughly
halves JVM and Spark start-up on a 4-core host. sbt is not used: it would write its caches
under the user's home directory, and the benchmark keeps every read and write
inside the checkout it runs in.

A stamp of every source file's path and content is kept in the build
directory, so a rebuild happens only when a source changes.

Usage: python3 perfbench/build.py      (prints the java command prefix)
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
SPARK_JARS = pathlib.Path(os.environ.get("SPARK_HOME", "SPARK_HOME-is-not-set")) / "jars"
SCALA_VERSION = "2.13.17"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed heap (no resizing between iterations) and the throughput collector
# that build.sbt also uses: the extraction kernel is allocation-heavy.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss4m"]


class BuildError(Exception):
    pass


def _sources():
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}; "
                             "run from the root of a checkout of the repository")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def _stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    h.update(SCALA_VERSION.encode())
    return h.hexdigest()


def spark_classpath():
    jars = sorted(SPARK_JARS.glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {SPARK_JARS}; set SPARK_HOME")
    return [str(j) for j in jars]


def java_command(classpath, work, extra=()):
    """The JVM command line every run (and the training run) uses."""
    cmd = ["java"] + JVM_FLAGS + list(extra)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        "-cp", os.pathsep.join(classpath),
        "graftbench.Main",
    ]


def _run(cmd, what):
    print(f"[perfbench] {what}", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"{what} exited with {r.returncode}")


def build():
    """Build if any source changed; return the java command prefix."""
    if not RESOURCES.is_dir():
        raise BuildError("missing src/main/resources")
    files = _sources()
    stamp = _stamp(files)
    stamp_file = BUILD / "stamp"
    jar = BUILD / "graftbench.jar"
    archive = BUILD / "classes.jsa"
    classpath = [str(jar)] + spark_classpath()
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp):
        shutil.rmtree(BUILD, ignore_errors=True)
        classes = BUILD / "classes"
        classes.mkdir(parents=True)
        compiler_cp = [str(SPARK_JARS / f"scala-{n}-{SCALA_VERSION}.jar")
                       for n in ("compiler", "library", "reflect")]
        _run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler_cp),
              "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
              "-cp", os.pathsep.join(spark_classpath()),
              "-d", str(classes)] + [str(p) for p in files],
             f"compiling {len(files)} sources")
        _run(["jar", "cf", str(jar), "-C", str(classes), ".", "-C", str(RESOURCES), "."],
             "packing the jar")
        work = BUILD / "train"
        (work / "tmp").mkdir(parents=True)
        _run(java_command(classpath, work, [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off"])
             + ["--workload", "train", "--work", str(work)],
             "training run for the class-data-sharing archive")
        shutil.rmtree(work, ignore_errors=True)
        stamp_file.write_text(stamp)
    shared = [f"-XX:SharedArchiveFile={archive}"] if archive.is_file() else []
    return classpath, shared


if __name__ == "__main__":
    try:
        classpath, shared = build()
        print(" ".join(java_command(classpath, pathlib.Path(".bench_work"), shared)))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
