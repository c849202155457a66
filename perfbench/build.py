#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
harness in perfbench/scala with scalac into one jar, then records a
class-data-sharing archive from one short run so later JVMs start faster.

It needs only a JDK and a Spark distribution, whose jars carry the Scala
compiler: `$SPARK_HOME`, else the one pyspark finds (`spark-submit` on the
PATH, or pyspark's own jars). A build is skipped when the sources and
toolchain are unchanged since the last one.

Usage: python3 perfbench/build.py    (output in .bench_build/)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_home():
    try:
        from pyspark.find_spark_home import _find_spark_home
    except ImportError:
        return os.environ.get("SPARK_HOME") or sys.exit("perfbench: set SPARK_HOME")
    return _find_spark_home()


SPARK_JARS = os.path.join(_spark_home(), "jars")
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "perfbench.jar")
CDS = os.path.join(OUT, "perfbench.jsa")
STAMP = os.path.join(OUT, "stamp")
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources():
    main = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
    bench = glob.glob(os.path.join(ROOT, "perfbench", "scala", "*.scala"))
    return sorted(main) + sorted(bench)


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return base if os.path.isdir(base) else None


def fingerprint(files):
    """Hashes everything the jar and archive depend on: the sources, the
    resources copied into the jar, Spark's jars and the JDK."""
    res = resources()
    if res:
        files = files + sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True, check=True).stderr)
    return h.hexdigest()


def java_cmd(work, args, cds_flag=None):
    """The harness JVM: Spark's module opens, a fixed heap, scratch and
    logs confined to `work`, and the class-data-sharing archive."""
    if cds_flag is None:
        cds_flag = f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS) else "-Xshare:auto"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap: peak RSS then tracks native memory, not heap resizing
    return (["java", "-Xms3g", "-Xmx3g", cds_flag,
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={ROOT}/perfbench/log4j2.properties"]
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{JAR}:{os.path.join(SPARK_JARS, '*')}", "perfbench.Main"]
            + args + ["--work", work])


def build():
    """Compiles, jars and records the archive unless they are current."""
    files = sources()
    if not any("/src/main/scala/" in f for f in files):
        raise SystemExit("perfbench: graft's sources (src/main/scala) are missing")
    stamp = fingerprint(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.exists(JAR):
        return
    os.makedirs(OUT, exist_ok=True)
    for f in (STAMP, JAR, CDS):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(SPARK_JARS, "*")
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", cp, "-d", classes] + files,
                   check=True, stdout=sys.stderr)
    res = resources()
    if res:
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in os.walk(classes):
            for n in names:
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    # one short run loads Spark's and graft's classes; the JVM archives
    # them at exit (CDS archives need jars, not class directories)
    work = os.path.join(OUT, "cds-run")
    print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
    subprocess.run(java_cmd(work, ["--workload", "vector_pairs", "--seed", "0", "--seconds", "1"],
                            cds_flag=f"-XX:ArchiveClassesAtExit={CDS}"),
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
