#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution into one jar, then records a class-data-sharing
archive from a tiny training run so each benchmark JVM starts faster.

Usage: python3 perfbench/build.py   (from the root of a checkout)

Output goes to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench).
A stamp of every source file's content skips the build when nothing
changed. Exits non-zero when the program sources are missing or the
compile fails; a failed training run only leaves the archive out.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark jars the program builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory named in the repo's build.sbt."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(os.path.dirname(BENCH_DIR), "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
            if os.path.isfile(sbt) else None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark distribution with a Scala compiler under '{jars}'")
    return jars


def build_root(root):
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root, base, "perfbench")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return prog + bench


JVM_OPTS = ["-Xmx3g", "-Xss4m", "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
for _p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
           "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
           "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
    JVM_OPTS += ["--add-opens", f"java.base/{_p}=ALL-UNNAMED"]


def java_cmd(root, jar, work, extra=()):
    """The benchmark JVM command line up to the main class arguments."""
    cp = jar + os.pathsep + os.path.join(spark_jars(), "*")
    return (["java"] + JVM_OPTS + list(extra) + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--data", os.path.join(BENCH_DIR, "data"),
            "--expected", os.path.join(BENCH_DIR, "expected.json"),
            "--work", work, "--trace-dir", os.path.join(root, ".bench_work")])


def archive(out):
    return os.path.join(out, "app.jsa")


def train(root, out, jar):
    """Tiny run whose loaded classes become the CDS archive."""
    work = os.path.join(out, "train")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(root, jar, work, [f"-XX:ArchiveClassesAtExit={archive(out)}",
                                     "-Xlog:cds=off", "-Xlog:cds+dynamic=off"])
    cmd += ["--workload", "sql_mix", "--size", "tiny", "--seed", "1", "--seconds", "1",
            "--trace", "1"]
    try:
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
        ok = r.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(archive(out)):
        os.remove(archive(out))


def build(root):
    """Returns the benchmark jar, building it first when sources changed."""
    jars = spark_jars()
    out = build_root(root)
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "perfbench.jar")
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + args_file]
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    if subprocess.run(["jar", "cf", jar, "-C", classes, "."]).returncode != 0:
        raise SystemExit("build: jar failed")
    shutil.rmtree(classes)
    print("build: recording the class-data-sharing archive", file=sys.stderr, flush=True)
    train(root, out, jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd()))
