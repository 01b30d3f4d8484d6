"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own sources (`perfbench/src`) with the
Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes-<hash>` under the checkout root. A build whose
source hash already has a class directory is reused.

    python3 perfbench/build.py        # from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# program's build.sbt).
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources():
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}", "-Xss8m",
           "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def java_command(classes, main, args, heap="2g"):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(spark_jars(), "*")
    return (["java", "-XX:-UsePerfData"] + opens +
            [f"-Xmx{heap}", "-cp", cp, main] + list(args))


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
