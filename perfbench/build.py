"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/harness`) with the
Scala compiler that ships among the Spark jars the repository's build.sbt
names (`unmanagedBase`). The classes land in `.bench_build/classes-<hash>`,
keyed by the sources, so a checkout builds once and every later run reuses
the result.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"


def spark_jars(root):
    """The jar directory build.sbt compiles against, or $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(root, "build.sbt")).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-core_*.jar")):
        raise SystemExit(f"no Spark jars in {d!r}")
    return d


def sources(root):
    src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    src += sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return src


def classpath(root, classes):
    return ":".join([classes, os.path.join(root, "src/main/resources"),
                     os.path.join(spark_jars(root), "*")])


def build(root):
    """Compile if needed; return the classes directory."""
    jars = spark_jars(root)
    src = sources(root)
    if not any("/src/main/scala/" in s for s in src):
        raise SystemExit("no program sources under src/main/scala")
    h = hashlib.sha256(jars.encode())
    for s in src:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(root, OUT, "classes-" + h.hexdigest()[:16])
    os.makedirs(os.path.join(root, OUT), exist_ok=True)
    with open(os.path.join(root, OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
                    if re.search(r"scala-(compiler|library|reflect)-2\.13", j)]
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
               "-Djava.io.tmpdir=" + os.path.join(root, OUT),
               "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
               "-classpath", os.path.join(jars, "*"), "-d", tmp] + src
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"compile failed ({r.returncode})")
        os.rename(tmp, classes)
        return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
