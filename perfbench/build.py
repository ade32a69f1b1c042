"""Build the engine and the benchmark driver from source with scalac.

The benchmark is compiled on its own, outside the repository's sbt build:
the engine sources (`src/main/scala` at the repository root) and the driver
(`perfbench/src/main/scala`) go through the Scala compiler that ships with
the Spark jars, against those jars, into a directory keyed by a hash of
every source file. An unchanged tree reuses the previous build.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def spark_jars() -> list:
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def sources() -> list:
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit(f"engine sources not found under {ROOT}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    return engine + bench


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for jar in jars:
        h.update(os.path.basename(jar).encode())
    key = h.hexdigest()[:16]
    out = os.path.join(WORK, "build", key)
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "_OK")):
        shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
        os.makedirs(classes)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-cp", os.pathsep.join(jars)] + srcs
        rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
        if rc != 0:
            raise SystemExit(f"scalac failed with exit code {rc}")
        with open(os.path.join(out, "_OK"), "w") as f:
            f.write(key + "\n")
    return os.pathsep.join([classes] + jars)


if __name__ == "__main__":
    print(build())
