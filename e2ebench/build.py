"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (e2ebench/src) into one class directory with the Scala
compiler that ships in Spark's jars. The build is skipped when no source
changed since the last one.

    python3 e2ebench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
OUT = os.path.join(ROOT, ".bench_build", "e2ebench")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("e2ebench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("e2ebench: SPARK_HOME must name a Spark installation")
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(SPARK_JARS, "*")
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
