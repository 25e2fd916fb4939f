#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory.

The Scala compiler and every library come from the Spark jars directory the
repository builds against (build.sbt's unmanagedBase), so the build needs
neither sbt nor network access. A build is reused while the sha256 of every
source file is unchanged.

    python3 perfbench/build.py [build dir]   (default: $CARGO_TARGET_DIR or
                                              .bench_build)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    """build.sbt's `unmanagedBase := file("<dir>")`."""
    try:
        with open(os.path.join(REPO, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: no unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                           recursive=True))
    if not main:
        raise SystemExit("build: no graft sources under src/main/scala")
    return main + own


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build(out=None):
    """Returns the class directory, compiling first when a source changed."""
    out = out or build_dir()
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(out, "classes.sha256")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    if os.path.exists(stamp):
        os.remove(stamp)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
