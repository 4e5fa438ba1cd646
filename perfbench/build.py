"""Build file of the benchmark package: compiles the engine (src/main/scala)
and the harness (perfbench/src) into one class directory with the Scala
compiler that ships among the Spark jars the repo's build.sbt names.

    python3 perfbench/build.py            # prints the class directory

The output is keyed by a hash of every source file, so a run in a checkout
that already built it starts at once, and any source change rebuilds.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jar directory build.sbt declares as `unmanagedBase`, else
    $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build():
    """Compile if the sources changed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    open(os.path.join(out, "_COMPLETE"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
