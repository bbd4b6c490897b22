"""Builds the program and the benchmark's JVM side from source.

    python3 perfbench/build.py

Compiles `src/main/scala` (the program) together with `perfbench/src` (the
benchmark's JVM side) with the Scala compiler that ships in Spark's jars
(the directory `build.sbt` names, or `$SPARK_JARS`), and
copies `src/main/resources` beside the classes. The output goes to
`.bench_build/classes` under the repository root and is reused while no
source file changes. Nothing is written outside `.bench_build`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The Spark jar directory the program builds against: `$SPARK_JARS`, or
    the `unmanagedBase` that `build.sbt` names."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("set SPARK_JARS: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True)
                 if os.path.isfile(p))
    return main, bench, res


BUILD_DIR = os.path.join(ROOT, ".bench_build")


def build():
    """Returns the classpath to run with; raises on a failed build."""
    out = BUILD_DIR
    main, bench, res = sources()
    if not main:
        raise RuntimeError(f"no program sources under {ROOT}/src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for p in main + bench + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + main + bench
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, os.path.join(ROOT, "src/main/resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
