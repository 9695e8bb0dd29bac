"""Build file of the benchmark: compiles the program's main sources and the
harness into one class directory with the Scala compiler that ships with
Spark, in the jar directory the program's build.sbt declares
(`unmanagedBase`). A stamp of the sources' contents skips the compile when
nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars(root):
    with open(os.path.join(root, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return main, harness


def build(root, out_dir):
    """Compile if needed; return the runtime classpath."""
    main, harness = sources(root)
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in main + harness:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = ":".join(f"{jars}/scala-{p}-{SCALA}.jar"
                        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", f"{jars}/*"] + main + harness
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (rc={r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    print(build(os.path.dirname(here), os.path.join(here, ".work", "build")))
