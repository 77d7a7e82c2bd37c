"""Build the program and the benchmark harness from source.

Compiles `src/main/scala` (the program, exactly the sources the sbt build
compiles) together with `perfbench/scala` (the harness) with the Scala
compiler that ships in the Spark jars directory, into
`.bench_build/classes`. The Spark jars directory is `$SPARK_HOME/jars`, or
else the `unmanagedBase` that `build.sbt` names. A digest of every source
file is kept next to the classes, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root: str) -> str:
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")
    return m.group(1)


def sources(root: str) -> list:
    found = []
    for d in ("src/main/scala", "perfbench/scala"):
        found += sorted(glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True))
    return found


def build(root: str) -> str:
    """Compile if needed; return the classes directory and the digest."""
    jars = spark_jars(root)
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-d", out, "-classpath", cp, "-nowarn", "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed with code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest)
    return out, digest


if __name__ == "__main__":
    print(build(os.getcwd())[0])
