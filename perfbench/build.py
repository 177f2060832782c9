"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) and the benchmark's own sources
(`perfbench/src`) with the Scala compiler that ships in Spark's jars
directory, into `<build dir>/classes`. A stamp of every source file's
hash skips the compile when nothing changed. Run standalone with
`python3 perfbench/build.py`; `run.py` calls `ensure_built()`.
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


def _spark_jars():
    """Spark's jars directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the project's build.sbt declares, else beside a `spark-submit` on
    PATH; the first that holds the Scala compiler."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    found = shutil.which("spark-submit")
    if found:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(found))), "jars"))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return candidates[0] if candidates else "jars"


SPARK_JARS = _spark_jars()
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")


class BuildError(Exception):
    pass


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return engine + own


def classpath():
    return [CLASSES, os.path.join(SPARK_JARS, "*")]


def _compiler_jars():
    jars = [os.path.join(SPARK_JARS, f"scala-{m}-2.13.17.jar")
            for m in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.exists(j)]
    if missing:
        found = glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar"))
        raise BuildError(f"Scala compiler jars not found: {missing} (have {found})")
    return jars


def ensure_built(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(_compiler_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(SPARK_JARS, "*"), "@" + args_file]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
