"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark's own Scala sources (`perfbench/scala`,
`perfbench/tests`) with the Scala compiler that ships in Spark's jar
directory, into `.bench_build/classes-<hash of the sources>`.

A build whose sources are unchanged is reused. Usage:

    python3 perfbench/build.py        # prints the class directory
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
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the directory the
    sbt build takes its jars from (`unmanagedBase` in `build.sbt`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("build: no engine sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")) +
                 glob.glob(os.path.join(HERE, "tests", "*.scala")))
    return main + own


def classes_dir():
    """Compile if needed; return the directory holding the classes."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(BUILD, "compile.log")
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
             "@" + argfile],
            stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"build: scalac failed ({rc}); see {log}")
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(classes_dir())
