"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) into one class directory with scalac.

The Scala compiler and Spark come from the Spark distribution's jar
directory ($SPARK_JARS, else $SPARK_HOME/jars, else the `unmanagedBase`
that build.sbt names), so the build needs no network and no sbt. Output goes to $CARGO_TARGET_DIR (default .bench_build)
under the directory the benchmark runs from. A stamp of the source digest
skips the compile when nothing changed.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src")]


def spark_jars():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    out = []
    for base in SOURCE_DIRS:
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return (class dir, source digest of src/main)."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit("build: no engine sources at src/main/scala")
    files = sources()
    engine_id = digest([f for f in files if f.startswith(main_src)])
    stamp_id = digest(files)
    out = os.path.join(build_dir(), "classes-" + stamp_id)
    stamp = os.path.join(out, ".complete")
    if os.path.exists(stamp):
        return out, engine_id
    os.makedirs(out, exist_ok=True)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join('"%s"' % f for f in files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("build: scalac failed with code %d" % r.returncode)
    open(stamp, "w").close()
    # older builds (and the corpora generated next to them) are stale now
    for name in os.listdir(build_dir()):
        if name.startswith("classes-") and not name.startswith(os.path.basename(out)):
            shutil.rmtree(os.path.join(build_dir(), name), ignore_errors=True)
    return out, engine_id


if __name__ == "__main__":
    print(build()[0])
