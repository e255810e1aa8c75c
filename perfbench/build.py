#!/usr/bin/env python3
"""Build the graft library and the benchmark runner into .bench_build/.

Compiles src/main/scala of the checkout together with perfbench/src with
the Scala compiler that ships in Spark's jar directory (SPARK_HOME/jars, or
the jars next to the spark-submit on PATH). The output directory is keyed
by a hash of every source file, so an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py        (from the root of a checkout)
Prints the class directory on success.
"""
import fcntl
import glob
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
BUILD = pathlib.Path(".bench_build")


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not glob.glob(str(jars / "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources(root: pathlib.Path) -> list:
    lib = root / "src" / "main" / "scala"
    if not lib.is_dir():
        raise BuildError(f"library sources not found under {lib}")
    files = sorted(lib.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def build(root: pathlib.Path = pathlib.Path(".")) -> pathlib.Path:
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(f.name.encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (out / ".ok").exists():
            return out
        for old in BUILD.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        tmp = BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        compiler = [str(p) for p in sorted(jars.glob("scala-*.jar"))
                    if p.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
               "-cp", str(jars / "*"), "@" + str(argfile)]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise BuildError(f"scalac exited with {r.returncode}")
        (tmp / ".ok").write_text("ok\n")
        tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
