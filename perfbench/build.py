#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala)
and the benchmark (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/classes. Rebuilds only when a
source file changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.sha256"


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, or the jars of the first Spark
    installation whose bin/spark-submit is on the PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = sorted((home / "jars").glob("*.jar"))
        if jars:
            return jars
    sys.exit("build: no Spark jars found; set SPARK_HOME")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"build: program sources not found at {main}")
    files = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([str(CLASSES)] + [str(j) for j in spark_jars()])


def ensure_built():
    files = sources()
    fp = fingerprint(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == fp:
        return
    jars = spark_jars()
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", cp, "-d", str(tmp)] + [str(f) for f in files]
    print(f"build: compiling {len(files)} files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(fp)


if __name__ == "__main__":
    ensure_built()
