"""Compiles the engine (src/main/scala) and the benchmark's JVM side
(perfbench/src) into .bench_build/classes, with the Scala compiler that ships
in Spark's jars directory, the same Scala version build.sbt names.

The benchmark launches the JVM straight on that classpath, so neither sbt's
launcher nor compiling is part of any measured time. A build is skipped when
a stamp of every source file's content still matches.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    return shutil.which("java") or "java"


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    if not engine or not bench:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + bench


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Returns (classes dir, Spark jars dir), compiling first if needed."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return CLASSES, jars
    staging = BUILD / f"classes.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = BUILD / f"sources.{os.getpid()}"
    argfile.write_text("\n".join(str(f) for f in files))
    try:
        r = subprocess.run(
            [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-d", str(staging), f"@{argfile}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit("perfbench: compile failed")
        shutil.rmtree(CLASSES, ignore_errors=True)
        staging.rename(CLASSES)
        STAMP.write_text(want)
    finally:
        argfile.unlink(missing_ok=True)
        shutil.rmtree(staging, ignore_errors=True)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
