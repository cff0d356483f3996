"""Build file of the format-layer benchmark.

Compiles the graft library (`src/main/scala`, plus `src/main/resources`
copied alongside) together with the benchmark
runner (`perfbench/src`) into `.bench_build/classes` with the Scala compiler
that ships in the Spark distribution, the same jars the repository's sbt
build compiles against. A content stamp over every source skips the compile
when nothing changed, so only the first run in a checkout pays for it.

Run it directly (`python3 perfbench/build.py`) or let `run.py` call it.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_DIR = ROOT / ".bench_build"
CLASSES = BUILD_DIR / "classes"
LIB_SRC = ROOT / "src" / "main" / "scala"
LIB_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH_DIR / "src"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources() -> list:
    if not LIB_SRC.is_dir():
        raise BuildError(f"library sources missing: {LIB_SRC.relative_to(ROOT)}")
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to compile")
    return files


def resources() -> list:
    return sorted(f for f in LIB_RES.rglob("*") if f.is_file()) if LIB_RES.is_dir() else []


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr) -> tuple:
    """Compile if needed; returns (classes dir, Spark jar dir)."""
    jars = spark_jars()
    files = sources()
    res = resources()
    digest = stamp(files + res)
    BUILD_DIR.mkdir(exist_ok=True)
    # one compile at a time when several runs start together
    with open(BUILD_DIR / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = CLASSES / ".stamp"
        if not (stamp_file.is_file() and stamp_file.read_text() == digest):
            compile_into(files, res, digest, jars, log)
    return CLASSES, jars


def compile_into(files, res, digest, jars, log):
    staging = BUILD_DIR / "classes.staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    # data source registrations (META-INF/services) ride with the classes
    for f in res:
        dest = staging / f.relative_to(LIB_RES)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    (staging / ".stamp").write_text(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)


if __name__ == "__main__":
    try:
        classes, _ = build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(classes)
