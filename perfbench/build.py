"""Build file of the benchmark: compiles the program's Scala sources
together with the benchmark's own into one class directory.

It calls the Scala compiler that ships with Spark directly (no sbt), so
a build reads only the checkout and the Spark jars and writes only the
build directory. A build is skipped when the sources are unchanged.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
PROGRAM_SOURCES = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    """SPARK_HOME's jars, else the jar directory the program's own
    build file names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources() -> list:
    if not PROGRAM_SOURCES.is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SOURCES}")
    found = sorted(PROGRAM_SOURCES.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not found:
        raise BuildError("no Scala sources found")
    return found


def source_sha(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(RESOURCES), str(spark_jars() / "*")])


def build() -> tuple:
    """Compiles if needed; returns (class directory, source sha)."""
    files = sources()
    sha = source_sha(files)
    out = build_dir()
    classes = out / "classes"
    stamp = out / "classes.sha"
    if classes.is_dir() and stamp.is_file() and stamp.read_text().strip() == sha:
        return classes, sha
    jars = spark_jars()
    staging = out / "classes.staging"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-cp", str(jars / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError(f"compile failed with code {r.returncode}")
    staging.rename(classes)
    stamp.write_text(sha + "\n")
    return classes, sha


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
