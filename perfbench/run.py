"""Runs one benchmark workload and prints its result as the last line
of standard output.

    python3 perfbench/run.py --workload ingest_incremental --seed 1 \\
        --seconds 10 --trace 0 [--size full|tiny]

It builds the program and the benchmark from source when needed (see
build.py), runs the workload in one JVM, and relays that JVM's result
line. The JVM's own log goes to the build directory; its tail is copied
to standard error when the run fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# Spark 4 on JDK 17 needs these outside spark-submit (the program's
# build file passes the same set).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
# a run of a workload BENCHMARK.json lists must end within 180 s; leave
# room for start-up and clean-up. ingest_incremental runs by hand, and
# its traced run takes longer (see README.md).
JVM_TIMEOUT_S = {"ingest_incremental": 300}
DEFAULT_TIMEOUT_S = 175


def git_head():
    if not (build.ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def jvm(classes, args, work, err, timeout):
    """Runs perfbench.Main in a fresh JVM whose scratch space is `work`
    (deleted afterwards); returns (exit code, stdout), code None on a
    timeout."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.Main"] + args
    # Spark prefers this variable to its spark.local.dir setting
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                            cwd=str(build.ROOT), env=env, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
        return proc.returncode, stdout
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    a = ap.parse_args()
    try:
        classes, sha = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1

    out = build.build_dir()
    work = out / "work" / f"{a.workload}-{os.getpid()}"
    records = out / "records"
    # state made once per build and size (ingest_incremental's start)
    cache = out / "cache" / sha[:16]
    if (out / "cache").is_dir():
        for old in (out / "cache").iterdir():
            if old != cache:
                shutil.rmtree(old, ignore_errors=True)
    cache.mkdir(parents=True, exist_ok=True)
    records.mkdir(parents=True, exist_ok=True)
    log = records / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--work", str(work),
            "--records", str(records), "--cache", str(cache), "--source-sha", sha]
    head = git_head()
    if head:
        base += ["--git-head", head]

    timeout = JVM_TIMEOUT_S.get(a.workload, DEFAULT_TIMEOUT_S)
    with open(log, "w") as err:
        if a.workload == "ingest_incremental" and not (cache / f"prestate-{a.size}").is_dir():
            code, _ = jvm(classes, base + ["--prepare", "1"], work, err, timeout)
            if code != 0:
                err.flush()
                sys.stderr.write(log.read_text(errors="replace")[-4000:])
                print("preparing the pre-built state failed", file=sys.stderr)
                return 1
        code, stdout = jvm(classes, base, work, err, timeout)

    lines = (stdout or "").strip().splitlines()
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or not result.get("correct"):
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
    if result is None:
        print(f"workload {a.workload} produced no result (exit {code}); "
              f"log: {log}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
