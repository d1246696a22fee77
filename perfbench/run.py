#!/usr/bin/env python3
"""Run one graft benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload batch_dag --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source with sbt when the sources
changed since the last build (the first run in a checkout), then launches
the JVM directly. The last line of stdout is the result object; everything
else goes to stderr. All scratch files stay under .bench_build/ in the
checkout, and the run's work directory is removed when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
WORKLOADS = ("batch_dag", "live_refresh", "corpus_dedup")
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def spark_home():
    """SPARK_HOME, or the first Spark install on PATH that ships its jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).parent
        if (Path(d) / "spark-submit").exists() and any((home / "jars").glob("spark-core_*.jar")):
            return str(home)
    fail("SPARK_HOME is not set and no Spark install with a jars/ directory is on PATH")


def build(digest):
    target = BENCH / "target"
    stamp, cp = target / "perfbench.stamp", target / "classpath.txt"
    if stamp.exists() and cp.exists() and stamp.read_text() == digest:
        return cp.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    print("perfbench: building from source", file=sys.stderr)
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                         cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0 or not cp.exists():
        fail("build failed")
    stamp.write_text(digest)
    return cp.read_text().strip()


def git_sha():
    if not (ROOT / ".git").exists():
        return "none"
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return res.stdout.strip() or "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--keep-work", action="store_true",
                    help="keep the run's inputs and outputs (for check_input_mb.py)")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    digest = source_hash()
    classpath = build(digest)

    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = BUILD / "tmp"
    for d in (work, tmp, BUILD / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    # JVM log lines go to stderr: stdout carries only the result
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-Xlog:disable", "-Xlog:all=error:stderr"]
    # class-data sharing: the first run of a build archives the classes it
    # loaded, later runs map them instead of loading them one by one
    archive = BUILD / f"classes-{digest}.jsa"
    dumping = archive.with_suffix(f".{os.getpid()}.tmp")
    if archive.exists():
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={dumping}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={BUILD / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.ui.retainedJobs=100", "-Dspark.ui.retainedStages=100",
        "-Dspark.sql.ui.retainedExecutions=50",
        "-Dspark.sql.streaming.ui.retainedQueries=20",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dperfbench.build={digest}", f"-Dperfbench.gitsha={git_sha()}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(work),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode == 0 and dumping.exists():
        dumping.replace(archive)
    dumping.unlink(missing_ok=True)
    if a.keep_work:
        print(f"perfbench: kept {work}", file=sys.stderr)
    else:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
