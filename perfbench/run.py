#!/usr/bin/env python3
"""Run one benchmark measurement and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into the checkout and caches the
classpath under .bench_build/; later runs start the JVM directly. Each run
gets a fresh work directory under .bench_build/runs/ for the index
location, the Spark warehouse, Spark's local dirs and java.io.tmpdir, and
deletes it on exit. The last line of stdout is the result
({"correct", "attempted", "failed", "metrics"}); everything else the JVM
prints goes to stderr. The full result of the run, with the failures, the
confs, the environment and (traced) the spans, is kept under
.bench_build/results/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
DEADLINE_S = 170  # every run must end within 180 s
HEAP = "4g"
MAIN = "graft.perfbench.Main"

# What sbt's fork would pass (the root build.sbt's javaOptions): Spark on
# JDK 17 outside spark-submit needs these opens.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# sbt resolves nothing over the network: the toolchain's caches only.
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'} "
                "-Dsbt.offline=true -Xmx2g",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Build with sbt unless the cached classpath matches the sources."""
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp, cp_file = BUILD / "fingerprint", BUILD / "classpath.txt"
        fp = fingerprint()
        if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
            return cp_file.read_text().strip()
        log("building engine and benchmark with sbt")
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env={**os.environ, **SBT_ENV}, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
            sys.stderr.write(r.stdout[-6000:])
            raise SystemExit(f"build failed (sbt exit {r.returncode})")
        cp = lines[-1].strip()
        cp_file.write_text(cp + "\n")
        stamp.write_text(fp)
        log(f"built in {time.time() - t0:.0f} s")
        return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--recall-floor", required=True,
                    help="recall@10 below this fails the run (BENCHMARK.json sets it)")
    a = ap.parse_args()
    started = time.time()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (BENCH / "build.sbt").is_file():
        raise SystemExit("perfbench/run.py must run from the root of a checkout holding the engine's sources")
    cp = classpath()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = BUILD / "runs" / f"{tag}-{os.getpid()}"
    results = BUILD / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(exist_ok=True)
    result = results / f"{tag}.json"
    spans = results / f"{tag}.spans.json"
    result.unlink(missing_ok=True)
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # No hsperfdata file in the system's temp directory.
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", cp, MAIN,
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--workdir", str(work), "--result", str(result),
            "--reference", "perfbench/gate_reference.json",
            "--recall-floor", a.recall_floor]
           + (["--spans", str(spans)] if a.trace == "1" else []))
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: point both at the
    # run's own directory.
    env = {**os.environ, "SPARK_LOCAL_DIRS": str(work / "spark-local")}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        code = None
        log("run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not result.exists():
        raise SystemExit(f"run failed (exit {code})")
    r = json.loads(result.read_text())
    for f in r.get("failures", []):
        log(f"failed: {f}")
    line = {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
