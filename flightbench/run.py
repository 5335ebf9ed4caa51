#!/usr/bin/env python3
"""Benchmark of record for graft: the five-branch flight stream draining a
backlog and a catalog slice, measured end to end and, in a traced run,
layer by layer.

Usage (from the repository root):
    python3 flightbench/run.py --workload stream_backlog --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the library and the benchmark with sbt
(the benchmark's own build under flightbench/ compiles the library from
the repository's sources); later runs reuse that build while the sources
are unchanged. Each run starts one JVM, which prints a context line and, as
the last line of standard output, one JSON result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The full result (context, every metric, per-row and per-check detail) is
also written to flightbench/out/, and the traced run's spans next to it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ["stream_backlog", "catalog_flight"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
CLASSPATH = BENCH / "target" / "flightbench-classpath.json"

# Spark on JDK 17 outside spark-submit needs these (the library's build.sbt
# passes the same list to its forked tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[flightbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src-{digest}"


def build(digest):
    """Compile library + benchmark and record the runtime classpath."""
    if CLASSPATH.exists():
        saved = json.loads(CLASSPATH.read_text())
        if saved.get("digest") == digest and all(
                Path(p).exists() for p in saved["classpath"].split(os.pathsep)[:2]):
            return saved["classpath"]
    log("building library and benchmark with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S,
        stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    log(f"build done in {time.time() - t0:.0f} s")
    return classpath


def run_jvm(classpath, args, work, timeout):
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True, stdin=subprocess.DEVNULL)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"run exceeded {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out, err


def stop_on_sigterm(signum, frame):
    raise SystemExit(f"stopped by signal {signum}")


def main(argv=None):
    signal.signal(signal.SIGTERM, stop_on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: a few thousand events, sf0.001 catalog (smoke tests)")
    ap.add_argument("--corrupt", choices=["none", "sink", "catalog"], default="none",
                    help="corrupt one sink row or catalog result before checking it")
    ap.add_argument("--out", help="result file (default flightbench/out/<run>.json)")
    ap.add_argument("--dump", help="write catalog outputs here for verify_oracle.py")
    a = ap.parse_args(argv)

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no library sources at {ROOT}: run from a full checkout of the repository")
        return 2
    digest = source_digest()
    classpath = build(digest)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + ("" if a.scale == "full" else f"-{a.scale}")
    work = BENCH / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = Path(a.out) if a.out else BENCH / "out" / f"{tag}.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", a.scale, "--corrupt", a.corrupt,
            "--cores", str(os.cpu_count() or 1), "--work", str(work), "--out", str(out.resolve()),
            "--data", str(BENCH / "data"), "--fingerprints", str(BENCH / "fingerprints"),
            "--commit", commit_id(digest)]
    if a.dump:
        args += ["--dump", str(Path(a.dump).resolve())]
    try:
        code, stdout, stderr = run_jvm(classpath, args, work, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict) or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(stderr[-6000:])
        log(f"run failed (exit {code})")
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
