#!/usr/bin/env python3
"""Runs one workload of the graft write-audit-publish benchmark.

    python3 wapbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline, against the Spark jars the program's
build names), copies the compiled classes under .bench_build/ and records
the classpath; later runs reuse that copy until a source file changes, so
nothing another build leaves in a target/ directory can leak into a run.
Everything the runs leave behind goes under .bench_build/ and the sbt
target/ directories of the checkout. The last line of stdout is the JSON
result; sbt, Spark and the checks log to stderr.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
SBT_LAUNCH = HERE / "target" / "launch.txt"
WORKLOADS = ("wap_ingest", "lake_analytics")

BUILD_TIMEOUT_S = 700
# a run must end within 180 s; leave room for start-up and clean-up
RUN_TIMEOUT_S = 165
HEAP = "3g"


def fail(msg):
    print(f"wapbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the program's build and main sources and
    the benchmark's own."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted(p for p in (ROOT / "project").glob("*") if p.is_file())
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group if it
    outlives timeout, then waits for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def build():
    """Returns the launch file of the build of the current sources: the
    classpath, then one JVM option a line. The classpath's entries inside
    the checkout point at copies the benchmark owns, keyed by the sources'
    hash."""
    key = stamp()[:20]
    launch = OUT / f"launch-{key}.txt"
    if launch.exists():
        return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g")
    # sbt keeps its scratch files in the JVM's temp dir: keep them in the checkout
    sbt_tmp = OUT / "sbt-tmp"
    sbt_tmp.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={sbt_tmp}"
    t0 = time.time()
    code, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "launchSpec"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not SBT_LAUNCH.exists():
        fail(f"build failed (sbt exit {code})")
    for old in [*OUT.glob("classes-*"), *OUT.glob("launch-*.txt")]:
        shutil.rmtree(old) if old.is_dir() else old.unlink()
    cp, *jvm_opts = SBT_LAUNCH.read_text().splitlines()
    frozen = OUT / f"classes-{key}"
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        src = Path(entry).resolve()
        if src.is_relative_to(ROOT) and src.exists():
            dst = frozen / f"{i}-{src.name}"
            if src.is_dir():
                shutil.copytree(src, dst)
            else:
                frozen.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, dst)
            entries.append(str(dst))
        else:
            entries.append(entry)
    tmp = launch.with_suffix(".tmp")
    tmp.write_text("\n".join([os.pathsep.join(entries), *jvm_opts]) + "\n")
    tmp.rename(launch)
    print(f"wapbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return launch


def on_signal(signum, _frame):
    # unwinds through run_bounded's finally, which kills the child's group
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources next to {HERE.name}/: run from the root of a full checkout")

    cp, *jvm_opts = build().read_text().splitlines()
    work = OUT / "work" / f"{a.workload}-{os.getpid()}"
    trace_out = OUT / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", *jvm_opts,
           "-cp", cp, "wapbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work), "--trace-out", str(trace_out)]
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"workload {a.workload} exited {code} without a result")
    sys.stderr.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    json.loads(lines[-1])  # a malformed result line fails here, loudly
    print(lines[-1])


if __name__ == "__main__":
    main()
