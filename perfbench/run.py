#!/usr/bin/env python3
"""Benchmark command: builds the engine with the benchmark code, runs one
workload in one JVM, and prints the result JSON object as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run in a checkout compiles
(sbt, offline); later runs reuse the build while the sources are unchanged.
Everything it writes goes under `.bench_build/` in the checkout; traced runs
leave their span file in `.bench_build/perfbench/traces/`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import gen  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "perfbench"
SETUP_REPS = 3

# Inputs per workload, sized for a 4-core host. The Scala side's slice
# layout covers the generated spans: 4 x 10-day slices for the skew table,
# rounds of 3 one-day slices plus 3 one-day appends for the daily one. The
# daily workload's traced run also queries the suite tables.
def daily_inputs(seed, d, trace):
    gen.bronze(seed, d / "bronze", n_convs=10000, avg_turns=30, mega_convs=0, mega_turns=0,
               spread_secs=10 * gen.DAY)
    if trace:
        gen.suite_tables(seed, d / "tables")


WORKLOADS = {
    "backfill_skew": lambda seed, d, trace: gen.bronze(
        seed, d / "bronze", n_convs=10000, avg_turns=30, mega_convs=2, mega_turns=100000,
        spread_secs=30 * gen.DAY),
    "backfill_daily": daily_inputs,
}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ENGINE_SRC, BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout, or
    when this process is told to stop, and waits for it either way."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout}s", 3)
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return proc.returncode, out


def classpath():
    """Compiles once per source state; returns the runtime classpath."""
    OUT.mkdir(parents=True, exist_ok=True)
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "stamp.txt"
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
            return cp_file.read_text().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
        code, out = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True)
        lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
        if code != 0 or not lines:
            sys.stderr.write(out[-4000:])
            fail(f"build failed (sbt exit {code})")
        cp_file.write_text(lines[-1])
        stamp_file.write_text(want)
        return lines[-1]


def result(values, spec, trace, setup_s):
    """The result object's metrics: BENCHMARK.json's end-to-end ones (each
    must be measured, and above 0) or its per-layer ones (0 where the
    workload does not reach the layer), with the units listed there.
    """
    if trace == "0":
        values = dict(values, setup_s=setup_s)
        bad = [m["name"] for m in spec["end_to_end"]
               if not isinstance(values.get(m["name"]), (int, float)) or not values[m["name"]] > 0]
        if bad:
            fail(f"end-to-end metrics not measured: {', '.join(bad)}", 1)
        return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    return {m["name"]: {"value": values.get(m["name"]) or 0, "unit": m["unit"]} for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cp = classpath()
    work = OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        WORKLOADS[a.workload](a.seed, work / "inputs", a.trace == "1")
        setups.append(time.perf_counter() - t0)
    setup_s = statistics.median(setups)
    print(f"[perfbench] {a.workload} setup_s {setup_s:.4f} s (median of {SETUP_REPS} input generations)")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work), "--inputs", str(work / "inputs")])
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    obj = None
    for line in out.splitlines():
        try:
            parsed = json.loads(line)
        except ValueError:
            parsed = None
        if isinstance(parsed, dict) and set(parsed) == {"correct", "attempted", "failed", "values"}:
            obj = parsed
        else:
            print(line)
    if code != 0 or obj is None:
        fail(f"workload {a.workload} failed (jvm exit {code})", 1)
    metrics = result(obj["values"], spec, a.trace, setup_s)
    print(json.dumps({"correct": obj["correct"], "attempted": obj["attempted"], "failed": obj["failed"],
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
