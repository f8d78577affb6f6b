#!/usr/bin/env python3
"""Benchmark of the graft DAG ticks, end to end and split by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first call builds the program and the
harness from source with sbt (offline); later calls reuse the build while
the sources are unchanged. Each iteration is a fresh JVM that sets up a
session, runs a full-refresh tick of the workload's DAG on an empty work
dir, then reuse ticks (refresh = false), and digests every committed
stage table; two more fresh JVMs follow that only set up a session. The
run repeats iterations until --seconds have passed (at least one) and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics (medians over the iterations
and set-ups). --trace 1 alternates untraced and traced iterations and
reports the per-layer metrics of the traced one plus the tracing
overhead.

The inputs are copies of the seed-42 sf0.1 test tables (see TESTDATA.md)
committed under perfbench/data; --seed is recorded with the run but
selects nothing, because no other seed's tables exist. Scratch state
lives under .bench_build/ and is emptied before every JVM.
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data", "sf0.1")
METRICS = json.load(open(os.path.join(HERE, "metrics.json")))
EXPECTED = json.load(open(os.path.join(HERE, "expected.json")))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# Matches the --add-opens list the program's own build forks its mains with.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTS = ["-Xmx4g"]
ITERATION_TIMEOUT_S = 170
# Fresh JVMs per iteration that only open a session, so setup_s is a
# median of several set-ups.
SETUP_PROBES = 2


class BenchError(Exception):
    """A failure of the benchmark itself: no result is printed."""


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- stats

def percentile(values, pct):
    """The pct-th percentile (integer, 1..99) of `values`, refused unless
    at least 10 samples lie beyond it."""
    n = len(values)
    if n - math.ceil(pct * n / 100) < 10:
        raise ValueError(f"p{pct} of {n} samples leaves fewer than 10 beyond it")
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


# ---------------------------------------------------------------- build

def program_files():
    """Files whose content the build depends on."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in program_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(src_hash):
    """Build the program and harness once per source state; return the
    run classpath."""
    stamp = os.path.join(SCRATCH, "build.stamp")
    cp_file = os.path.join(HARNESS, "target", "run-classpath.txt")
    if os.path.isfile(stamp) and open(stamp).read() == src_hash and os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(SCRATCH, exist_ok=True)
    env = dict(os.environ)
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    env["COURSIER_MODE"] = "offline"
    log("building program and harness with sbt")
    t0 = time.monotonic()
    with open(os.path.join(SCRATCH, "build.log"), "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HARNESS, env=env, stdout=out, timeout=850)
    if rc != 0 or not os.path.isfile(cp_file):
        raise BenchError(f"build failed (exit {rc}); see {SCRATCH}/build.log")
    with open(stamp, "w") as fh:
        fh.write(src_hash)
    log(f"build done in {time.monotonic() - t0:.1f} s")
    return open(cp_file).read().strip()


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL,
                         stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- host

def host_record(seed, src_hash):
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
        "java": java.splitlines()[0] if java else None,
        "git_commit": commit,
        "source_hash": src_hash,
    }


# ---------------------------------------------------------------- iterations

def harness(classpath, args, logname, work):
    """Run the harness in a fresh JVM on the emptied work dir `work`;
    return the record it writes."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "out.json")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Harness",
                         "--work", work, "--out", out] + args)
    logfile = os.path.join(SCRATCH, logname)
    launched = time.time() * 1000
    with open(logfile, "w") as lf:
        rc = run_child(cmd + ["--launched-ms", f"{launched:.0f}"], cwd=ROOT, env=env,
                       stdout=lf, timeout=ITERATION_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(out):
        raise BenchError(f"harness exited {rc}; see {logfile}")
    with open(out) as fh:
        return json.load(fh)


def iteration(classpath, workload, traced, index):
    """One workload iteration in a fresh JVM."""
    return harness(classpath, ["--workload", workload, "--data", DATA,
                               "--trace", "1" if traced else "0"],
                   f"iteration-{index}.log", os.path.join(SCRATCH, "run"))


def setup_probe(classpath, index):
    """Set-up time of one more fresh JVM that only opens a session."""
    return harness(classpath, ["--setup-only", "1"], f"setup-{index}.log",
                   os.path.join(SCRATCH, "probe"))["setup_ms"]


def score(rec, expected):
    """(attempted, failed) stage operations of one iteration. Each stage
    is attempted twice: built by the full tick and reused by the reuse
    ticks. A build fails if the tick threw or its rows or digest differ
    from the recorded expectation; a reuse fails unless every reuse tick
    reused the stage."""
    attempted = failed = 0
    for name, st in rec["stages"].items():
        exp = expected.get(name)
        attempted += 2
        ok = (rec["full"]["error"] is None and exp is not None
              and st["rows"] == exp["rows"] and st["digest_rows"] == exp["rows"]
              and st["digest"] == exp["digest"])
        failed += 0 if ok else 1
        failed += 0 if (rec["reuse"]["error"] is None and st["reused"] is True) else 1
    return attempted, failed


def passing(recs, scores):
    """Records with no failed operation, so a failing tick never feeds a
    time; all of them when none passed (the run is then not correct)."""
    return [r for r, (_, f) in zip(recs, scores) if f == 0] or recs


def end_to_end(recs, setups):
    return {
        "setup_s": statistics.median([r["setup_ms"] for r in recs] + setups) / 1000,
        "tick_s": statistics.median([r["full"]["ms"][0] for r in recs]) / 1000,
        "written_mb": statistics.median([r["written_bytes"] for r in recs]) / 1048576,
        "retained_heap_mb": statistics.median([r["retained_heap_bytes"] for r in recs]) / 1048576,
    }


def per_layer(traced, untraced):
    out = {k: 0.0 for k in METRICS["per_layer"]}
    out.update({k: v for k, v in traced["layers"].items() if k in out})
    tick_ms = traced["full"]["ms"][0]
    for n, st in traced["stages"].items():
        out[f"dag.{n}_ms"] = float(st["ms"] or 0)
    out["jvm.peak_rss_mb"] = traced["peak_rss_kb"] / 1024
    out["dag.reuse_tick_ms"] = statistics.median(traced["reuse"]["ms"])
    out["dag.reused_stages"] = float(sum(1 for st in traced["stages"].values() if st["reused"]))
    tasks = traced["task_ms"]
    try:
        out["exec.task_p50_ms"] = percentile(tasks, 50)
    except ValueError:
        out["exec.task_p50_ms"] = -1.0
    out["exec.task_max_ms"] = max(tasks) if tasks else 0.0
    out["trace.spans"] = float(len(traced["spans"]))
    out["trace.tick_overhead_ms"] = tick_ms - untraced["full"]["ms"][0]
    out["trace.setup_overhead_ms"] = traced["setup_ms"] - untraced["setup_ms"]
    return out


def check_names():
    names = list(METRICS["end_to_end"]) + list(METRICS["per_layer"]) + list(METRICS["workloads"])
    bad = [n for n in names if not NAME_RE.match(n)]
    if bad:
        raise BenchError(f"invalid metric or workload names: {bad}")


def bench(workload, seed, seconds, trace):
    check_names()
    if workload not in METRICS["workloads"]:
        raise BenchError(f"unknown workload {workload}")
    for f in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise BenchError(f"program source {f} not found under {ROOT}")
    src_hash = source_hash()
    classpath = build(src_hash)
    host = host_record(seed, src_hash)
    expected = EXPECTED.get(workload, {})
    t0 = time.monotonic()
    recs, setups = [], []
    while not recs or time.monotonic() - t0 < seconds or (trace and len(recs) < 2):
        traced = bool(trace) and len(recs) % 2 == 1
        recs.append(iteration(classpath, workload, traced, len(recs)))
        if not trace:
            for _ in range(SETUP_PROBES):
                setups.append(setup_probe(classpath, len(setups)))
    host["loadavg_end"] = os.getloadavg()
    scores = [score(r, expected) for r in recs]
    attempted = sum(a for a, _ in scores)
    failed = sum(f for _, f in scores)
    good = passing(recs, scores)
    if trace:
        traced = [r for r in good if r["layers"]] or [r for r in recs if r["layers"]]
        untraced = [r for r in good if not r["layers"]] or [r for r in recs if not r["layers"]]
        values = per_layer(traced[0], untraced[0])
        units = {k: v["unit"] for k, v in METRICS["per_layer"].items()}
    else:
        values = end_to_end(good, setups)
        units = {k: v["unit"] for k, v in METRICS["end_to_end"].items()}
    artifact = {
        "workload": workload, "trace": trace, "host": host,
        "java_version": recs[0]["java_version"], "spark_version": recs[0]["spark_version"],
        "iterations": [{k: v for k, v in r.items() if k not in ("spans", "task_ms")} for r in recs],
        "setup_probes_ms": setups,
        "self_times": [r["self_times"] for r in recs if r["spans"]],
        "metrics": values,
    }
    results = os.path.join(SCRATCH, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    with open(os.path.join(results, f"{tag}-spans.json"), "w") as fh:
        json.dump([r["spans"] for r in recs if r["spans"]], fh)
    print(json.dumps({"host": host, "java": artifact["java_version"],
                      "spark": artifact["spark_version"], "iterations": len(recs),
                      "self_times": artifact["self_times"]}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    try:
        if args.selftest:
            import selftest
            selftest.main(sys.modules[__name__])
            return
        if not args.workload:
            ap.error("--workload is required")
        result = bench(args.workload, args.seed, args.seconds, args.trace)
    except BenchError as e:
        log(str(e))
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
