#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the library and harness from source
(perfbench/build.py), generates the workload's inputs from the seed, runs its
ops in a closed loop with one client for S seconds on a local[k] session
(k = available cores, at most 4), checks every op's output, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run (spans around every library call, written
to .bench_build/perfbench/traces/). The line before it is a JSON object with
the run's identity and environment. Exit status is 0 only when every op ran
and passed its output check.

The heap comes from SPARK_DRIVER_MEM (default 3g). --corrupt 1 corrupts one
published row after the first op, which the output check must report.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170.0
# Set-up-only JVMs after the run; setup_s is the median of these and the
# run's own JVM.
SETUP_PROBES = 1
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def java_cmd(cp, work, args, cds=()):
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", *cds, "-Xmx" + heap, "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens + ["-cp", cp, "perfbench.Main", "--work", work, "--cores", str(cores())]
            + args)


def launch(cmd, log, timeout):
    """Runs the JVM; returns (seconds from spawn to session-ready, result payload)."""
    t0 = time.perf_counter()
    ready = None
    payload = None
    with open(log, "a") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        timer = threading.Timer(timeout, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                if line.startswith("perfbench-ready") and ready is None:
                    ready = time.perf_counter() - t0
                elif line.startswith("perfbench-result "):
                    payload = json.loads(line[len("perfbench-result "):])
            proc.stdout.close()
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        raise RuntimeError(f"benchmark JVM exited with {rc}; see {log}")
    return ready, payload


def class_archive(cp, base, log):
    """The JVM class-data archive of the session's start-up classes, made
    once per build by a JVM that only builds the session. Every JVM loads
    it, so set-up skips parsing and verifying those classes; a JVM that
    cannot make one runs without it."""
    jsa = cp.split(os.pathsep)[0][:-len(".jar")] + ".jsa"
    if not os.path.isfile(jsa):
        work = os.path.join(base, "work", f"archive-{os.getpid()}")
        tmp = f"{jsa}.{os.getpid()}.tmp"
        try:
            launch(java_cmd(cp, work, ["--mode", "probe"], ["-XX:ArchiveClassesAtExit=" + tmp]),
                   log, 120)
            os.rename(tmp, jsa)
        except (RuntimeError, OSError) as e:
            print(f"perfbench: no class-data archive ({e}); running without", file=sys.stderr)
            return []
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if os.path.exists(tmp):
                os.remove(tmp)
    return ["-XX:SharedArchiveFile=" + jsa]


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def tail(xs):
    """The highest percentile with at least ten samples beyond it; with
    fewer than 20 samples no percentile above the median has ten, so the
    median is reported."""
    q = max(0.5, 1.0 - 10.0 / len(xs))
    return (statistics.median(xs) if q == 0.5 else quantile(xs, q)), q


def identity(repo, lib_hash):
    def git(*a):
        try:
            return subprocess.run(["git", *a], cwd=repo, capture_output=True, text=True,
                                  timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return ""
    commit = git("rev-parse", "HEAD") or None
    dirty = bool(git("status", "--porcelain", "--", "src", "perfbench")) if commit else None
    return {"git_commit": commit, "git_dirty": dirty, "library_sources_sha256": lib_hash}


def end_to_end(ops, setups):
    # a --corrupt run stops after the cold op, which then stands in as warm
    cold, warm = ops[0], ops[1:] or ops[:1]
    walls = [o["wall_s"] for o in warm]
    t, q = tail(walls)
    failed = sum(1 for o in ops if o["error"] or o["failed_checks"])
    values = {
        "setup_s": statistics.median(setups),
        "cold_op_s": cold["wall_s"],
        "op_s.p50": statistics.median(walls),
        "op_s.tail": t,
        "rows_per_s": statistics.median(o["input_rows"] / o["wall_s"] for o in warm),
        "task_cpu_s": statistics.median(o["task_cpu_s"] for o in warm),
        "spark_jobs": statistics.median(o["jobs"] for o in warm),
        "write_amp": statistics.median(o["written_b"] / max(1, o["input_b"]) for o in warm),
        "storage_mb": statistics.median(o["storage_mb"] for o in warm),
        "quality": statistics.median(o["quality"] for o in ops),
        "ok_ratio": (len(ops) - failed) / len(ops),
    }
    return values, {"op_s.tail": f"p{q * 100:g} of n={len(walls)} warm ops"}


def per_layer(ops, units):
    traced = [o for o in ops[1:] if o["traced"] and "layer" in o]
    plain = [o["wall_s"] for o in ops[1:] if not o["traced"]]
    values = {n: 0.0 for n in units}
    for name in values:
        xs = [o["layer"][name] for o in traced if name in o["layer"]]
        if xs:
            values[name] = statistics.median(xs)
    if traced and plain:
        values["trace.overhead"] = (statistics.median(o["wall_s"] for o in traced)
                                    / statistics.median(plain))
    ck = [o["wall_s"] for o in ops[1:] if o["checkpoint"]]
    if ck:
        values["txlog.checkpoint_op_s"] = statistics.median(ck)
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.ALL)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.perf_counter()
    repo = os.getcwd()
    try:
        cp, lib_hash = build.ensure_built(repo)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    base = os.path.join(repo, build.BUILD)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(base, "work", tag)
    log = os.path.join(base, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_file = os.path.join(base, "traces", tag + ".json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--corrupt", str(a.corrupt), "--trace-file", trace_file]
    cds = class_archive(cp, base, log)
    t_jvm = time.perf_counter()
    try:
        ready, payload = launch(java_cmd(cp, work, ["--mode", "run"] + args, cds), log,
                                DEADLINE_S - 20)
        setups = [ready]
        wall = {"build_s": t_jvm - start, "run_jvm_s": time.perf_counter() - t_jvm}
        if a.trace == 0 and not a.corrupt:
            for _ in range(SETUP_PROBES):
                budget = DEADLINE_S - (time.perf_counter() - start)
                if budget < 15:
                    break
                probe = os.path.join(work, "probe")
                setups.append(launch(java_cmd(cp, probe, ["--mode", "probe"], cds), log, budget)[0])
        wall["total_s"] = time.perf_counter() - start
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if payload is None:
        print(f"perfbench: no result from the benchmark JVM; see {log}", file=sys.stderr)
        return 3

    ops = payload["ops"]
    failures = sorted({f for o in ops for f in o["failed_checks"]})
    failed = sum(1 for o in ops if o["error"] or o["failed_checks"])
    notes = {}
    if a.trace:
        units = dict(metrics.LAYER_UNITS)
        if a.workload in metrics.EXTRA_WORKLOADS:
            units.update(metrics.EXTRA_LAYER_UNITS)
        values = per_layer(ops, units)
    else:
        values, notes = end_to_end(ops, setups)
        units = metrics.E2E_UNITS
    run = dict(identity(repo, lib_hash), workload=a.workload, seed=a.seed, seconds=a.seconds,
               trace=a.trace, nproc=os.cpu_count(), gen_s=payload["gen_s"],
               input_sha256=payload["input_sha256"], input_rows=payload["input_rows"],
               input_bytes=payload["input_bytes"], class_archive=bool(cds),
               setup_samples_s=setups,
               traffic="closed loop, 1 client", env=payload["env"],
               heap=os.environ.get("SPARK_DRIVER_MEM", "3g"), failed_checks=failures,
               trace_file=payload.get("trace_file"), wall=wall, notes=notes)
    print(json.dumps({"run": run}))
    for f in failures:
        print(f"perfbench: FAILED check {f}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
