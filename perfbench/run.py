#!/usr/bin/env python3
"""Benchmark of the graft engine: the Sparkify ETL and corpus dedup.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload sparkify_etl --seed 1 --seconds 20 --trace 0

It builds the engine and the harness from source (cached under
perfbench/.work/build), generates the workload's inputs from the seed, runs
one JVM with one local[nproc] session in a closed loop of batch passes,
checks every output against an independent reference, and prints the
metrics named in BENCHMARK.json as the last line of standard output:
the end_to_end metrics with --trace 0, the per_layer ones with --trace 1.
It exits non-zero when an output is wrong or the program cannot be built.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import refcheck  # noqa: E402


# the engine run may take this long for set-up and export, plus a multiple
# of the measured time (the last pass may start just before the end)
JVM_SETUP_ALLOWANCE_S = 120
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def engine_env():
    """The settings of the tier-1 verify command in ROADMAP.md: all cores,
    driver heap half of memory clamped to 2..8 GiB, unless the environment
    sets them."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if not mem:
        try:
            kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                      if l.startswith("MemTotal:"))
            mem = f"{min(8, max(2, kb // 2097152))}g"
        except (OSError, StopIteration):
            mem = "2g"
    return int(cpus), mem


def sources_stamp(root):
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, base)):
            files += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    for f in sorted(files):
        p = os.path.join(root, f)
        if os.path.isfile(p):
            h.update(f.encode() + b"\0" + open(p, "rb").read() + b"\0")
    return h.hexdigest()


def build(root, build_dir):
    """Compile engine and harness with sbt once per source state; returns
    the runtime classpath."""
    stamp = sources_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "sbt.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in open(log) if "perfbench" in l and os.pathsep in l
             and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {r.returncode}), log in {log}")
    open(cp_file, "w").write(lines[-1])
    open(stamp_file, "w").write(stamp)
    return lines[-1]


def run_jvm(cp, args, work, cpus, mem, timeout):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{mem}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={local}",
        "-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_DRIVER_MEM=mem)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"engine run failed ({rc}), log in {work}/jvm.log")


def tail(xs):
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are fewer than eleven samples."""
    s = sorted(xs)
    return s[len(s) - 11] if len(s) > 10 else s[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the root of a checkout of the engine (no src/main/scala/graft here)")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if a.workload not in gen.GENERATORS:
        fail(f"unknown workload {a.workload}")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found")

    work_root = os.path.join(HERE, ".work")
    cp = build(root, os.path.join(work_root, "build"))
    cpus, mem = engine_env()

    work = os.path.join(work_root, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    facts = gen.GENERATORS[a.workload](inputs, a.seed)
    run_jvm(cp, ["--workload", a.workload, "--inputs", inputs, "--work", work,
                 "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--cpus", str(cpus),
                 "--min-passes", str(1 + a.trace),
                 "--input-bytes", str(facts["bytes"])], work, cpus, mem,
            JVM_SETUP_ALLOWANCE_S + 3 * a.seconds)
    res = json.load(open(os.path.join(work, "result.json")))

    checks = refcheck.check(a.workload, inputs, work, facts)
    failures = res["failures"] + [f"{n}: {d}" for n, ok, d in checks if not ok]
    attempted = res["attempted"] + len(checks)
    for f in failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    untraced = [p for p in res["passes"] if not p["traced"]]
    n = len(untraced)
    traced = [p for p in res["passes"] if p["traced"]]
    p50 = statistics.median(p["s"] for p in untraced)
    e2e = {
        "setup_s": res["setup_s"],
        "pass_s.p50": p50,
        "pass_s.tail": tail([p["s"] for p in untraced]),
        "rows_per_s": facts["rows"] / p50,
        "files_written": statistics.median(p["files"] for p in untraced),
        "write_amp": statistics.median(p["bytes"] for p in untraced) / facts["bytes"],
    }
    # process CPU per pass counts JIT compiler and GC threads as well as
    # tasks, so it follows the JVM's warm-up too closely to bound end to end
    layers = dict(res["layers"], **{"exec.peak_rss_mb": res["peak_rss_mb"],
                                    "exec.heap_live_mb": res["heap_live_mb"],
                                    "exec.process_cpu_s": statistics.median(
                                        p["cpu_s"] for p in untraced)})
    if traced:
        layers["trace.pass_s.p50"] = statistics.median(p["s"] for p in traced)
        layers["trace.overhead_s"] = layers["trace.pass_s.p50"] - p50
    batches = res["stream_batch_s"]
    layers["streaming.batch_s.p50"] = statistics.median(batches) if batches else 0.0
    layers["streaming.batch_s.tail"] = tail(batches) if batches else 0.0

    key = "per_layer" if a.trace else "end_to_end"
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[key]}
    meta = {k: v for k, v in facts.items() if k != "planted"}
    meta.update(workload=a.workload, seed=a.seed, cpus=cpus, driver_mem=mem,
                passes=n, traced_passes=len(traced),
                tail_percentile=round(100.0 * (n - 10) / n if n > 10 else 100.0, 1),
                stream_batches=len(batches),
                load1=[p["load1"] for p in res["passes"]],
                steal_pct=[round(p["steal_pct"], 2) for p in res["passes"]],
                error_rate=len(failures) / attempted)
    print(json.dumps({"meta": meta}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.stdout.flush()
    # skip interpreter teardown: native thread pools of the reference
    # libraries can abort it after the result is already printed
    os._exit(1 if failures else 0)


if __name__ == "__main__":
    main()
