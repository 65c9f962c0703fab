#!/usr/bin/env python3
"""graft serve / ingest benchmark.

One run:
    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0
prints the run's result JSON as the last line of stdout. The first run in
a checkout builds the library and the benchmark with sbt (the classpath
is cached under perfbench/.work until a source file changes); every run
then starts one JVM with a fixed heap.

Repeat mode runs one workload several times on consecutive seeds and
prints, per metric, the median, the quartiles and the spread against
the metric's bound in BENCHMARK.json:
    python3 perfbench/run.py --workload serve --repeat 10 [--seed 1] [--trace 0]

Self-test: every answer checker must reject a deliberately wrong answer:
    python3 perfbench/run.py --selftest
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HEAP = "2g"
# G1's concurrent threads and a third JIT compiler thread compete with
# the four Spark task threads for four cores; with the first two flags
# the same seed repeats within ~10% instead of ~30%. C2, still compiling
# throughout a one-minute run, made up half of the process CPU and swung
# from run to run; C1 alone keeps the CPU figures steady (see README.md)
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:CICompilerCount=2", "-XX:TieredStopAtLevel=1"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(tree):
            inputs += [os.path.join(dirpath, f) for f in files]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, cwd, capture):
    """Run cmd in its own process group; kill the group on timeout, or
    when this script is terminated, and wait for it, so no process
    outlives the call."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True, start_new_session=True)

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
        log(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
        return None, -1
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return out, proc.returncode


def classpath():
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the library and the benchmark with sbt")
    t0 = time.time()
    out, rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                           "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, HERE, capture=True)
    if rc != 0:
        log(f"sbt failed (exit {rc})")
        sys.exit(3)
    lines = [ln.strip() for ln in out.splitlines() if ln.strip() and not ln.startswith("[")]
    if not lines:
        log("sbt printed no classpath")
        sys.exit(3)
    cp = lines[-1]
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def jvm(main_class, args, cp):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JVM_FLAGS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              "-cp", cp, main_class] + args)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    return run_bounded(cmd, RUN_TIMEOUT_S, ROOT, capture=True)


def one_run(workload, seed, seconds, trace, cp):
    """One benchmark run; returns the parsed result or None."""
    work = os.path.join(WORK, f"run-{os.getpid()}-{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out, rc = jvm("graftbench.Main", ["--workload", workload, "--seed", str(seed),
                                          "--seconds", str(seconds), "--trace", str(trace),
                                          "--work", work], cp)
    finally:
        if trace:  # keep the span file next to the runs
            for f in os.listdir(work) if os.path.isdir(work) else []:
                if f.startswith("spans-"):
                    shutil.move(os.path.join(work, f), os.path.join(WORK, f))
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not out:
        log(f"benchmark JVM exited {rc}")
        return None
    try:
        res = json.loads(out.strip().splitlines()[-1])
    except (ValueError, IndexError):
        log("no result line from the benchmark JVM")
        return None
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        log(f"malformed result keys {sorted(res)}")
        return None
    return res


def spread_report(workload, results, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end" if not trace else "per_layer"]}
    print(f"workload {workload}: {len(results)} runs")
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"  failed share per run: {shares}; correct: {all(r['correct'] for r in results)}")
    names = results[0]["metrics"].keys()
    for n in names:
        vals = [r["metrics"][n]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(n)
        tail = f"bound {b}  spread/bound {spread / b:.2f}" if b else ""
        print(f"  {n:28s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {spread:7.4f}  {tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the graft library sources (build.sbt, src/main/scala/graft) are not next to perfbench/")
        sys.exit(2)
    cp = classpath()

    if a.selftest:
        out, rc = jvm("graftbench.SelfTest", [], cp)
        sys.stdout.write(out or "")
        sys.exit(0 if rc == 0 else 1)
    if not a.workload:
        ap.error("--workload is required")
    if a.repeat:
        results = []
        for i in range(a.repeat):
            r = one_run(a.workload, a.seed + i, a.seconds, a.trace, cp)
            if r is None:
                sys.exit(1)
            log(f"seed {a.seed + i}: {json.dumps(r)}")
            results.append(r)
        spread_report(a.workload, results, a.trace)
        return
    r = one_run(a.workload, a.seed, a.seconds, a.trace, cp)
    if r is None:
        sys.exit(1)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
