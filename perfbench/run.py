"""Layered benchmark of the Zarr read, selection and write paths.

    python3 perfbench/run.py --workload zarr-scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload zarr-select --seed 1 --seconds 10 --repeat 5
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (perfbench/build.py), runs
one workload in one JVM and prints, as the last stdout line, one compact
JSON object: correct, attempted, failed and metrics (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("zarr-scan", "zarr-select", "zarr-write")
HEAP = "1g"
JVM_TIMEOUT_S = 170
MAX_LINE_BYTES = 4096
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_once(classpath, workload, seed, seconds, trace, selftest=False):
    """One benchmark process; returns the parsed result object."""
    work = os.path.join(ROOT, ".bench_build", "work", f"{os.getpid()}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opts = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=64",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = ["java", *opts, "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--work", work,
           "--selftest", "1" if selftest else "0",
           "--t0-ms", str(int(time.time() * 1000))]
    start = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=ROOT)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise RuntimeError(f"{workload} seed {seed}: JVM exceeded {JVM_TIMEOUT_S}s")
    finally:
        if trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(ROOT, ".bench_build", "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(ROOT, ".bench_build", "traces", f"{workload}-{seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    for line in err.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    print(f"[perfbench] {workload} seed {seed}: {time.time() - start:.1f}s wall", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: JVM exit {proc.returncode}\n{err[-3000:]}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        raise RuntimeError(f"malformed result: {lines[-1][:500]}")
    return result


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def repeat(classpath, args):
    """N runs on consecutive seeds; prints each metric's median and quartiles."""
    runs = [run_once(classpath, args.workload, args.seed + i, args.seconds, args.trace)
            for i in range(args.repeat)]
    names = list(runs[0]["metrics"])
    print(f"{args.workload}: {args.repeat} runs, seeds {args.seed}..{args.seed + args.repeat - 1}")
    print(f"{'metric':36} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{n:36} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f}")
    print("failed/attempted:", [f"{r['failed']}/{r['attempted']}" for r in runs])
    print("correct:", all(r["correct"] for r in runs))


def selftest(classpath):
    """A corrupted chunk and a wrong expected value must count as failures."""
    r = run_once(classpath, "zarr-scan", 7, 1, False, selftest=True)
    # zarr-scan rounds have 7 operations; the corrupted zstd chunk fails two
    # of them and the shifted expected value one more
    rounds = r["attempted"] // 7
    ok = rounds > 0 and r["attempted"] == 7 * rounds and r["failed"] == 3 * rounds and not r["correct"]
    print(f"[perfbench] selftest: attempted={r['attempted']} failed={r['failed']} "
          f"correct={r['correct']} -> {'ok' if ok else 'FAILED'}", file=sys.stderr)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="N runs on seeds seed..seed+N-1; print quartiles")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    try:
        classpath = build.build()
        if args.selftest:
            sys.exit(0 if selftest(classpath) else 1)
        if args.repeat:
            repeat(classpath, args)
            return
        result = run_once(classpath, args.workload, args.seed, args.seconds, args.trace)
    except (build.BuildError, RuntimeError, ValueError) as e:
        sys.exit(f"[perfbench] {e}")
    line = json.dumps(result, separators=(",", ":"))
    assert len(line.encode()) <= MAX_LINE_BYTES, f"result line is {len(line.encode())} bytes"
    print(line)


if __name__ == "__main__":
    main()
