#!/usr/bin/env python3
"""Repository benchmark for the graft engine.

Builds the engine and the harness from source (first run in a checkout),
then runs one workload in a fresh driver JVM at local[<cores>] and prints
every metric with its unit. The last stdout line is the result JSON:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.

    python3 layerbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0
    python3 layerbench/run.py --selftest   # corrupted outputs must count as failed
    python3 layerbench/run.py --record-golden   # query_mix golden results, after a
                                                 # deliberate change of its outputs
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_batch", "table_commits", "query_mix")
GOLDEN = os.path.join(HARNESS, "src", "main", "resources", "layerbench", "query_mix_golden.tsv")
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")))


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine and harness; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dsbt.server.autostart=false", "writeClasspath"]
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=HARNESS, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}); log in {log}")
    shutil.copyfile(os.path.join(HARNESS, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    with open(cp_file) as f:
        return f.read().strip()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(cp, workload, seed, seconds, trace, extra=()):
    """Run the harness once; return (stdout lines, result dict or None)."""
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(BUILD, "logs", f"{workload}-seed{seed}-trace{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    trace_out = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json")
    cmd = [java, "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-cp", cp, "layerbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--trace-out", trace_out,
            "--t0-ms", str(int(time.time() * 1000)), *extra]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
            print(f"layerbench: {workload} exceeded {JVM_TIMEOUT_S}s; log in {log}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"layerbench: {workload} produced no result (exit {proc.returncode}); "
              f"log in {log}", file=sys.stderr)
    return lines[:-1] if result else lines, result


def selftest(cp):
    """Each workload with every third output check fed a corrupted value:
    the run must report failed ops and correct=false."""
    ok = True
    for w in WORKLOADS:
        lines, res = run_jvm(cp, w, 1, 3, 0, ["--corrupt", "1"])
        caught = res is not None and res["failed"] > 0 and res["correct"] is False
        ok &= caught
        frac = res["failed"] / res["attempted"] if res else float("nan")
        print(f"selftest {w}: failed {res and res['failed']} of {res and res['attempted']} "
              f"ops (failed_frac {frac:.3f}) -> {'caught' if caught else 'NOT CAUGHT'}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-golden", action="store_true",
                    help="rewrite the query_mix golden results from this checkout's engine")
    a = ap.parse_args()
    if not program_present():
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    cp = build()
    if a.selftest:
        sys.exit(selftest(cp))
    if a.record_golden:
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        lines, _ = run_jvm(cp, "query_mix", 1, 1, 0, ["--golden-out", GOLDEN])
        print("\n".join(l for l in lines if "golden" in l))
        sys.exit(0 if os.path.exists(GOLDEN) else 1)
    if not a.workload:
        fail("--workload is required")
    lines, res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace)
    print("\n".join(lines))
    if res is None:
        sys.exit(1)
    want = expected_metrics(a.trace)
    if sorted(res["metrics"]) != sorted(want):
        fail(f"metric names differ from BENCHMARK.json: "
             f"missing {sorted(set(want) - set(res['metrics']))}, "
             f"extra {sorted(set(res['metrics']) - set(want))}")
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
