#!/usr/bin/env python3
"""graft benchmark: seeded workloads through graft's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles graft
(`src/main/scala`) and the benchmark's JVM side (`perfbench/src`) with the
Scala compiler Spark ships, into `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse the classes while the sources are
unchanged. Each run then generates the workload's inputs from the seed
(untimed), launches one JVM that sets up and runs ops in a closed loop for
`--seconds`, checks the outputs against the program's DuckDB oracle, and
prints one JSON line last: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. A readable report goes to stderr.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# BENCHMARK.json is the one list of workloads and metrics: names, units
# and directions are read from it, and a run checks that it reports
# exactly the metrics listed there
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]

# a run must exit within 180 s of its build; the oracle check and the
# report after the JVM need at most CHECK_RESERVE_S of that
EXIT_LIMIT_S = 180
CHECK_RESERVE_S = 20
# past this many seconds before its hard limit, the traced run's layer
# probes run once each instead of twice
PROBE_RESERVE_S = 45
SELF_TEST_TIMEOUT_S = 600


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ stats

def tail(samples, beyond=10):
    """Highest percentile of `samples` with at least `beyond` samples above
    it: (percentile, value, n), or None when n <= beyond."""
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        return None
    k = n - beyond - 1  # 0-based rank: exactly `beyond` samples lie above
    return 100.0 * (k + 1) / n, s[k], n


def end_to_end(record, launch_epoch):
    ops = record["ops"]
    secs = [o["seconds"] for o in ops]
    return {
        "op_p50_s": statistics.median(secs),
        "rows_per_s": sum(o["input_rows"] for o in ops) / sum(secs),
        "setup_s": record["first_op_epoch_ms"] / 1000.0 - launch_epoch,
    }


# ------------------------------------------------------------------ build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("Spark jars with scala-compiler not found (set SPARK_HOME)")
    return jars


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(jars, out, srcs, classpath, log_path):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    with open(log_path, "w") as lf:
        rc = subprocess.run(cmd + ["@" + argfile], stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BenchError(f"compilation failed, see {log_path}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(build_dir, jars):
    """Compile graft and the benchmark's JVM side if their sources changed;
    return the classpath."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    graft_srcs = sorted(glob.glob(os.path.join(graft_src, "**", "*.scala"), recursive=True))
    if not graft_srcs:
        raise BenchError(f"no graft sources under {graft_src}")
    bench_srcs = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    jar_list = ",".join(sorted(os.listdir(jars)))
    os.makedirs(build_dir, exist_ok=True)
    out = []
    dep = ""
    for name, srcs in (("graft", graft_srcs), ("bench", bench_srcs)):
        classes = os.path.join(build_dir, f"{name}-classes")
        stamp = classes + ".stamp"
        digest = _digest(srcs, jar_list + dep)
        if not (os.path.isdir(classes) and os.path.exists(stamp)
                and open(stamp).read() == digest):
            t0 = time.time()
            log(f"[bench] compiling {name} ({len(srcs)} files)")
            _scalac(jars, classes, srcs, ":".join(out), os.path.join(build_dir, f"{name}-build.log"))
            with open(stamp, "w") as f:
                f.write(digest)
            log(f"[bench] compiled {name} in {time.time() - t0:.1f} s")
        out.append(classes)
        dep = digest
    return ":".join(reversed(out)) + ":" + os.path.join(jars, "*")


# ------------------------------------------------------------------ run

def run_jvm(classpath, main, args, run_dir, log_path, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + ADD_OPENS + [
        "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),  # as tools/run_main.sh
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-Dspark.callstack.depth=64",
        "-cp", classpath, main] + args)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM exceeded {timeout} s, see {log_path}")
    if rc != 0:
        with open(log_path) as lf:
            tail_lines = lf.read().splitlines()[-25:]
        raise BenchError(f"JVM exited with {rc}:\n" + "\n".join(tail_lines))


def run(args):
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir, spark_jars())
    jvm_deadline = time.time() + EXIT_LIMIT_S - CHECK_RESERVE_S
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    t_gen = time.time()
    props = gen.generate(args.workload, args.seed, data)
    t_gen = time.time() - t_gen
    out = os.path.join(run_dir, "record.json")
    trace_out = os.path.join(build_dir, f"trace-{args.workload}-{args.seed}.jsonl")
    jvm_args = ["--workload", args.workload, "--data", data,
                "--work", os.path.join(run_dir, "work"),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--out", out, "--trace-out", trace_out,
                "--op-rows", str(props["op_input_rows"]),
                "--late-per-drop", str(props.get("late_per_drop", 0)),
                "--probe-deadline-ms", str(int((jvm_deadline - PROBE_RESERVE_S) * 1000))]
    launch = time.time()
    run_jvm(classpath, "graftbench.Main", jvm_args, run_dir, os.path.join(run_dir, "jvm.log"),
            jvm_deadline - launch)
    t_jvm = time.time() - launch
    with open(out) as f:
        record = json.load(f)
    t_check = time.time()
    mismatches = oracle.check(args.workload, data, record, os.path.join(build_dir, "oracle"))
    t_check = time.time() - t_check
    log(f"[bench] wall: generate {t_gen:.1f} s, jvm {t_jvm:.1f} s "
        f"(last op ended {record['last_op_epoch_ms'] / 1000 - launch:.1f} s in), "
        f"check {t_check:.1f} s")
    ops = record["ops"]
    failed_ids = {o["id"] for o in ops if o["failed"]}
    if mismatches and ops:
        failed_ids.add(ops[-1]["id"])  # the final state belongs to the last op
    report(args, props, record, mismatches, launch)
    if args.trace:
        values = dict(record["layers"])  # in the order the JVM reports them
        values["heap_peak_mb"] = record["heap_peak_mb"]
        values["pins_leaked"] = record["pins_leaked"]
        values["failed_frac"] = len(failed_ids) / len(ops)
        listed = SPEC["per_layer"]
    else:
        values = end_to_end(record, launch)
        listed = SPEC["end_to_end"]
    names = {m["name"] for m in listed}
    if set(values) != names:
        raise BenchError("metrics differ from BENCHMARK.json: "
                         f"{sorted(set(values) ^ names)}")
    result = {
        "correct": not failed_ids and not mismatches,
        "attempted": len(ops),
        "failed": len(failed_ids),
        "metrics": {n: {"value": v, "unit": UNITS[n]} for n, v in values.items()},
    }
    if result["correct"]:  # a failed run keeps its inputs and logs
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)


def report(args, props, record, mismatches, launch):
    ops = record["ops"]
    secs = [o["seconds"] for o in ops]
    log(f"[bench] {args.workload} seed={args.seed} trace={args.trace} "
        f"ops={len(ops)} inputs={json.dumps(props, sort_keys=True)}")
    log("[bench]   op seconds: " + " ".join(f"{x:.3f}" for x in secs))
    for k, v in end_to_end(record, launch).items():
        log(f"[bench]   {k:<16} {v:12.4f}")
    cpu = statistics.median(o["cpu_seconds"] for o in ops)
    log(f"[bench]   op_cpu_p50_s     {cpu:12.4f}")
    t = tail(secs)
    log(f"[bench]   op_tail_s        " + (
        f"{t[1]:12.4f}  (p{t[0]:.1f} of {t[2]} ops)" if t else
        f"         n/a  ({len(secs)} ops; the tail needs at least 11)"))
    log(f"[bench]   heap_peak_mb     {record['heap_peak_mb']:12.1f}")
    log(f"[bench]   pins_leaked      {record['pins_leaked']:12d}")
    for o in ops:
        if o["failed"]:
            log(f"[bench]   op {o['id']} FAILED: problem={o['problem']} error={o['error']}")
    for m in mismatches:
        log(f"[bench]   oracle mismatch: {m}")
    if not mismatches:
        log(f"[bench]   output check: {record['summary_of']} oracle matches")


def self_test():
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    rc = subprocess.run([sys.executable, "-m", "unittest", "-q", "test_bench"], cwd=HERE).returncode
    classpath = build(build_dir, spark_jars())
    run_dir = os.path.join(build_dir, "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        run_jvm(classpath, "graftbench.SelfTest", [], run_dir, log_path, SELF_TEST_TIMEOUT_S)
        with open(log_path) as f:
            log("".join(line for line in f if line.startswith("[selftest]")))
    except BenchError as e:
        log(str(e))
        rc = rc or 1
    sys.exit(rc)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=9)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args()
    try:
        if args.self_test:
            self_test()
        elif not args.workload:
            p.error("--workload is required")
        else:
            run(args)
    except BenchError as e:
        log(f"[bench] error: {e}")
        sys.exit(1)


if __name__ == "__main__":
    main()
