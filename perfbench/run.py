#!/usr/bin/env python3
"""graft benchmark: closed-loop query workloads at local[nproc].

    python3 perfbench/run.py --workload eda_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record            # re-record output digests

Run from the repository root. The first run compiles graft's sources and
the harness with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, else the `unmanagedBase` of build.sbt), and generates
the input tables; both land in .bench_build/perfbench and are reused
while their inputs are unchanged. Each run prints every metric with its
unit, then, as its last line, one JSON object: correct, attempted,
failed and metrics (end-to-end with --trace 0, per-layer with --trace 1).
End-to-end times are scaled to a reference host speed (HostSpeed.scala).
The full result (environment stamp, unscaled metrics, failures, every
call) is written to .bench_build/perfbench/results/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["eda_small", "dedup_events"]
SCALE_FACTORS = {"sf0.01": 0.01, "sf0.1": 0.1}
HEAP = "-Xmx4g"
JVM_FLAGS = [HEAP, "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
END_TO_END = ["setup_s", "queries_per_s", "latency_p50_s", "latency_p90_s",
              "cpu_s", "peak_live_heap_mb"]
RUN_TIMEOUT_S = 170
CORES = len(os.sched_getaffinity(0))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("Spark jars not found: set SPARK_HOME")


def sources(base):
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_scala(jars, classpath, srcs, out):
    compiler = [j for m in ("compiler", "library", "reflect")
                for j in glob.glob(os.path.join(jars, f"scala-{m}-*.jar"))]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
                    "-cp", classpath, "@" + argfile], check=True, stdout=sys.stderr)


def build():
    """Compiles graft and the harness, and generates the tables, once per
    distinct set of inputs. Returns the JVM classpath and the tables root."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    main_srcs = sources(graft_src)
    if not main_srcs:
        fail(f"no graft sources under {os.path.relpath(graft_src, ROOT)}")
    jars = spark_jars()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        graft_out, bench_out = os.path.join(WORK, "graft"), os.path.join(WORK, "harness")
        spark_cp = os.path.join(jars, "*")
        bench_srcs = sources(os.path.join(HERE, "src"))
        graft_stamp = digest_files(main_srcs)
        bench_stamp = graft_stamp + digest_files(bench_srcs)
        for out, stamp, cp, srcs in ((graft_out, graft_stamp, spark_cp, main_srcs),
                                     (bench_out, bench_stamp, os.pathsep.join([graft_out, spark_cp]),
                                      bench_srcs)):
            stamp_file = out + ".stamp"
            if not os.path.exists(stamp_file) or open(stamp_file).read() != stamp:
                t = time.time()
                compile_scala(jars, cp, srcs, out)
                with open(stamp_file, "w") as f:
                    f.write(stamp)
                print(f"perfbench: compiled {os.path.basename(out)} in {time.time() - t:.1f}s",
                      file=sys.stderr)
        gen = os.path.join(HERE, "datagen.py")
        data_stamp = digest_files([gen])[:16]
        for sf, scale in SCALE_FACTORS.items():
            out = os.path.join(WORK, "data", data_stamp, sf)
            if not os.path.isdir(out):
                subprocess.run([sys.executable, gen, out, str(scale)], check=True)
    return os.pathsep.join([bench_out, graft_out, spark_cp]), os.path.join(WORK, "data", data_stamp)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "source-" + digest_files(sources(os.path.join(ROOT, "src", "main", "scala")))[:16]


def run_jvm(classpath, main, args, log_path):
    """Runs one benchmark JVM in its own process group, with scratch
    space of its own; kills the group if it outlives the run timeout.
    Returns the exit code."""
    scratch = os.path.join(WORK, "scratch", str(os.getpid()))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Djava.io.tmpdir={tmp}"] + JVM_FLAGS + ["-cp", classpath, main] + args + [
        "--scratch", scratch]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=WORK,
                                start_new_session=True)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -1
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(scratch, ignore_errors=True)


def show_log_tail(log_path, n=40):
    with open(log_path) as f:
        lines = f.readlines()
    sys.stderr.writelines(lines[-n:])


def run_workload(classpath, data, workload, seed, seconds, trace):
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, f"{workload}-seed{seed}-trace{trace}-{int(time.time() * 1000)}")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(CORES),
            "--data", data, "--layers", os.path.join(HERE, "layers.tsv"),
            "--digests", os.path.join(HERE, "digests.tsv"), "--commit", commit(),
            "--out", base + ".json", "--trace-out", base + ".spans.jsonl"]
    code = run_jvm(classpath, "graft.perfbench.Main", args, base + ".log")
    if code != 0:
        show_log_tail(base + ".log")
        fail(f"{workload}: benchmark JVM exited with {code} (log {os.path.relpath(base, ROOT)}.log)")
    with open(base + ".json") as f:
        res = json.load(f)
    for fl in res["failures"]:
        print(f"FAILED {fl['query']} [{fl['layer']}]: {fl['error']}", file=sys.stderr)
    section = "per_layer" if trace else "end_to_end"
    metrics = res[section]
    if not trace:
        metrics = {k: metrics[k] for k in END_TO_END}
    env = res["env"]
    print(f"# {workload}: seed {seed}, {env['master']}, {env['sf_dir']}, {env['passes']} pass(es), "
          f"{res['attempted']} calls, {res['failed']} failed, result {os.path.relpath(base, ROOT)}.json")
    for name, m in metrics.items():
        print(f"{workload} {name} {m['value']} {m['unit']}")
    return res, metrics


def self_test(classpath, data):
    log = os.path.join(WORK, "selftest.log")
    args = ["--data", data, "--layers", os.path.join(HERE, "layers.tsv"),
            "--digests", os.path.join(HERE, "digests.tsv"), "--cores", str(CORES)]
    code = run_jvm(classpath, "graft.perfbench.SelfTest", args, log)
    with open(log) as f:
        print("".join(l for l in f if l.startswith(("PASS", "FAIL"))), end="")
    if code != 0:
        show_log_tail(log)
        print(f"self-test failed (exit {code}, log {os.path.relpath(log, ROOT)})")
    return code


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", action="store_true",
                    help="re-record perfbench/digests.tsv from repeated runs of every workload")
    a = ap.parse_args()
    classpath, data = build()
    if a.self_test:
        sys.exit(self_test(classpath, data))
    if a.record:
        out = os.path.join(HERE, "digests.tsv")
        tmp = out + ".new"
        with open(tmp, "w") as f:
            f.write("# scale factor, bench row, result rows, sum of row hashes\n")
        for w in WORKLOADS:
            log = os.path.join(WORK, f"record-{w}.log")
            code = run_jvm(classpath, "graft.perfbench.Main", [
                "--workload", w, "--seed", "0", "--seconds", "1e9", "--trace", "0",
                "--cores", str(CORES), "--data", data,
                "--layers", os.path.join(HERE, "layers.tsv"), "--record", tmp,
                "--passes", "2", "--out", os.path.join(WORK, f"record-{w}.json")], log)
            if code != 0:
                show_log_tail(log)
                fail(f"recording {w} failed")
        os.replace(tmp, out)
        return
    if not a.workload:
        ap.error("--workload is required")
    totals = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        res, metrics = run_workload(classpath, data, w, a.seed, a.seconds, a.trace)
        totals["attempted"] += res["attempted"]
        totals["failed"] += res["failed"]
        totals["correct"] = totals["correct"] and res["failed"] == 0
        totals["metrics"] = metrics if a.workload != "all" else {
            **totals["metrics"], **{f"{w}.{k}": v for k, v in metrics.items()}}
    print(json.dumps(totals))


if __name__ == "__main__":
    main()
