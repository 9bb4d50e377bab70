"""Steady-state benchmark of the Calabrio restatement, snapshot-table
commits and reads, and streaming upserts.

Usage (from the repository root):
  python3 steadybench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 steadybench/run.py --selftest

Builds the program and the benchmark from source (steadybench/build.py),
then launches one JVM directly on the built class path -- no build tool
in the timed process -- with a fixed heap and capped GC and JIT threads;
the JVM fixes the Spark core count itself. Everything the run writes
lives under .bench_build/steadybench and is removed when the run ends,
except the compiled classes and the last log of each workload.

The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing but .bench_build behind
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("calabrio_restate", "snapshot_lifecycle")
HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit: the module openings
# org.apache.spark.launcher.JavaModuleOptions would inject.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classpath, work, main, args):
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2", "-Xss4m",
             "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
             # back the whole heap at launch, in huge pages where the OS
             # allows: first-touch page faults are costly on a virtual
             # machine and would otherwise land in the measured cycles
             "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    props = {
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "derby.system.home": os.path.join(work, "derby"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    flags += [f"-D{k}={v}" for k, v in props.items()]
    return ["java"] + flags + ["-cp", classpath, main] + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    started = time.time()
    try:
        prog, bench, jars = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    built_secs = time.time() - started
    # 180 s per run; the run that compiles may take 900 s in all
    budget = (890 if built_secs > 5 else 175) - (time.time() - started)

    base = os.path.join(os.getcwd(), ".bench_build", "steadybench")
    work = os.path.join(base, f"run-{os.getpid()}")
    logs = os.path.join(base, "logs")
    os.makedirs(work, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    classpath = ":".join([bench, prog, os.path.join(jars, "*")])
    if a.selftest:
        main_cls, args, log_name = "steadybench.SelfTest", ["--work", work], "selftest"
    else:
        main_cls = "steadybench.Main"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work]
        log_name = f"{a.workload}-trace{a.trace}"
    log_path = os.path.join(logs, log_name + ".log")
    proc = None
    try:
        with open(log_path, "w") as log:
            # setup_s starts here: the build above is not part of it
            t0_ms = str(int(time.time() * 1000))
            proc = subprocess.Popen(jvm_command(classpath, work, main_cls, args + ["--t0-ms", t0_ms]),
                                    stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=max(10.0, budget))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"timed out; log: {log_path}", file=sys.stderr)
                return 3
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        print(f"JVM exited {proc.returncode}; log: {log_path}", file=sys.stderr)
        return proc.returncode or 4
    if a.selftest:
        print(lines[-1])
        return 0
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print(f"no result line; log: {log_path}", file=sys.stderr)
        return 5
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
