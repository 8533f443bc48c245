"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source (see build.py), then runs
the workload in one JVM on local[nproc] Spark with a private warehouse,
Spark local dir and temp dir under .bench_run/ in the checkout, all
deleted at exit. Exits non-zero, without a result line, when the build or
the run fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("small_graphs", "store_lifecycle")
# a run still going after this long is stopped and reported as failed
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    work = build.ROOT / ".bench_run" / str(os.getpid())
    for d in ("tmp", "warehouse", "local", "checkpoint", "stream", "data"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work-dir", str(work)]

    # a terminated launcher still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(f"perfbench: terminated"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(RUN_LIMIT_S, proc.kill)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    if rc != 0 or last is None:
        sys.exit(f"perfbench: run failed (exit code {rc})")
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
