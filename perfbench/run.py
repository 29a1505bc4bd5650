"""Runs one workload of the graft benchmark and prints its result object as
the last line of stdout.

    python3 perfbench/run.py --workload kg_templated --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run compiles the program and the
benchmark (perfbench/build.py). --trace 1 gives the per-layer metrics and
writes a span/stage trace next to the build. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # the benchmark writes only under its build directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# A fixed young generation: G1's adaptive sizing made the heap metric bimodal.
# No perf-data file: the JVM would write it under /tmp, outside the checkout.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss8m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                         "log4j2.properties")] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # battery only: run all 100 queries and write their row counts and
    # digests to this file instead of checking them against
    # perfbench/data/battery_expected.tsv
    ap.add_argument("--pin")
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
           "--data", os.path.join(build.ROOT, "perfbench", "data", "sf0.001")]
    if a.pin:
        cmd += ["--pin", os.path.abspath(a.pin)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    try:
        out, _ = proc.communicate(timeout=600 if a.pin else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"perfbench: benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
