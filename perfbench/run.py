"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source on first use
(see build.py), runs the workload in one JVM on local[N] with N = the CPUs
this process may use, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end-to-end ones, with --trace 1 its per-layer ones.
Exits non-zero when an output check or an operation failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("listing_ingest", "analytics_mix", "index_maintenance")
JVM_TIMEOUT_S = 175
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = "BENCHMARK.json"
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    os.makedirs(build.BUILD, exist_ok=True)
    classpath = build.build()

    cores = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    traces = os.path.join(build.BUILD, "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(traces, exist_ok=True)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
            "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
            "-Djava.io.tmpdir=" + work,
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores), "--traces", traces]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.stdout.write(out)
        fail(f"the JVM exited with {proc.returncode} and printed no result")
    for line in lines[:-1]:
        print(line)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = result["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            value = got[m["name"]]["value"]
        elif a.trace:
            value = 0.0  # a layer this workload does not exercise
        else:
            fail(f"end-to-end metric {m['name']} was not measured")
        if not a.trace and not value > 0:
            fail(f"end-to-end metric {m['name']} read {value}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if a.trace:
        for k in sorted(got):
            print(f"layer {k} = {got[k]['value']}")
    ok = result["correct"] and proc.returncode == 0
    print(json.dumps({"correct": ok, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
