#!/usr/bin/env python3
"""Runs one benchmark workload from the repository root.

    python3 perfbench/run.py --workload sheets --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
generates the engine tables once, starts one JVM for the workload and
prints every end-to-end metric, the per-layer table of a traced run, and
as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Exits non-zero when an
output check failed or the run could not complete.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def tables():
    """The engine tables, generated once per checkout (fixed data seed)."""
    import gen_tables
    out = os.path.join(build.BUILD, "tables")
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    with open(os.path.join(build.BUILD, "tables.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = out + ".stamp"
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
            shutil.rmtree(out, ignore_errors=True)
            gen_tables.generate(out)
            with open(stamp_file, "w") as f:
                f.write(stamp)
    return os.path.abspath(out)


def run_jvm(a, out, deadline):
    # The JVM sees half the machine's cores (local[n], shuffle partitions,
    # endpoint threads, GC and JIT threads follow): on a shared VM a stage
    # that needs every core waits for whichever core is stolen, and runs
    # spread far more than with cores to spare.
    # A fixed, pre-touched heap: GC and VmHWM no longer depend on how far
    # the heap happened to grow, so rss_peak_mb moves only with native memory.
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    cmd = ["java", f"-XX:ActiveProcessorCount={cpus}", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
           "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out,
            "--expected", os.path.join(HERE, "engine_expected.json")]
    if a.workload == "engine":
        cmd += ["--tables", tables()]
    if a.record:
        cmd += ["--record", a.record]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["sheets", "engine"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write the engine signatures seen to this file")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    build.build()
    t_start = time.time()  # the JVM's time limit excludes the one-off build
    out = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    code = run_jvm(a, out, t_start + TIMEOUT_S)
    for d in ("tmp", "local", "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    res_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res_path):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: JVM exited with {code}")
    with open(res_path) as f:
        res = json.load(f)

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"attempted {res['attempted']}  failed {res['failed']}")
    for m in spec["end_to_end"]:
        v = res["e2e"][m["name"]]
        print(f"  {m['name']:<40} {v['value']:>16.4f} {m['unit']}")
    for k, v in res["info"].items():
        print(f"  {k:<40} {v:>16}")
    if a.trace:
        print("per-layer (traced run):")
        for m in spec["per_layer"]:
            print(f"  {m['name']:<48} {res['layers'][m['name']]:>16.4f} {m['unit']}")
    for msg in res["failures"]:
        print(f"  FAILED: {msg}")

    if a.trace:
        metrics = {m["name"]: {"value": res["layers"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
