#!/usr/bin/env python3
"""The repository benchmark. One command, one JVM, one client thread: a
closed loop of operations round-robin over a fixed mix, each answer checked.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source on first use (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the harness
(perfbench/src) and prints, as its last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer ones with --trace 1). Progress,
per-pass warm-up lines, covariates and per-op medians go to stdout before it.
Everything it writes stays inside the checkout and is removed at exit,
except the build cache and the span files of traced runs.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("headline", "pipeline")
# A run must end within 180 s; the JVM gets what is left of that.
DEADLINE_S = 170

# Matches org.apache.spark.launcher.JavaModuleOptions for JDK 17.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test input size")
    ap.add_argument("--corrupt-reference", type=int, choices=(0, 1), default=0,
                    help="self-test: replace one reference answer")
    a = ap.parse_args()
    t_start = time.time()
    try:
        classpath = build.ensure()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    setup_start_ms = int(time.time() * 1000)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data", f"seed{a.seed}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    trace_out = os.path.join(ROOT, ".bench_out", f"spans-{a.workload}-{a.seed}.json")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xms1536m", "-Xmx1536m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--setup-start-ms", str(setup_start_ms),
            "--size", a.size, "--corrupt-reference", str(a.corrupt_reference),
            "--trace-out", trace_out])
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(work, "scratch"),
               PYTHONDONTWRITEBYTECODE="1")
    result = None
    # The JVM starts its session while the inputs are generated; it waits
    # for inputs.json, written last.
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    # the harness is killed if it outlives the run's deadline
    watchdog = threading.Timer(max(10.0, DEADLINE_S - (time.time() - t_start)), proc.kill)
    watchdog.start()
    rc = None
    try:
        info = gen.generate(a.workload, a.seed, a.size, data)
        with open(os.path.join(work, "inputs.json.tmp"), "w") as f:
            json.dump(info, f)
        os.rename(os.path.join(work, "inputs.json.tmp"), os.path.join(work, "inputs.json"))
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith('{"correct"'):
                result = line
            else:
                print(line, flush=True)
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        print(f"perfbench: harness exited with {rc}, no result", file=sys.stderr)
        return 1
    print(json.dumps(json.loads(result)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
