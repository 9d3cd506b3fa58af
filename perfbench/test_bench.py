#!/usr/bin/env python3
"""The benchmark's own test. Runs every workload at the tiny size, untraced
and traced, and checks that:
  - every end-to-end and per-layer metric of BENCHMARK.json prints with its
    unit, and nothing else does;
  - every answer is correct (error_rate 0);
  - in the span file, each op's self times sum to no more than its wall time;
  - a corrupted reference makes operations fail;
  - outside a full checkout the benchmark exits non-zero without a result.

Usage: python3 perfbench/test_bench.py      (takes several minutes)
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, lines


def result(workload, trace, *extra):
    rc, lines = bench("--workload", workload, "--seed", "11", "--seconds", "1",
                      "--trace", str(trace), "--size", "tiny", *extra)
    assert rc == 0, f"{workload} trace={trace}: exit {rc}\n" + "\n".join(lines[-20:])
    return json.loads(lines[-1]), lines


def check_metrics(res, specs, label):
    got = res["metrics"]
    want = {m["name"]: m["unit"] for m in specs}
    assert set(got) == set(want), f"{label}: metrics {sorted(set(got) ^ set(want))}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{label}: {name} unit {got[name]['unit']}"
        assert isinstance(got[name]["value"], (int, float)), f"{label}: {name}"


def check_spans(workload):
    spans = json.load(open(os.path.join(ROOT, ".bench_out", f"spans-{workload}-11.json")))
    assert spans, f"{workload}: no spans"
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    layers = {s["layer"] for s in spans}
    for op, ss in by_op.items():
        roots = [s for s in ss if s["parent"] == -1]
        assert len(roots) == 1, f"{workload} op {op}: {len(roots)} roots"
        wall = roots[0]["end_ns"] - roots[0]["start_ns"]
        self_sum = sum(s["self_ns"] for s in ss)
        assert self_sum <= wall, f"{workload} op {op}: self {self_sum} > wall {wall}"
    return layers


def main():
    workloads = [w["name"] for w in SPEC["workloads"]]
    layers = set()
    for w in workloads:
        res, lines = result(w, 0)
        check_metrics(res, SPEC["end_to_end"], f"{w} untraced")
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, res
        assert any(l.startswith("[perfbench] error_rate 0.0000 ratio") for l in lines), w
        res, _ = result(w, 1)
        check_metrics(res, SPEC["per_layer"], f"{w} traced")
        assert res["correct"] and res["failed"] == 0, res
        layers |= check_spans(w)
        print(f"ok {w}", flush=True)
    assert {"op", "queries", "spark", "geo", "operators", "streaming"} <= layers, layers

    res, lines = result(workloads[0], 0, "--corrupt-reference", "1")
    assert res["failed"] > 0 and not res["correct"], res
    rate = [l for l in lines if l.startswith("[perfbench] error_rate")]
    assert rate and not rate[0].startswith("[perfbench] error_rate 0.0000"), rate
    print("ok corrupted reference raises error_rate", flush=True)

    bare = os.path.join(ROOT, ".bench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = bench("--workload", workloads[0], "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=bare)
        assert rc != 0 and not any(l.startswith("{") for l in lines), (rc, lines[-3:])
    finally:
        shutil.rmtree(bare)
    print("ok bare directory exits non-zero without a result", flush=True)


if __name__ == "__main__":
    main()
