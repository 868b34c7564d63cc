#!/usr/bin/env python3
"""Smoke test of the benchmark at toy sizes (a few minutes).

    python3 perfbench/smoke.py

Checks that every metric is printed by name with its unit, that BENCHMARK.json
lists the same metrics and workloads as run.py, that a planted throwing query
raises the failure count and the exit code, and that an altered triple trips
the digest check. Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run as bench  # noqa: E402


def run(*extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1",
                        "--profile", "toy", *extra],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stdout


def expect(cond, what):
    print(("ok    " if cond else "FAIL  ") + what)
    if not cond:
        sys.exit(1)


def check_metrics(label, res, out, want):
    expect(res is not None and set(res["metrics"]) == set(want),
           "%s: prints exactly the declared metrics" % label)
    for name, unit in want.items():
        m = res["metrics"][name]
        if m["unit"] != unit or not isinstance(m["value"], (int, float)) \
                or "%s = " % name not in out:
            expect(False, "%s: %s reported with unit %s" % (label, name, unit))
    expect(True, "%s: every metric has a number and its unit" % label)


def main():
    decl_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(decl_path):
        with open(decl_path) as f:
            decl = json.load(f)
        expect([w["name"] for w in decl["workloads"]] == list(bench.WORKLOADS),
               "BENCHMARK.json workloads match run.py")
        expect({m["name"]: m["unit"] for m in decl["end_to_end"]} == bench.END_TO_END,
               "BENCHMARK.json end_to_end metrics match run.py")
        expect({m["name"]: m["unit"] for m in decl["per_layer"]} == bench.PER_LAYER,
               "BENCHMARK.json per_layer metrics match run.py")

    for wl in bench.WORKLOADS:
        code, res, out = run("--workload", wl, "--seed", "3", "--trace", "0")
        expect(code == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
               "%s: clean run passes its output checks" % wl)
        check_metrics(wl + " trace 0", res, out, bench.END_TO_END)

    code, res, out = run("--workload", "kg_scan", "--seed", "3", "--trace", "1")
    expect(code == 0 and res["correct"], "kg_scan traced run passes its output checks")
    check_metrics("kg_scan trace 1", res, out, bench.PER_LAYER)
    expect(all(res["metrics"][k]["value"] > 0 for k in (
        "pipeline.decide_s", "core.decisions", "models.emb_calls", "engine.tasks",
        "extract.mentions", "engine.scale_eff")),
        "kg_scan traced run measures pipeline, core, models, engine and extract")

    code, res, _ = run("--workload", "query_suite", "--seed", "3", "--plant", "throw-query")
    expect(code != 0 and res is not None and res["failed"] >= 1 and not res["correct"],
           "a planted throwing query counts as a failure and sets a non-zero exit")

    code, res, _ = run("--workload", "kg_scan", "--seed", "3", "--plant", "alter-triple")
    expect(code != 0 and res is not None and res["failed"] >= 1 and not res["correct"],
           "an altered triple trips the digest check")
    print("smoke test passed")


if __name__ == "__main__":
    main()
