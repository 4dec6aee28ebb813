#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001 tables, a 13-month hot
store).

    python3 perfbench/selftest.py [workload ...]

For each workload (default: those in BENCHMARK.json) it checks that an
untraced run emits every end-to-end metric and a traced run every per-layer
metric, each as a number with its unit. For `cool` it then damages the
first cooled year after its reconcile gate passed, once by dropping a row
and once by negating an amount, and checks that each run reports failed
operations and exits non-zero instead of producing a timing. Exits non-zero
on the first violation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt="none"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--tiny",
           "--corrupt", corrupt]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return r.returncode, result, r.stderr


def expect(ok, msg):
    print(("ok   " if ok else "FAIL ") + msg, flush=True)
    if not ok:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = run(w, trace)
            expect(code == 0 and res is not None and res["correct"],
                   f"{w} trace={trace}: correct run, exit {code}" + ("" if code == 0 else err[-800:]))
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and isinstance(got["value"], (int, float))
                       and got["unit"] == m["unit"]
                       and (key == "per_layer" or got["value"] > 0),
                       f"{w} trace={trace}: {m['name']} = {got}")
    if "cool" in workloads:
        for corrupt in ("drop", "flip"):
            code, res, err = run("cool", 0, corrupt)
            expect(code != 0 and res is not None and not res["correct"] and res["failed"] > 0,
                   f"cool with a {corrupt}ped cooled year: exit {code}, "
                   f"failed {res and res['failed']}/{res and res['attempted']}")


if __name__ == "__main__":
    main()
