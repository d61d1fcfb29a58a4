#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001: each workload runs 10 s, a few ops.

    python3 perfbench/selftest.py [workload ...]

For every workload it asserts that
  * an untraced run prints every end-to-end metric of BENCHMARK.json and
    passes its output checks;
  * a traced run prints every per-layer metric (the runner itself fails
    when a metric the workload measures, per perfbench/spec.json, is
    missing from the run);
  * a run whose expected result is corrupted fails its check and exits
    non-zero.
Run it from the root of a checkout.
"""
import json
import subprocess
import sys


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
           "--seconds", "10", "--trace", str(trace), "--sf", "0.001", "--setups", "1"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def main():
    bench = json.load(open("BENCHMARK.json"))
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    problems = []
    for w in workloads:
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            code, res, err = run(w, trace)
            if code != 0 or res is None or not res["correct"]:
                problems.append(f"{w} trace={trace}: exit {code}, result {res}\n{err[-3000:]}")
                continue
            missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
            bad_unit = [m["name"] for m in wanted if m["name"] in res["metrics"]
                        and res["metrics"][m["name"]]["unit"] != m["unit"]]
            if missing or bad_unit:
                problems.append(f"{w} trace={trace}: missing {missing}, wrong unit {bad_unit}")
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if v["value"] <= 0]
                if zero:
                    problems.append(f"{w}: end-to-end metrics at zero: {zero}")
            print(f"selftest: {w} trace={trace}: exit {code}, "
                  f"{len(res['metrics'])} metrics, attempted {res['attempted']}", flush=True)
        code, res, _ = run(w, 0, corrupt=True)
        if code == 0 or res is None or res["correct"]:
            problems.append(f"{w}: a corrupted expected result passed the check "
                            f"(exit {code}, result {res})")
        print(f"selftest: {w} corrupted: exit {code}, correct={res and res['correct']}", flush=True)
    for p in problems:
        print("selftest: FAIL " + p)
    print("selftest: " + ("FAIL" if problems else "PASS"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
