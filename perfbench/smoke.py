#!/usr/bin/env python3
"""Smoke check of the benchmark harness itself: every workload at sf0.001
for one timed pass (or cycle), untraced and traced. Each run must be
correct and emit every metric BENCHMARK.json names, with its unit, as a
finite non-negative number; a few values that every run must show are
checked too (see `expect`).

    python3 perfbench/smoke.py
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def expect(v, trace, stores):
    """(holds, description) of what every run of a workload must show."""
    if not trace:
        return [(v["setup_s"] > 0 and v["op_p50_ms"] > 0 and v["ops_per_s"] > 0,
                 "setup_s, op_p50_ms, ops_per_s > 0"),
                (v["op_p50_ms"] <= v["op_p75_ms"], "op_p50_ms <= op_p75_ms")]
    checks = [(v["exec_jobs"] > 0 and v["exec_tasks"] > 0 and v["exec_task_cpu_s"] > 0,
               "exec_jobs, exec_tasks, exec_task_cpu_s > 0"),
              (0 < v["phase_cover"] <= 1, "0 < phase_cover <= 1"),
              (v["max_task_share"] <= 1, "max_task_share <= 1")]
    if stores:
        # Set-up builds every family cold, then re-resolves it through a merge.
        checks += [(v["lane_cold"] > 0 and v["lane_merge"] > 0, "lane_cold, lane_merge > 0"),
                   (v["lane_decline"] == 0, "lane_decline == 0"),
                   (v["store_ratio"] > 0, "store_ratio > 0")]
    return checks


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    failures = []
    for w in bench["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "1",
                                      "--seconds", "0", "--trace", str(trace),
                                      "--scale", "sf0.001"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            label = f"{w['name']} trace={trace}"
            before = len(failures)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures.append(f"{label}: exit {p.returncode}")
                continue
            out = json.loads(lines[-1])
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                failures.append(f"{label}: correct={out['correct']} failed={out['failed']} "
                                f"attempted={out['attempted']}")
            # Units are copied from BENCHMARK.json, so this catches a metric
            # that is missing, extra or not a number; the value checks below
            # catch metrics that are measured wrong.
            want = {m["name"]: m["unit"] for m in bench[group]}
            got = {k: v["unit"] for k, v in out["metrics"].items()
                   if isinstance(v.get("value"), (int, float))}
            if got != want:
                failures.append(f"{label}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"unit {sorted(k for k in want if k in got and got[k] != want[k])}")
            else:
                v = {k: m["value"] for k, m in out["metrics"].items()}
                bad = sorted(k for k, x in v.items() if not math.isfinite(x) or x < 0)
                if bad:
                    failures.append(f"{label}: not finite or negative: {bad}")
                stores = bool(spec["workloads"][w["name"]]["families"])
                failures += [f"{label}: expected {what}; metrics {v}"
                             for ok, what in expect(v, trace, stores) if not ok]
            print(f"[smoke] {label}: {'ok' if len(failures) == before else 'FAIL'}", flush=True)
    for f in failures:
        print(f"[smoke] FAIL {f}", file=sys.stderr)
    print("[smoke] PASS" if not failures else f"[smoke] {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
