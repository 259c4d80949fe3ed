#!/usr/bin/env python3
"""graft benchmark: closed-loop, single client, local[4].

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It builds graft and the harness from
source (perfbench/build.py), runs the workload in one JVM against a
fresh work directory under .bench_build/, checks every result, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics of BENCHMARK.json and writes the spans to
.bench_build/traces/<workload>-seed<seed>.jsonl.

The seed sets the key order of every pass. Workloads, their frozen key
and store family lists, and the expected result of every key at each
corpus scale live in perfbench/workloads.json.

    python3 perfbench/run.py --record   # re-record expected results

Recording also serves the keys of a workload with stores from a session
over an empty warehouse, and refuses to record unless every result from
the merged stores equals the one from stores built cold.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

SPEC_PATH = os.path.join(HERE, "workloads.json")
CORES = 4
# A run must end within 180 s; the JVM gets what is left of this.
RUN_LIMIT_S = 170
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xss8m"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def load_spec():
    with open(SPEC_PATH) as fh:
        return json.load(fh)


def run_harness(cp, workload, spec, seed, seconds, trace, scale, deadline, coldcheck=False):
    """Run the harness JVM; return its rows (a list of dicts)."""
    work = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        w = spec["workloads"][workload]
        args = ["--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                "--cores", str(CORES), "--coldcheck", str(int(coldcheck)),
                "--data", os.path.join(HERE, "data", scale), "--work", work,
                "--out", os.path.join(work, "out.jsonl")]
        for name in ("keys", "families"):
            path = os.path.join(work, name + ".txt")
            with open(path, "w") as fh:
                fh.write("\n".join(w[name]) + "\n")
            args += ["--" + name, path]
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                      "graftbench.Harness"] + args)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise RuntimeError(f"{workload}: harness passed the {RUN_LIMIT_S} s limit")
        if code != 0:
            with open(os.path.join(work, "jvm.log")) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"{workload}: harness exited {code}\n{tail}")
        with open(os.path.join(work, "out.jsonl")) as fh:
            return [json.loads(line) for line in fh if line.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pct(values, q):
    """The q-th percentile (0..100), linear between closest ranks."""
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Result:
    def __init__(self, rows):
        self.rows = rows
        self.problems = []

    def of(self, kind, **match):
        return [r for r in self.rows
                if r["kind"] == kind and all(r.get(k) == v for k, v in match.items())]

    def gauge(self, name):
        g = self.of("gauge", name=name)
        if not g:
            raise RuntimeError(f"harness did not report {name}")
        return statistics.median(x["value"] for x in g)


def check(res, workload, spec, scale):
    """Correctness: every op succeeded, every checked key matches its
    recorded result, and every timed pass returned the checked rows."""
    ops = res.of("op")
    for r in ops:
        if not r["ok"]:
            res.problems.append(f"{r['key']} ({r['phase']}): {r.get('error')}")
    checked = {r["key"]: r for r in ops if r["phase"] == "check" and r["ok"]}
    expected = spec["expected"].get(scale, {}).get(workload, {})
    for key in spec["workloads"][workload]["keys"]:
        c = checked.get(key)
        if c is None:
            continue  # already counted as a failed op
        want = expected.get(key)
        if want is None:
            res.problems.append(f"{key}: no recorded result at {scale}")
        elif [c["rows"], c["hash"]] != want:
            res.problems.append(f"{key}: result {c['rows']} rows / {c['hash']} "
                                f"!= recorded {want[0]} rows / {want[1]}")
    for r in ops:
        if r["phase"] == "timed" and r["ok"] and r["key"] in checked \
                and r["rows"] != checked[r["key"]]["rows"]:
            res.problems.append(f"{r['key']} pass {r['pass']}: {r['rows']} rows, "
                                f"checked {checked[r['key']]['rows']}")


def end_to_end(res):
    ops = res.of("op", phase="timed")
    lat = [r["wall_s"] * 1e3 for r in ops]
    passes = res.of("window", name="timed")
    return {
        "setup_s": res.gauge("setup_s"),
        "op_p50_ms": pct(lat, 50),
        "op_p75_ms": pct(lat, 75),
        # Keys per second of a timed pass; the median pass, as a pass that
        # meets a slow spell of the host would otherwise move the figure.
        "ops_per_s": len(ops) / len(passes) / statistics.median(w["wall_s"] for w in passes),
        "heap_live_mb": res.gauge("heap_live_mb"),
    }, f"{len(lat)} latency samples over {len(passes)} timed passes"


def per_layer(res):
    """Per timed pass: phase sums of the spans; medians over passes."""
    passes = {}
    for s in res.of("span"):
        phase, _, rest = s["id"].partition(".")
        if phase != "timed" or s["name"] not in ("construct", "plan", "exec"):
            continue
        p = passes.setdefault(rest.partition(".")[0], {})
        acc = p.setdefault(s["name"], {})
        acc["wall"] = acc.get("wall", 0.0) + s["end"] - s["start"]
        for k in ("jobs", "stages", "tasks", "cpu_s", "run_s", "shuffle_bytes",
                  "scan_bytes", "spill_bytes"):
            acc[k] = acc.get(k, 0) + s[k]
        # The pass's largest single task.
        acc["max_task_cpu_s"] = max(acc.get("max_task_cpu_s", 0.0), s["max_task_cpu_s"])
    windows = {str(w["pass"]): w for w in res.of("window", name="timed")}
    rows = []
    for p, ph in passes.items():
        c, pl, e = ph["construct"], ph["plan"], ph["exec"]
        wall = windows[p]["wall_s"]
        rows.append({
            "construct_s": c["wall"], "construct_jobs": c["jobs"],
            "construct_task_cpu_s": c["cpu_s"], "construct_shuffle_bytes": c["shuffle_bytes"],
            "plan_s": pl["wall"],
            "exec_s": e["wall"], "exec_jobs": e["jobs"], "exec_stages": e["stages"],
            "exec_tasks": e["tasks"], "exec_task_cpu_s": e["cpu_s"],
            "exec_task_run_s": e["run_s"], "exec_shuffle_bytes": e["shuffle_bytes"],
            "exec_scan_bytes": e["scan_bytes"], "exec_spill_bytes": e["spill_bytes"],
            "parallelism": e["run_s"] / e["wall"],
            # Largest exec task of the pass over the pass's exec task cpu.
            "max_task_share": e["max_task_cpu_s"] / e["cpu_s"] if e["cpu_s"] else 0.0,
            "job_fixed_ms": 1e3 * (e["wall"] - e["run_s"] / CORES) / max(1, e["jobs"]),
            "pass_wall_s": wall,
            "phase_cover": (c["wall"] + pl["wall"] + e["wall"]) / wall,
            "trace_overhead_s": windows[p]["trace_self_s"],
        })
    if not rows:
        raise RuntimeError("no traced pass")
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}

    # Warehouse layer: the store lifecycle of set-up.
    lanes = {"hit": 0, "merge": 0, "cold": 0, "decline": 0}
    for r in res.of("op"):
        for lane, n in r.get("lanes", {}).items():
            # A cold rebuild where a prior store existed is a declined merge.
            lanes["decline" if lane == "cold" and r["phase"] == "merge" else lane] += n
    ws = [w for w in res.of("window") if w["name"] in ("build", "merge")]
    m.update({"lane_" + k: v for k, v in lanes.items()})
    m["build_jobs"] = sum(w["jobs"] for w in ws)
    m["build_shuffle_bytes"] = sum(w["shuffle_bytes"] for w in ws)
    m["store_bytes"] = res.gauge("store_bytes")
    m["store_ratio"] = m["store_bytes"] / res.gauge("corpus_bytes")
    for at in ("warm", "end"):
        m[f"memo_rdds_{at}"] = res.gauge(f"memo_rdds_{at}")
        m[f"memo_bytes_{at}"] = res.gauge(f"memo_bytes_{at}")
    return m


def record(cp, spec):
    """Re-record every key's expected result at every scale."""
    expected = {}
    for scale in spec["scales"]:
        for workload, w in spec["workloads"].items():
            rows = run_harness(cp, workload, spec, 1, 0, 0, scale, time.monotonic() + 900,
                               coldcheck=bool(w["families"]))
            got = {}
            for r in rows:
                if r["kind"] == "op" and r["phase"] in ("check", "coldcheck"):
                    if not r["ok"]:
                        raise RuntimeError(f"{r['key']} failed at {scale}: {r['error']}")
                    got.setdefault(r["phase"], {})[r["key"]] = [r["rows"], r["hash"]]
            if w["families"] and got["check"] != got["coldcheck"]:
                diff = sorted(k for k in got["check"] if got["check"][k] != got["coldcheck"][k])
                raise RuntimeError(f"{workload} at {scale}: merged stores differ from cold: {diff}")
            expected.setdefault(scale, {})[workload] = got["check"]
    spec["expected"] = expected
    with open(SPEC_PATH, "w") as fh:
        json.dump(spec, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="corpus under perfbench/data (default: the spec's)")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    spec = load_spec()
    try:
        cp = build.build()
        if a.record:
            record(cp, spec)
            return 0
        if a.workload not in spec["workloads"]:
            raise RuntimeError(f"unknown workload {a.workload!r}")
        scale = a.scale or spec["scale"]
        deadline = time.monotonic() + RUN_LIMIT_S
        rows = run_harness(cp, a.workload, spec, a.seed, a.seconds, a.trace, scale, deadline)
        res = Result(rows)
        check(res, a.workload, spec, scale)
        if a.trace:
            trace_dir = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.jsonl")
            with open(path, "w") as fh:
                fh.writelines(json.dumps(r) + "\n" for r in rows)
            metrics = per_layer(res)
            note = f"spans in {os.path.relpath(path, ROOT)}"
        else:
            metrics, note = end_to_end(res)
        declared = load_bench()["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    for p in res.problems:
        print(f"[perfbench] FAIL {p}", file=sys.stderr)
    print(f"[perfbench] {a.workload} seed {a.seed}: {note}")
    print(json.dumps({
        "correct": not res.problems,
        "attempted": len(res.of("op")),
        "failed": len(res.problems),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
