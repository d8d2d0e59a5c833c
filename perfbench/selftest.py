#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 fixtures, small N).

Usage (from the root of a checkout): python3 perfbench/selftest.py [workload ...]

For every workload it checks that
  * an untraced and a traced run each end in a JSON line that parses, with
    exactly the end-to-end (resp. per-layer) metrics of BENCHMARK.json,
    each with its unit, and no failed op;
  * every metric is also printed by name with its unit on stdout;
  * a run with --corrupt (expected hash or reference centroid altered)
    reports failed > 0.
It prints the traced minus untraced pass wall and CPU time as the tracing
overhead (at tiny size a single pass, so only indicative).
Exits non-zero on the first violated expectation.
"""
import json
import subprocess
import sys

BENCH = json.load(open("BENCHMARK.json"))
RUN = [sys.executable, "perfbench/run.py"]


def run(workload, trace, extra=()):
    cmd = RUN + ["--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--size", "tiny"] + list(extra)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"FAIL {workload}: {' '.join(cmd)} exited {p.returncode}")
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    return json.loads(lines[-1]), lines[:-1]


def check_metrics(workload, result, text, spec):
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise SystemExit(f"FAIL {workload}: metrics {sorted(got.items())} != {sorted(want.items())}")
    for name, unit in want.items():
        if not any(ln.split()[1:2] == [name] and unit in ln.split()[3:4] for ln in text):
            raise SystemExit(f"FAIL {workload}: {name} [{unit}] not printed")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        raise SystemExit(f"FAIL {workload}: {result['attempted']} attempted, "
                         f"{result['failed']} failed")


def main(workloads):
    for w in workloads:
        e2e, text0 = run(w, 0)
        check_metrics(w, e2e, text0, BENCH["end_to_end"])
        layer, text1 = run(w, 1)
        check_metrics(w, layer, text1, BENCH["per_layer"])
        wall = float(next(ln.split()[2] for ln in text0 if ln.split()[:2] == ["wall", "pass_s"]))
        d_wall = layer["metrics"]["trace.pass_s"]["value"] - wall
        d_cpu = layer["metrics"]["trace.pass_cpu_s"]["value"] - e2e["metrics"]["pass_cpu_s"]["value"]
        bad, _ = run(w, 0, ["--corrupt"])
        if bad["failed"] == 0:
            raise SystemExit(f"FAIL {w}: a corrupted expectation still passed")
        print(f"PASS {w}: {len(e2e['metrics'])} end-to-end + {len(layer['metrics'])} per-layer "
              f"metrics; corrupted expectation -> {bad['failed']}/{bad['attempted']} failed; "
              f"tracing overhead {d_wall:+.3f} s wall, {d_cpu:+.3f} s CPU per pass")


if __name__ == "__main__":
    main(sys.argv[1:] or [w["name"] for w in BENCH["workloads"]])
