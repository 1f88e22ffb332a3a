#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of graft).

    python3 perfbench/selftest.py

For each workload, at a tiny generated size (--scale 0.1, the benchmark's
defaults otherwise), it checks that:
  - a run is correct (every step ran and every oracle / _check passed);
  - the printed metric names and units match BENCHMARK.json, for the
    end-to-end metrics (--trace 0) and the per-layer ones (--trace 1);
  - in the trace file, span self times add up to each iteration's wall
    time, and the per-layer phase times plus harness time do too,
    within SELF_TIME_SHARE;
  - the same seed gives identical input fingerprints in two processes,
    and another seed gives different ones.
Takes a few minutes; exits non-zero on the first failure.
"""
import json
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SELF_TIME_SHARE = 0.01


def run(workload, seed, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--scale", "0.1"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    info = json.loads(lines[-2].split(" ", 1)[1])
    return json.loads(lines[-1]), info, json.loads(Path(info["trace_file"]).read_text())


def check_result(res, info, spec, what):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, what
    assert res["correct"] and res["failed"] == 0, f"{what}: {info['failures']}"
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{what}: metric names/units differ: {set(got) ^ set(want)}"
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()), what


def check_self_times(trace, what):
    spans = trace["spans"]
    walls = {it["iter"]: it for it in trace["iterations"]}
    per_iter = defaultdict(float)
    for s in spans:
        per_iter[s["iter"]] += s["self_s"]
    for i, it in walls.items():
        wall = it["wall_s"]
        assert abs(per_iter[i] - wall) <= SELF_TIME_SHARE * wall, \
            f"{what} iter {i}: self times {per_iter[i]:.4f} s vs wall {wall:.4f} s"
        m = it["metrics"]
        layered = sum(v for k, v in m.items() if k.endswith(("build_s", "plan_s", "exec_s")))
        layered += m["trace.harness_s"]
        assert abs(layered - wall) <= SELF_TIME_SHARE * wall, \
            f"{what} iter {i}: layer times {layered:.4f} s vs wall {wall:.4f} s"


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in (x["name"] for x in bench["workloads"]):
        r0, i0, t0 = run(w, 1, 0)
        check_result(r0, i0, bench["end_to_end"], f"{w} trace 0")
        check_self_times(t0, f"{w} trace 0")
        r1, i1, t1 = run(w, 1, 1)
        check_result(r1, i1, bench["per_layer"], f"{w} trace 1")
        check_self_times(t1, f"{w} trace 1")
        assert i0["fingerprints"] == i1["fingerprints"], f"{w}: seed 1 inputs differ between runs"
        _, i2, _ = run(w, 2, 0)
        differ = [t for t in i0["fingerprints"] if i0["fingerprints"][t] != i2["fingerprints"][t]]
        assert differ, f"{w}: seeds 1 and 2 gave identical inputs"
        print(f"ok {w}: correct, metrics match BENCHMARK.json, self times add up, "
              f"seed 1 reproducible, seed 2 differs in {differ}")
    print("selftest passed")


if __name__ == "__main__":
    main()
