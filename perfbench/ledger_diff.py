#!/usr/bin/env python3
"""Layer ledger diff: attribute each workload's pass-time change to layers.

    python3 perfbench/ledger_diff.py BASE NEW

BASE and NEW are trace files written by perfbench/run.py (under
.bench_build/perfbench/traces/), or directories of them. Files are
grouped by workload and input scale; with several files per group
(several seeds) the per-file values are pooled by median.

Each file contributes its first timed pass: the pass `iter_cpu_s`
measures in an untraced run, and the pass the per-layer metrics come
from in a traced one. For every workload it prints that pass's wall time
and CPU seconds (`iter_cpu_s`) on both sides and, per layer, its self
time (build + plan + exec of the steps attributed to it; `harness` is
the rest of the pass, the benchmark's own bookkeeping), the change, and
that change as a share of the wall-time change: spans are wall-clock
intervals, so the ledger accounts for wall time. The per-step table
names the calls that moved. When both sides were traced runs, the
listener counters (engine.*, sources.*) are diffed too. Standard
library only.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path


def load(path):
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    groups = defaultdict(list)
    for f in files:
        t = json.loads(f.read_text())
        scale = t.get("scale", 1.0)
        key = t["workload"] if scale == 1 else f"{t['workload']} (scale {scale:g})"
        groups[key].append(summarize(t))
    return groups


def summarize(t):
    """Wall, layer and step self times of a run's first timed pass."""
    first = next(it for it in t["iterations"] if it["kind"] == "timed")
    layers = defaultdict(float)
    steps = defaultdict(float)
    for s in t["spans"]:
        if s["iter"] != first["iter"]:
            continue
        layer = "harness" if s["kind"] in ("iteration", "step") else s["layer"]
        layers[layer] += s["self_s"]
        if s["kind"] == "step":
            steps[s["name"]] += s["dur_s"]
    counters = {k: v for k, v in first["metrics"].items()
                if first["traced"] and k.startswith(("engine.", "sources."))
                and not k.endswith("_s")}
    return {"wall_s": first["wall_s"], "cpu_s": first["cpu_s"], "layers": dict(layers),
            "steps": dict(steps), "counters": counters}


def pool(runs):
    def pooled(key):
        names = set().union(*(r[key] for r in runs))
        return {n: statistics.median(r[key].get(n, 0.0) for r in runs) for n in names}
    return {"wall_s": statistics.median(r["wall_s"] for r in runs),
            "cpu_s": statistics.median(r["cpu_s"] for r in runs), "runs": len(runs),
            "layers": pooled("layers"), "steps": pooled("steps"),
            "counters": pooled("counters") if all(r["counters"] for r in runs) else {}}


def table(title, base, new, d_iter, top=None):
    rows = sorted(set(base) | set(new),
                  key=lambda k: -abs(new.get(k, 0.0) - base.get(k, 0.0)))
    print(f"  {title:<28}{'base':>15}{'new':>15}{'delta':>15}{'share':>8}")
    for k in rows[:top]:
        b, n = base.get(k, 0.0), new.get(k, 0.0)
        share = f"{(n - b) / d_iter:>7.0%}" if d_iter else "      -"
        print(f"  {k:<28}{b:>15.4f}{n:>15.4f}{n - b:>+15.4f} {share}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(base) & set(new)):
        b, n = pool(base[w]), pool(new[w])
        d = n["wall_s"] - b["wall_s"]
        d_cpu = n["cpu_s"] - b["cpu_s"]
        print(f"{w}: pass wall {b['wall_s']:.4f} -> {n['wall_s']:.4f} s "
              f"({d:+.4f} s, {d / b['wall_s']:+.1%}); iter_cpu_s {b['cpu_s']:.2f} -> "
              f"{n['cpu_s']:.2f} s ({d_cpu / b['cpu_s']:+.1%}); runs {b['runs']} vs {n['runs']}")
        table("layer self time (s)", b["layers"], n["layers"], d)
        residual = d - sum(n["layers"].get(k, 0.0) - b["layers"].get(k, 0.0)
                           for k in set(b["layers"]) | set(n["layers"]))
        print(f"  {'(median residual)':<28}{'':>30}{residual:>+15.4f}")
        table("step wall time (s)", b["steps"], n["steps"], d, top=8)
        if b["counters"] and n["counters"]:
            table("counters (per iteration)", b["counters"], n["counters"], 0)
        print()
    for w in sorted(set(base) ^ set(new)):
        print(f"{w}: only on one side")


if __name__ == "__main__":
    main()
