#!/usr/bin/env python3
"""Render BASELINE.md's scaling tables from ladder records.

The r4 ADVICE defect was a hand-maintained headline table drifting from the
committed artifact it claims to render. This script makes the render
mechanical: run it at round close, paste its stdout verbatim.

    tools/render_scaling_table.py [record.json ...]

Default: the committed threads ladder (data/scaling.json, local[k]) and
multi-executor ladder (data/scaling_mx.json, local-cluster[k,1,mem] — k
real 1-core executor JVMs). Those two carry a per-level `fp` and were
min-merged across runs; a record written by one `graft.ScalingBench`
invocation carries its commit and every warm rep instead.
"""
import json
import os
import sys


def effs(d):
    """The N->4N efficiency pairs of one ladder, by N."""
    out = {}
    for k, v in d.items():
        if k.startswith("efficiency_"):
            lo, hi = k[len("efficiency_"):].split("_to_")
            out[int(lo)] = (int(hi), v)
    return out


def render(path):
    d = json.load(open(path))
    executors = d.get("method", "").startswith("local-cluster")
    label = "executors: local-cluster, k JVMs" if executors \
        else "threads: local[k], 1 JVM"
    merged = bool(d["levels"]) and "fp" in d["levels"][0]
    if merged:
        source = f"fp `{d['levels'][0]['fp']}`, min-merged"
    else:
        source = f"commit `{d.get('commit', '?')[:12]}`, one invocation"
    pairs = {hi: (lo, v) for lo, (hi, v) in effs(d).items()}
    cols = "sec_min | tiles/s | efficiency" if merged \
        else "sec_min | sec_med | reps | tiles/s | efficiency"
    print(f"| Levels ({label}, {source}) | {cols} |")
    print("|---" * (cols.count("|") + 2) + "|")
    for l in sorted(d["levels"], key=lambda l: l["level"]):
        k = l["level"]
        cell = f"{pairs[k][0]}→{k} = **{pairs[k][1]:.3f}**" if k in pairs else ""
        name = f"{k} executor JVMs × 1 core" if executors else f"local[{k}]"
        mid = "" if merged else \
            f" {l['sec_med']:.3f} | {', '.join(f'{r:.3f}' for r in l['reps'])} |"
        print(f"| {name} | {l['sec_min']:.3f} |{mid} {l['per_sec']:,.0f} | {cell} |")
    c = d.get("pure_cpu_calibration")
    if c and c.get("levels"):
        fp = c["levels"][0].get("fp")
        pin = f"same pinning, fp `{fp}`" if fp else "same pinning"
        ce = ", ".join(f"{lo}→{hi} = {v:.3f}"
                       for lo, (hi, v) in sorted(effs(c).items()))
        print()
        print(f"Pure-CPU calibration ceiling ({pin}): {ce or 'no N→4N pair'}.")


paths = sys.argv[1:] or ["data/scaling.json", "data/scaling_mx.json"]
first = True
for p in paths:
    if not os.path.exists(p):
        continue
    if not first:
        print()
    render(p)
    first = False
