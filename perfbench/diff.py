#!/usr/bin/env python3
"""Per-layer diff of two traced benchmark runs, and tracing overhead.

    python3 perfbench/diff.py BEFORE AFTER
    python3 perfbench/diff.py --overhead [RUNS_DIR]

BEFORE and AFTER are run directories (.perfbench/runs/<workload>-s<seed>-t1)
or their result.json files, normally the same workload and seed on two
commits. The diff lists every per-layer metric that changed, grouped by
layer (the part of the name before the first dot), and names the layer
that moved most: the one whose largest relative change, among metrics
that moved by more than a noise floor, is largest.

--overhead pairs the traced and untraced runs of each workload found in
RUNS_DIR (default .perfbench/runs), of the build of its newest traced
run and at the same core count, and prints the traced end-to-end
numbers against the untraced ones: the cost of the spans and listener.
"""
import glob
import json
import os
import statistics
import sys

# a change smaller than this (in the metric's own unit) is noise, whatever its ratio
FLOOR = {"ms": 5.0, "s": 0.05, "count": 0.5, "bytes": 1024.0, "MB": 8.0, "ratio": 0.001, "1/s": 1.0}


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "result.json")
    with open(path) as f:
        return json.load(f)


def rel(a, b):
    return (b - a) / abs(a) if a else (float("inf") if b else 0.0)


def diff(before, after):
    a, b = before["layers"], after["layers"]
    if before["workload"] != after["workload"]:
        print(f"warning: comparing {before['workload']} with {after['workload']}")
    by_layer = {}
    for name in sorted(set(a) | set(b)):
        va = a.get(name, {}).get("value") or 0.0
        vb = b.get(name, {}).get("value") or 0.0
        unit = (a.get(name) or b.get(name))["unit"]
        if abs(vb - va) <= FLOOR.get(unit, 0.0):
            continue
        by_layer.setdefault(name.split(".")[0], []).append((name, va, vb, unit, rel(va, vb)))
    print(f"{before['workload']}: seed {before['seed']} -> {after['seed']}")
    for k in ("trace.epoch_p50_ms", "trace.epoch_cpu_ms", "trace.setup_s", "trace.rows_per_s"):
        va, vb = (r["e2e"].get(k, {}).get("value") for r in (before, after))
        if va is not None and vb is not None:
            print(f"  end to end {k:<34} {va:>14.3f} -> {vb:>14.3f} ({rel(va, vb):+.1%})")
    if not by_layer:
        print("  no per-layer metric moved beyond the noise floor")
        return
    ranked = sorted(by_layer.items(), key=lambda kv: -max(abs(r[4]) for r in kv[1]))
    for layer, rows in ranked:
        print(f"  [{layer}]")
        for name, va, vb, unit, r in sorted(rows, key=lambda r: -abs(r[4])):
            print(f"    {name:<40} {va:>14.3f} -> {vb:>14.3f} {unit:<6} ({r:+.1%})")
    layer, rows = ranked[0]
    top = max(rows, key=lambda r: abs(r[4]))
    print(f"moved most: {layer} ({top[0]} {top[4]:+.1%})")


def overhead(runs_dir):
    runs = [dict(load(p), mtime=os.path.getmtime(p))
            for p in glob.glob(os.path.join(runs_dir, "*", "result.json"))]
    found = False
    for wl in sorted({r["workload"] for r in runs}):
        traced = [r for r in runs if r["workload"] == wl and r["traced"]]
        if not traced:
            continue
        newest = max(traced, key=lambda r: r["mtime"])
        traced = [r for r in traced if r.get("build") == newest.get("build")]
        plain = [r for r in runs if r["workload"] == wl and not r["traced"]
                 and r.get("build") == newest.get("build") and r["cores"] == newest["cores"]]
        if not plain:
            continue
        found = True
        print(f"{wl}: {len(plain)} untraced, {len(traced)} traced run(s)")
        for k in ("epoch_p50_ms", "epoch_cpu_ms", "setup_s", "rows_per_s"):
            u = statistics.median(r["e2e"][k]["value"] for r in plain)
            t = statistics.median(r["e2e"][f"trace.{k}"]["value"] for r in traced)
            print(f"  {k:<14} untraced {u:>12.3f}  traced {t:>12.3f}  overhead {rel(u, t):+.1%}")
    if not found:
        print(f"no workload has both traced and untraced runs under {runs_dir}")


def main():
    args = sys.argv[1:]
    if args[:1] == ["--overhead"]:
        overhead(args[1] if len(args) > 1 else os.path.join(".perfbench", "runs"))
    elif len(args) == 2:
        diff(load(args[0]), load(args[1]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
