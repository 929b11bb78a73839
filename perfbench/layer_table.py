#!/usr/bin/env python3
"""Per-layer diff of two traced benchmark records.

    python3 perfbench/layer_table.py BEFORE AFTER

BEFORE and AFTER are each a trace file written by `run.py --trace 1`
(perfbench/.traces/<workload>-seed<n>.json) or a directory of them.
Records of the same workload in one directory are averaged. For every
workload in both, prints per layer the self time, executor CPU, shuffle
bytes and the counts recorded at that layer's boundary, before, after,
and the change.
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

LAYERS = ["pipeline", "collapse", "features", "blocking", "pairs", "hydrate", "scoring",
          "cc", "tableio", "entities", "swoosh", "attach",
          "dedup.exact", "dedup.minhash", "dedup.simhash", "trace", "host"]
TIMES = ["self_s", "cpu_s", "shuffle_mb"]


def load(path):
    """workload -> metric -> mean value over that workload's records"""
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    sums = defaultdict(lambda: defaultdict(list))
    for f in files:
        rec = json.loads(f.read_text())
        workload = rec["run_id"].rsplit("-seed", 1)[0]
        for name, m in rec["metrics"].items():
            if m["value"] is not None:
                sums[workload][name].append(m["value"])
    return {w: {k: sum(v) / len(v) for k, v in ms.items()} for w, ms in sums.items()}


def layer_of(metric):
    for layer in sorted(LAYERS, key=len, reverse=True):
        if metric.startswith(layer + "."):
            return layer
    return metric.split(".")[0]


def order(metric):
    """layer order, then self/cpu/shuffle before the layer's counts"""
    layer, last = layer_of(metric), metric.split(".")[-1]
    return (LAYERS.index(layer) if layer in LAYERS else len(LAYERS),
            TIMES.index(last) if last in TIMES else len(TIMES), metric)


def fmt(x):
    return f"{x:12.4g}" if x is not None else f"{'-':>12}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for workload in sorted(set(before) & set(after)):
        b, a = before[workload], after[workload]
        print(f"\n== {workload}")
        print(f"{'layer':14} {'metric':34} {'before':>12} {'after':>12} {'delta':>12} {'after/before':>12}")
        rows = sorted(set(b) | set(a), key=order)
        for k in rows:
            x, y = b.get(k), a.get(k)
            delta = y - x if x is not None and y is not None else None
            ratio = y / x if delta is not None and x != 0 else None
            print(f"{layer_of(k):14} {k:34} {fmt(x)} {fmt(y)} {fmt(delta)} {fmt(ratio)}")
    missing = set(before) ^ set(after)
    if missing:
        print(f"\nworkloads in only one record: {', '.join(sorted(missing))}")


if __name__ == "__main__":
    main()
