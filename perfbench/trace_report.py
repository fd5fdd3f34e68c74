"""Print self time per layer and per operation from a traced run.

    python3 perfbench/trace_report.py .bench_build/perfbench/traces/etl-seed1.json

A trace file is what ``perfbench/run.py --trace 1`` writes. A span's
self time is its duration minus the part of it that its child spans
cover; the layer of a span is its name up to the first dot (``op`` is
the benchmark's own time inside an operation, outside every layer
call). Figures are per traced pass.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self seconds of every span, by span id."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, end = 0.0, s["start"]
        for lo, hi in sorted(children[s["id"]]):
            lo, hi = max(lo, end), min(hi, s["end"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def report(trace: dict) -> str:
    spans, ops = trace["spans"], trace["ops"]
    passes = len({o["pass"] for o in ops}) or 1
    own = self_times(spans)
    op_name = {o["id"]: o["name"] for o in ops}
    by_layer: dict[str, float] = defaultdict(float)
    by_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        by_layer[layer] += own[s["id"]]
        by_op[op_name[s["op"]]][layer] += own[s["id"]]
    calls = defaultdict(int)
    for o in ops:
        calls[o["name"]] += 1
    layers = sorted(by_layer, key=by_layer.get, reverse=True)
    total = sum(by_layer.values())
    m = trace["metrics"]
    lines = [
        f"{trace['workload']} seed={trace['seed']}: {passes} traced pass(es), "
        f"{len(ops) // passes} operations per pass",
        f"trace.overhead_frac = {m['trace.overhead_frac']:+.4f} "
        f"(untraced {trace['notes']['wall_untraced']}, traced {trace['notes']['wall_traced']})",
        "",
        "self time per layer, s per pass:",
    ]
    for layer in layers:
        share = by_layer[layer] / total if total else 0.0
        lines.append(f"  {layer:10s} {by_layer[layer] / passes:9.3f}  {share:6.1%}")
    lines += ["", "self time per operation, s per pass:",
              "  " + f"{'operation':24s} {'calls':>5s} " + " ".join(f"{x:>9s}" for x in layers)]
    for name in sorted(by_op, key=lambda n: -sum(by_op[n].values())):
        row = " ".join(f"{by_op[name][x] / passes:9.3f}" for x in layers)
        lines.append(f"  {name:24s} {calls[name] // passes:5d} {row}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    for path in argv:
        with open(path) as f:
            print(report(json.load(f)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
