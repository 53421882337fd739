#!/usr/bin/env python3
"""Print a traced perfbench run's spans as a timeline.

    python3 tools/spans_timeline.py .bench_build/results/<result>.json.spans.json

A traced run (`perfbench/run.py --trace 1`) writes its spans next to its
result file. For each `bench.cycle` span (refresh) this prints every span
inside it; for a run without cycles (maintain) each tick is the interval
from one `streaming.applyTick` span's start to the next one's. Each line
is a span's start offset from its cycle or tick, its wall time and its
name, indented by nesting depth. Serving requests (spans with a request
id) are counted per cycle or tick instead of listed.
"""

import argparse
import json
import sys


def depth(span, by_id):
    d = 0
    while span["parent"] in by_id:
        span = by_id[span["parent"]]
        d += 1
    return d


def windows(spans):
    """(label, start_ns, end_ns, root span id or None) per cycle or tick."""
    cycles = [s for s in spans if s["name"] == "bench.cycle"]
    if cycles:
        return [(f"cycle {i}", s["start_ns"], s["end_ns"], s["id"]) for i, s in enumerate(cycles)]
    ticks = [s for s in spans if s["name"] == "streaming.applyTick"]
    out = []
    for i, s in enumerate(ticks):
        end = ticks[i + 1]["start_ns"] if i + 1 < len(ticks) else max(
            t["end_ns"] for t in spans if t["start_ns"] >= s["start_ns"])
        out.append((f"tick {i}", s["start_ns"], end, None))
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans", help="a <result>.json.spans.json file")
    args = ap.parse_args(argv)
    with open(args.spans) as fh:
        spans = sorted(json.load(fh), key=lambda s: s["start_ns"])
    by_id = {s["id"]: s for s in spans}
    wins = windows(spans)
    if not wins:
        print("no bench.cycle or streaming.applyTick spans", file=sys.stderr)
        return 1
    for label, a, b, root in wins:
        print(f"{label}: wall {(b - a) / 1e9:.3f} s")
        inside = [s for s in spans if a <= s["start_ns"] < b and s["id"] != root]
        requests = [s for s in inside if s["request_id"] >= 0]
        base = depth(by_id[root], by_id) + 1 if root is not None else 0
        for s in inside:
            if s["request_id"] >= 0:
                continue
            indent = "  " * max(depth(s, by_id) - base, 0)
            print(f"  +{(s['start_ns'] - a) / 1e9:8.3f} s {(s['end_ns'] - s['start_ns']) / 1e9:8.3f} s"
                  f"  {indent}{s['name']}")
        if requests:
            print(f"  ({len(requests)} request spans)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
