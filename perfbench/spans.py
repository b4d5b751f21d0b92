"""Per-layer self time from a traced run's span file.

Usage: python3 perfbench/spans.py <run_dir>/spans.jsonl

Prints, for each span name, the span count and the total and self time in
ms, where self time is a span's duration minus the part of it that its
child spans cover.
"""
import json
import sys

import stats


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def layer_self_ms(spans):
    """{name: (count, total_ms, self_ms)} over all spans."""
    own = stats.self_times(spans)
    out = {}
    for s in spans:
        n, tot, slf = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (n + 1, tot + (s["end"] - s["start"]) / 1e6,
                          slf + own[s["id"]] / 1e6)
    return out


def main(path):
    spans = load(path)
    print(f"{'layer':<22} {'spans':>6} {'total_ms':>12} {'self_ms':>12}")
    for name, (n, tot, slf) in sorted(layer_self_ms(spans).items()):
        print(f"{name:<22} {n:>6} {tot:>12.1f} {slf:>12.1f}")


if __name__ == "__main__":
    main(sys.argv[1])
