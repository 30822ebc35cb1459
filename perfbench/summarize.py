#!/usr/bin/env python3
"""Summarise recorded benchmark runs (.bench_build/perfbench/runs/).

Per workload: median and quartile spread of each end-to-end metric over the
untraced runs, the contended runs (marked, never dropped), the tracing
overhead (median traced pass_s minus median untraced pass_s) and, from the
traced runs' spans, the spans with the most self time.

Usage: python3 perfbench/summarize.py [workload ...]
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

RUNS = Path(__file__).resolve().parent.parent / ".bench_build" / "perfbench" / "runs"


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    wanted = set(sys.argv[1:])
    runs = defaultdict(lambda: {"plain": [], "traced": []})
    for d in sorted(RUNS.glob("*")):
        if not (d / "result.json").is_file():
            continue
        workload = d.name.split("-s")[0]
        if wanted and workload not in wanted:
            continue
        res = json.loads((d / "result.json").read_text())
        stamp = json.loads((d / "stamp.json").read_text())
        kind = "traced" if (d / "spans.json").is_file() else "plain"
        runs[workload][kind].append((d, res, stamp))
    for workload, kinds in sorted(runs.items()):
        plain, traced = kinds["plain"], kinds["traced"]
        print(f"== {workload}: {len(plain)} untraced, {len(traced)} traced runs")
        contended = [s["run"] for _, _, s in plain + traced if s["contended"]]
        if contended:
            print(f"   contended (kept): {', '.join(contended)}")
        if plain:
            for k in sorted(plain[0][1]["e2e"]):
                xs = [r["e2e"][k] for _, r, _ in plain]
                print(f"   {k:20s} median {statistics.median(xs):12.4f}  iqr/median {spread(xs):.3f}")
        if plain and traced:
            p = statistics.median(r["e2e"]["pass_s"] for _, r, _ in plain)
            t = statistics.median(r["e2e"]["pass_s"] for _, r, _ in traced)
            print(f"   tracing overhead on pass_s: {t - p:+.4f} s ({(t - p) / p:+.1%})")
        if traced:
            self_s = defaultdict(float)
            for d, _, _ in traced:
                for s in json.loads((d / "spans.json").read_text()):
                    self_s[s["name"].split(":")[0]] += s["self_s"] / len(traced)
            top = sorted(self_s.items(), key=lambda kv: -kv[1])[:8]
            print("   self time per traced run: " + ", ".join(f"{n} {v:.2f}s" for n, v in top))


if __name__ == "__main__":
    main()
