#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one row per workload and metric.

    python3 perfbench/diff.py BEFORE_DIR AFTER_DIR

Each directory holds run records as run.py leaves them in
`.bench_build/results/` (`<workload>-s<seed>-t<trace>.json`, plus the
`.spans.jsonl` file of a traced run); copy that directory away between the
two commits. For every workload the table gives, per end-to-end metric
(untraced runs) and per layer (traced runs), the median over the runs of each
side, the quartile spread of the before side, and the change. Rows whose
change exceeds the before side's spread are marked, so a change can name the
layer that moved.
"""
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import trace_report  # noqa: E402


def load(d):
    """{workload: {metric: [value per run]}}"""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as f:
            run = json.load(f)
        if not run.get("ops"):
            continue
        m = (trace_report.per_layer(run, trace_report.load_spans(
                path + ".spans.jsonl")) if run["traced"]
             else trace_report.end_to_end(run))
        w = out.setdefault(run["workload"], {})
        for k, v in m.items():
            w.setdefault(k, []).append(v["value"])
    return out


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / abs(statistics.median(xs) or 1.0)


def main():
    before, after = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':15s} {'metric':42s} {'before':>12s} {'after':>12s} "
          f"{'change':>8s} {'spread':>7s}")
    for w in sorted(set(before) | set(after)):
        b, a = before.get(w, {}), after.get(w, {})
        for m in sorted(set(b) | set(a)):
            if not b.get(m) or not a.get(m):
                continue
            mb, ma = statistics.median(b[m]), statistics.median(a[m])
            if mb == 0 and ma == 0:
                continue
            ch = (ma - mb) / abs(mb) if mb else float("inf")
            sp = spread(b[m])
            flag = " *" if abs(ch) > sp else ""  # never for a single run
            sp_s = f"{sp:7.1%}" if sp == sp else "    n/a"
            print(f"{w:15s} {m:42s} {mb:12.5g} {ma:12.5g} {ch:+8.1%} "
                  f"{sp_s}{flag}")


if __name__ == "__main__":
    main()
