#!/usr/bin/env python3
"""Compare two sets of benchmark results, or check the spread of one.

    python3 perfbench/compare.py BASE_DIR [CHANGE_DIR]

A result set is a directory of files, each holding the standard output of
one `perfbench/run.py` run (its last two lines: the run's identity, then the
result). With one directory, prints per workload each end-to-end metric's
median, quartiles and spread (quartile distance over median) against its
bound in BENCHMARK.json. With two, prints per workload each end-to-end
metric's medians and quartiles on both sides and a verdict:

  better      the change's median is better by more than the base's spread,
              and the change wins at least 9 of 10 seed-paired runs;
  worse       the change's median is worse by more than the bound;
  unresolved  a side's spread exceeds the bound, unless every change run is
              better (or worse) than every base run;
  same        otherwise.

Per-layer metrics from traced runs follow as medians with their change.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    """{workload: {"e2e": [(seed, metrics)], "layer": [(seed, metrics)]}}"""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*"))):
        lines = [l for l in open(path).read().splitlines() if l.startswith("{")]
        if len(lines) < 2:
            continue
        ident, res = json.loads(lines[-2]), json.loads(lines[-1])
        if not res.get("correct"):
            print(f"skipping {path}: not correct", file=sys.stderr)
            continue
        kind = "layer" if "trace.overhead_share" in res["metrics"] else "e2e"
        vals = {k: v["value"] for k, v in res["metrics"].items()}
        out.setdefault(ident["workload"], {"e2e": [], "layer": []})[kind].append(
            (ident["seed"], vals))
    return out


def stats(xs):
    m = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (m, m, m)
    return m, q1, q3, (q3 - q1) / m if m else float("inf")


def verdict(base, change, better, bound):
    """base/change: {seed: value}."""
    sign = 1 if better == "lower" else -1
    mb, _, _, sb = stats(list(base.values()))
    mc, _, _, sc = stats(list(change.values()))
    rel = sign * (mc - mb) / mb  # > 0: the change is worse
    all_better = max(sign * v for v in change.values()) < min(sign * v for v in base.values())
    all_worse = min(sign * v for v in change.values()) > max(sign * v for v in base.values())
    if max(sb, sc) > bound and not (all_better or all_worse):
        return rel, "unresolved"
    if rel > bound or (max(sb, sc) > bound and all_worse):
        return rel, "worse"
    pairs = [s for s in base if s in change]
    wins = sum(sign * change[s] < sign * base[s] for s in pairs)
    if (-rel > sb and pairs and wins >= 0.9 * len(pairs)) or (max(sb, sc) > bound and all_better):
        return rel, "better"
    return rel, "same"


def main():
    if len(sys.argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    base = load(sys.argv[1])
    change = load(sys.argv[2]) if len(sys.argv) == 3 else None
    worst = 0
    for wl in sorted(base):
        runs = base[wl]["e2e"]
        print(f"== {wl}: {len(runs)} base runs"
              + (f", {len(change.get(wl, {}).get('e2e', []))} change runs" if change else ""))
        for name, m in e2e.items():
            b = {s: v[name] for s, v in runs if name in v}
            if not b:
                continue
            mb, q1, q3, sb = stats(list(b.values()))
            row = f"  {name:<12} {mb:10.4f} [{q1:.4f}, {q3:.4f}] spread {sb:6.2%}"
            if change is None:
                ok = name == "setup_s" or sb <= m["bound"]
                worst = max(worst, 0 if ok else 1)
                print(f"{row}  bound {m['bound']:.0%} {'ok' if ok else 'TOO WIDE'}")
                continue
            c = {s: v[name] for s, v in change.get(wl, {}).get("e2e", []) if name in v}
            if not c:
                print(f"{row}  | no change runs")
                continue
            mc, c1, c3, _ = stats(list(c.values()))
            rel, v = verdict(b, c, m["better"], m["bound"])
            worst = max(worst, 1 if v == "worse" else 0)
            print(f"{row}  | {mc:10.4f} [{c1:.4f}, {c3:.4f}]  {rel:+7.2%}  {v}")
        layers = base[wl]["layer"]
        if layers:
            print(f"  per-layer ({len(layers)} traced base runs)")
            for name in sorted({k for _, v in layers for k in v}):
                mb = statistics.median(v[name] for _, v in layers if name in v)
                line = f"    {name:<32} {mb:12.4f}"
                cl = change.get(wl, {}).get("layer", []) if change else []
                if cl:
                    mc = statistics.median(v[name] for _, v in cl if name in v)
                    delta = f"{(mc - mb) / mb:+8.2%}" if mb else ""
                    line += f"  | {mc:12.4f} {delta}"
                print(line)
    sys.exit(worst)


if __name__ == "__main__":
    main()
