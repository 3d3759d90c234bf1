#!/usr/bin/env python3
"""Interleaved A-B of the benchmark (perfbench/run.py) between two checkouts.

    python3 tools/perf_ab.py --a ../parent --b . --workload corpus --pairs 10

For each pair i (seed = --seed0 + i, the same seed on both sides) it runs
`python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
once in each checkout, A first on even pairs and B first on odd pairs, so
host drift falls on both sides alike. An odd --pairs is rounded up to the
next even number, so each side runs first equally often. Each run is a fresh JVM built from
its own checkout's sources. Nothing under perfbench/ is changed; the runs
write only their usual perfbench/.work/ outputs.

Printed per workload and end-to-end metric (BENCHMARK.json gives the
direction): each side's median and quartiles, the pairs B won (ties count
for neither), and whether the gain rule holds: B wins at least 9/10 of the
pairs and the medians differ by more than A's interquartile range. Then
each side's median split by run position (the runs it made first in a
pair, and second), so an order effect shows. Also the failed share of
each side. --out writes every run's metrics as JSON.

It flags, and exits 1 on, any metric whose B median is worse than its A
median by more than the metric's BENCHMARK.json bound (a relative bound:
0.1 = 10%), and a B failed share above A's, so a regression the benchmark
would refuse shows before the change is submitted.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import numpy as np


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.strip().splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}: {p.stderr[-500:]}", "wall_s": time.time() - t0}
    last = json.loads(lines[-1])
    return {"correct": last["correct"], "attempted": last["attempted"], "failed": last["failed"],
            "metrics": {k: v["value"] for k, v in last["metrics"].items()},
            "wall_s": time.time() - t0}


def quartiles(xs):
    q1, med, q3 = np.percentile(np.asarray(xs, dtype=float), [25, 50, 75])
    return float(q1), float(med), float(q3)


def summarize(runs, metrics):
    rows = []
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        done = [r for r in runs if "metrics" in r["a"] and "metrics" in r["b"]]
        pairs = [(r["a"]["metrics"][name], r["b"]["metrics"][name]) for r in done]
        if not pairs:
            continue
        a = [x for x, _ in pairs]
        b = [y for _, y in pairs]
        a1, am, a3 = quartiles(a)
        b1, bm, b3 = quartiles(b)
        wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
        better = bm < am if lower else bm > am
        worse_by = ((bm - am) if lower else (am - bm)) / am if am else 0.0
        bound = m.get("bound")
        by_pos = {}
        for side in ("a", "b"):
            for pos in ("first", "second"):
                xs = [r[side]["metrics"][name] for r in done if (r["first"] == side) == (pos == "first")]
                by_pos[f"{side}_{pos}_median"] = float(np.median(xs)) if xs else float("nan")
        rows.append({"metric": name, "unit": m.get("unit", ""), "pairs": len(pairs), **by_pos,
                     "a_q1": a1, "a_median": am, "a_q3": a3,
                     "b_q1": b1, "b_median": bm, "b_q3": b3,
                     "b_wins": wins, "delta_pct": 100.0 * (bm - am) / am if am else float("nan"),
                     "gain_rule": bool(better and wins >= 0.9 * len(pairs) and abs(bm - am) > a3 - a1),
                     "bound": bound,
                     "over_bound": bool(bound is not None and worse_by > bound)})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="checkout A (the parent)")
    ap.add_argument("--b", required=True, help="checkout B (the change)")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=201)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.pairs % 2:
        args.pairs += 1
        print(f"--pairs rounded up to {args.pairs} so A and B each run first in half the pairs",
              flush=True)
    a, b = os.path.abspath(args.a), os.path.abspath(args.b)
    with open(os.path.join(b, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    result = {"a": a, "b": b, "seconds": args.seconds, "workloads": {}}
    flags = []
    for w in args.workload:
        runs = []
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = [("a", a), ("b", b)] if i % 2 == 0 else [("b", b), ("a", a)]
            pair = {"seed": seed, "first": order[0][0]}
            for side, path in order:
                pair[side] = run_once(path, w, seed, args.seconds)
                m = pair[side].get("metrics", {})
                print(f"{w} pair {i} seed {seed} {side}: " +
                      (pair[side].get("error") or
                       " ".join(f"{k}={m[k]:.4g}" for k in ("pass_s", "op_p50_ms", "heap_live_mb", "setup_s")
                                if k in m) + f" failed={pair[side]['failed']}"), flush=True)
            runs.append(pair)
        rows = summarize(runs, metrics)
        failed = {s: sum(r[s].get("failed", 0) for r in runs) / max(1, sum(r[s].get("attempted", 0) for r in runs))
                  for s in ("a", "b")}
        result["workloads"][w] = {"runs": runs, "summary": rows, "failed_share": failed}
        print(f"\n{w}: {len(runs)} pairs, failed share A {failed['a']:.3f} B {failed['b']:.3f}")
        print(f"{'metric':14} {'A q1/med/q3':>26} {'B q1/med/q3':>26} {'delta':>8} {'B wins':>7} gain")
        for r in rows:
            print(f"{r['metric']:14} {r['a_q1']:8.4g}/{r['a_median']:8.4g}/{r['a_q3']:8.4g} "
                  f"{r['b_q1']:8.4g}/{r['b_median']:8.4g}/{r['b_q3']:8.4g} "
                  f"{r['delta_pct']:+7.1f}% {r['b_wins']:3d}/{r['pairs']:<3d} {r['gain_rule']}"
                  + ("  OVER BOUND" if r["over_bound"] else ""))
            if r["over_bound"]:
                flags.append(f"{w} {r['metric']}: B median {r['delta_pct']:+.1f}% vs A, bound {r['bound']:.0%}")
        print(f"\nmedian by run position (first/second in its pair); {len(runs) // 2} runs each")
        print(f"{'metric':14} {'A first/second':>20} {'B first/second':>20}")
        for r in rows:
            print(f"{r['metric']:14} {r['a_first_median']:9.4g}/{r['a_second_median']:<10.4g} "
                  f"{r['b_first_median']:9.4g}/{r['b_second_median']:<10.4g}")
        if failed["b"] > failed["a"]:
            flags.append(f"{w}: B failed share {failed['b']:.3f} above A's {failed['a']:.3f}")
        crashed = {s: sum(1 for r in runs if "error" in r[s]) for s in ("a", "b")}
        if crashed["b"] > crashed["a"]:
            flags.append(f"{w}: {crashed['b']} B runs ended without a result (A: {crashed['a']})")
    result["flags"] = flags
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    for flag in flags:
        print(f"FLAG {flag}", file=sys.stderr)
    if flags:
        sys.exit(1)


if __name__ == "__main__":
    main()
