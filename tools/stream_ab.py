#!/usr/bin/env python3
"""A/B of the streaming benchmark between two checkouts.

    python3 tools/stream_ab.py --parent ../parent --change . \\
        --seeds 11 12 13 14 15 16 17 18 19 20 --out ab.json

Runs `streambench/run.py --workload all --trace 0` in each checkout, one
pair per seed (at least 10 seeds), both sides for BENCHMARK.json's
`run_seconds`, alternating which side runs first (pair 0 parent first,
pair 1 change first, ...).

For every `workload.metric` of the result line it prints each side's
median and quartiles, the change/parent ratio of the medians, and the
number of pairs the change won (ties count for neither side). A metric
reads `gain` when the change won at least nine tenths of all pairs and
its median is better than the parent's by more than the parent's
interquartile distance; `worse` when the same rule holds the other way;
otherwise `-`. A gated end-to-end metric whose median ratio is past its
BENCHMARK.json bound is marked `OVER BOUND`.

Directions and bounds come from the change checkout's BENCHMARK.json;
a metric it does not name (an error rate) counts as better lower. Every
run's result line and capture stamps go to `--out` as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def run_once(checkout, seed, seconds):
    """One `--workload all` run: (result line, capture stamps, wall s)."""
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "streambench/run.py", "--workload", "all",
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True,
        text=True)
    wall = round(time.monotonic() - t0, 1)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"stream_ab: run in {checkout} (seed {seed}) "
                         f"failed with code {proc.returncode}")
    captures = [json.loads(ln[len("# capture "):]) for ln in lines
                if ln.startswith("# capture ")]
    return json.loads(lines[-1]), captures, wall


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single value is all three."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def directions(bench):
    """metric name -> (better, bound or None), from BENCHMARK.json."""
    out = {m["name"]: (m["better"], None) for m in bench.get("per_layer", [])}
    out.update({m["name"]: (m["better"], m.get("bound"))
                for m in bench.get("end_to_end", [])})
    return out


def verdict(parent, change, better):
    """Summary of one metric over paired runs (same index = same pair)."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    n = len(parent)
    spread = pq3 - pq1
    gap = sign * (pmed - cmed)
    if wins >= 0.9 * n and gap > spread:
        call = "gain"
    elif losses >= 0.9 * n and -gap > spread:
        call = "worse"
    else:
        call = "-"
    return {"parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3],
            "ratio": cmed / pmed if pmed else None, "wins": wins,
            "losses": losses, "pairs": n, "call": call}


def over_bound(ratio, better, bound):
    """True when a change/parent median ratio is worse than `bound`."""
    worse = ratio - 1 if better == "lower" else 1 - ratio
    return worse > bound


def fmt(q):
    return "/".join(f"{x:.4g}" for x in q)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--out", type=Path)
    a = ap.parse_args()
    if len(a.seeds) < 10:
        ap.error("at least 10 seeds (one pair each) are needed to call a gain")
    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    dirs = directions(bench)
    runs = []
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"pair": i, "seed": seed, "first": order[0]}
        for side in order:
            line, captures, wall = run_once(getattr(a, side), seed,
                                           bench["run_seconds"])
            pair[side] = {"line": line, "captures": captures, "wall_s": wall}
            print(f"pair {i} seed {seed} {side:6s} correct={line['correct']} "
                  f"wall {wall} s", file=sys.stderr, flush=True)
        runs.append(pair)
        if a.out:
            a.out.write_text(json.dumps({"runs": runs}, indent=1) + "\n")

    names = sorted(set.intersection(*(
        set(r[s]["line"]["metrics"]) for r in runs for s in ("parent", "change"))))
    summary = {}
    print(f"{'metric':36s} {'parent q1/med/q3':>26s} {'change q1/med/q3':>26s}"
          f" {'ratio':>6s} {'wins':>5s}  call")
    for name in names:
        base = name.split(".", 1)[1]
        better, bound = dirs.get(base, ("lower", None))
        p = [r["parent"]["line"]["metrics"][name]["value"] for r in runs]
        c = [r["change"]["line"]["metrics"][name]["value"] for r in runs]
        v = verdict(p, c, better)
        if bound is not None and v["ratio"] is not None:
            v["over_bound"] = over_bound(v["ratio"], better, bound)
        summary[name] = v
        ratio = f"{v['ratio']:.3f}" if v["ratio"] is not None else "-"
        flag = " OVER BOUND" if v.get("over_bound") else ""
        print(f"{name:36s} {fmt(v['parent']):>26s} {fmt(v['change']):>26s}"
              f" {ratio:>6s} {v['wins']:>2d}/{v['pairs']:<2d}  {v['call']}{flag}")
    correct = {s: sum(r[s]["line"]["correct"] for r in runs)
               for s in ("parent", "change")}
    print(f"correct runs: parent {correct['parent']}/{len(runs)}, "
          f"change {correct['change']}/{len(runs)}")
    if a.out:
        a.out.write_text(json.dumps({"runs": runs, "summary": summary,
                                     "correct": correct}, indent=1) + "\n")


if __name__ == "__main__":
    main()
