#!/usr/bin/env python3
"""Alternating parent/change pairs of one ftbench workload.

    python3 tools/bench_pairs.py PARENT_TREE CHANGE_TREE --workload ft_stream \
        --seeds 11-20 --seconds 10

Each tree is a checkout of the repository (the parent commit and the
change). For every seed, `ftbench/run.py` runs once in each tree, from that
tree's root: the parent first on odd seeds, the change first on even ones,
so drift in the machine's load falls on both sides alike. The first run in
a tree also builds it. Prints, per metric, the median [min-max] of each
side, the change/parent ratio of the medians and the number of pairs the
change won, then every run's correctness, failed operations and load
average. The end-to-end metrics and their direction come from the change
tree's BENCHMARK.json; `--metric NAME` adds a per-layer metric (`--trace 1`
runs report them). Nothing in either tree is modified.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seed_list(spec):
    """`11-20` or `11,12,15` (or a mix) -> [11, ..., 20]."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def directions(tree):
    """{metric: "lower" | "higher"} of BENCHMARK.json's end-to-end metrics."""
    with open(os.path.join(tree, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["better"] for m in bench["end_to_end"]}


def run_one(tree, a, seed, log):
    """One ftbench run in `tree`: its result JSON plus the context line."""
    cmd = [sys.executable, "ftbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds), "--trace", a.trace]
    t = time.time()
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=log, text=True)
    lines = r.stdout.strip().splitlines()
    ctx = next((json.loads(l.split(":", 1)[1]) for l in lines
                if l.startswith("ftbench context:")), {})
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    res.update(exit=r.returncode, context=ctx, wall_s=round(time.time() - t, 1))
    return res


def value(res, name):
    m = res.get("metrics", {}).get(name)
    return None if m is None else m["value"]


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def summary(name, better, pairs):
    """One table line: medians [min-max], ratio, change wins."""
    par = [value(p, name) for p, _ in pairs]
    chg = [value(c, name) for _, c in pairs]
    both = [(p, c) for p, c in zip(par, chg) if p is not None and c is not None]
    if not both:
        return f"{name:34s} (not reported)"

    def side(xs):
        xs = [x for x in xs if x is not None]
        return f"{fmt(statistics.median(xs))} [{fmt(min(xs))}-{fmt(max(xs))}]"

    mp = statistics.median(p for p, _ in both)
    mc = statistics.median(c for _, c in both)
    ratio = f"{mc / mp:.3f}x" if mp else "-"
    if better in ("lower", "higher"):
        wins = sum((c < p) if better == "lower" else (c > p) for p, c in both)
        won = f"{wins}/{len(both)}"
    else:
        won = "-"
    return f"{name:34s} {side(par):>26s} {side(chg):>26s} {ratio:>8s} {won:>6s}"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent", help="the parent commit's tree")
    p.add_argument("change", help="the change's tree")
    p.add_argument("--workload", required=True, choices=("ft_serve", "ft_stream"))
    p.add_argument("--seeds", required=True, type=seed_list, help="e.g. 11-20")
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", default="0", choices=("0", "1"))
    p.add_argument("--metric", action="append", default=[],
                   help="a per-layer metric to report as well (repeatable)")
    p.add_argument("--out", help="append every run's result to this JSONL file")
    p.add_argument("--log", default=os.devnull, help="ftbench's stderr goes here")
    a = p.parse_args()
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for side, tree in trees.items():
        if not os.path.isfile(os.path.join(tree, "ftbench", "run.py")):
            sys.exit(f"bench_pairs: {side} tree {tree} has no ftbench/run.py")
    better = directions(trees["change"])

    pairs = []
    with open(a.log, "a") as log:
        for seed in a.seeds:
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run_one(trees[side], a, seed, log)
                print(f"seed {seed} {side}: exit {got[side]['exit']} in "
                      f"{got[side]['wall_s']} s", file=sys.stderr)
                if a.out:
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps(dict(got[side], side=side, seed=seed,
                                                 workload=a.workload)) + "\n")
            pairs.append((got["parent"], got["change"]))

    print(f"{a.workload}: {len(pairs)} pairs, seeds {a.seeds[0]}-{a.seeds[-1]}, "
          f"--seconds {a.seconds}, --trace {a.trace}")
    print(f"{'metric':34s} {'parent median [min-max]':>26s} "
          f"{'change median [min-max]':>26s} {'ratio':>8s} {'wins':>6s}")
    for name in list(better) + a.metric:
        print(summary(name, better.get(name), pairs))
    for seed, (par, chg) in zip(a.seeds, pairs):
        for side, r in (("parent", par), ("change", chg)):
            ctx = r["context"]
            load = f"{ctx.get('loadavg_start', '?')}->{ctx.get('loadavg_end', '?')}"
            print(f"  seed {seed} {side}: correct={r.get('correct')} "
                  f"failed={r.get('failed')}/{r.get('attempted')} exit={r['exit']} "
                  f"loadavg {load}")


if __name__ == "__main__":
    main()
