#!/usr/bin/env python3
"""Alternating A/B pairs of the perf benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent ../parent --change . \
        --workload script_write --seeds 1-10 --seconds 20 --out ab.jsonl

Runs `perfbench/run.py` (untraced) once per seed in each checkout, one
run at a time, alternating which side goes first. For each end-to-end
metric of BENCHMARK.json it prints each side's median and quartiles, how
many pairs the change won (ties count for neither side), and whether the
gap between the medians exceeds the parent's interquartile range. Every
run's result line is appended to --out when given. Each checkout builds
into its own `.bench_build/`; nothing is written under `perfbench/`.

With --by-op it also reads each run's
`.bench_build/work/<workload>-<seed>-trace0/measurements.jsonl` and prints,
per op of the first op cycle after the warm-up (the cycle `items_per_s`
measures), both sides' median wall time over the runs. An op is named by
its class and its position among that class's ops in the cycle (`hnsw#1`,
`hnsw#2`, `fts#1`, ...), so a cost that only the first probe after a write
pays is not averaged away, and an A/B shows which ops moved.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_list(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(root, workload, seed, seconds):
    """The result of one untraced run: the last JSON line run.py prints."""
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, capture_output=True, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or not lines:
        return {"error": (r.stderr or r.stdout).strip()[-500:]}
    res = json.loads(lines[-1])
    return {"correct": res["correct"], "failed": res["failed"], "attempted": res["attempted"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def first_cycle_ms(root, workload, seed):
    """Wall ms of each op of the first op cycle of one run's main pass,
    keyed `<class>#<n>` for the class's n-th op in the cycle; {} when its
    measurements are missing."""
    path = os.path.join(root, ".bench_build", "work", f"{workload}-{seed}-trace0",
                        "measurements.jsonl")
    if not os.path.exists(path):
        return {}
    sys.dont_write_bytecode = True  # import the cycle table without writing under perfbench/
    sys.path.insert(0, os.path.join(root, "perfbench"))
    try:
        import gen
        cycle = len(gen.CYCLES.get(workload, [None]))
    finally:
        sys.path.pop(0)
        sys.modules.pop("gen", None)
    with open(path) as f:
        ops = [r for r in map(json.loads, f) if r.get("type") == "op" and r.get("pass") == "main"]
    out, seen = {}, {}
    for o in sorted(ops, key=lambda o: o["id"])[:cycle]:
        seen[o["cls"]] = seen.get(o["cls"], 0) + 1
        out[f"{o['cls']}#{seen[o['cls']]}"] = (o["end"] - o["start"]) / 1000.0
    return out


def print_by_op(pairs):
    """Both sides' median over the runs of each first-cycle op's ms."""
    names = []
    for p, c in pairs:
        for op in list(p.get("by_op", {})) + list(c.get("by_op", {})):
            if op not in names:
                names.append(op)
    print("\nfirst-cycle ms per op (median over runs)")
    print(f"{'op':<16} {'parent':>10} {'change':>10} {'Δ':>8}")
    for op in names:
        a = [p["by_op"][op] for p, _ in pairs if op in p.get("by_op", {})]
        b = [c["by_op"][op] for _, c in pairs if op in c.get("by_op", {})]
        if not a or not b:
            continue
        am, bm = statistics.median(a), statistics.median(b)
        d = f"{(bm - am) / am:+.1%}" if am else "n/a"
        print(f"{op:<16} {am:>10.1f} {bm:>10.1f} {d:>8}")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs, metrics):
    """One row per metric: medians, quartiles, wins and the IQR test."""
    rows = []
    for name, better in metrics:
        ok = [(p, c) for p, c in pairs
              if name in p.get("metrics", {}) and name in c.get("metrics", {})
              and p["metrics"][name] is not None and c["metrics"][name] is not None]
        if not ok:
            continue
        a = [p["metrics"][name] for p, _ in ok]
        b = [c["metrics"][name] for _, c in ok]
        sign = 1 if better == "higher" else -1
        wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
        (aq1, am, aq3), (bq1, bm, bq3) = quartiles(a), quartiles(b)
        gap = sign * (bm - am)
        rows.append({"metric": name, "better": better, "pairs": len(ok),
                     "parent": [aq1, am, aq3], "change": [bq1, bm, bq3],
                     "change_vs_parent": (bm - am) / am if am else None,
                     "wins": wins, "beats_parent_iqr": abs(bm - am) > (aq3 - aq1),
                     "direction": "better" if gap > 0 else "worse" if gap < 0 else "same"})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 2,4,6")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", help="append every run's result as a JSON line")
    ap.add_argument("--by-op", action="store_true",
                    help="also print both sides' first-cycle medians per op (class#position)")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    pairs = []
    for i, seed in enumerate(seed_list(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, root in order:
            got[side] = run_one(root, a.workload, seed, a.seconds)
            if a.by_op:
                got[side]["by_op"] = first_cycle_ms(root, a.workload, seed)
            line = {"workload": a.workload, "seed": seed, "pair": i, "side": side, **got[side]}
            print(json.dumps(line), flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(line) + "\n")
        pairs.append((got["parent"], got["change"]))

    bad = [(i, s) for i, pc in enumerate(pairs) for s, r in zip(("parent", "change"), pc)
           if "error" in r or not r["correct"] or r["failed"]]
    print(f"\n{a.workload}: {len(pairs)} pairs, runs not correct or with failed ops: {bad or 'none'}")
    print(f"{'metric':<14} {'parent q1/med/q3':<28} {'change q1/med/q3':<28} {'Δmed':>8} "
          f"{'wins':>6} {'>IQR':>5}")
    for r in summarize(pairs, metrics):
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        d = f"{r['change_vs_parent']:+.1%}" if r["change_vs_parent"] is not None else "n/a"
        print(f"{r['metric']:<14} {fmt(r['parent']):<28} {fmt(r['change']):<28} {d:>8} "
              f"{r['wins']:>3}/{r['pairs']:<2} {'yes' if r['beats_parent_iqr'] else 'no':>5}")
    if a.by_op:
        print_by_op(pairs)


if __name__ == "__main__":
    main()
