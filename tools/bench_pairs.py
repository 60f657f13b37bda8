#!/usr/bin/env python3
"""Alternating perfbench pairs of two git revisions, summed up the way a
speed claim is judged.

    python3 tools/bench_pairs.py BASE CHANGE [--pairs 10] [--seed 1]
        [--seconds 16] [--workload serve] [--workload batch] [--out f.json]

Each revision's committed files are exported (`git archive`) into its own
directory under a temporary one, so neither run sees the working tree, and
perfbench builds each once. A revision is anything `git archive` takes; to
measure uncommitted work, stage it and pass the commit `git stash create`
prints. Pair i runs both sides on seed `--seed + i`, the base first on
even i and the change first on odd i, one run at a time.

Every pair is printed as it finishes. At the end, per workload and
end-to-end metric (BENCHMARK.json at the change), it prints each side's
median and quartiles, how many pairs the change won (ties count for
neither side), the base's interquartile range, and whether the medians
differ by more than that range: a gain holds when the change wins at
least nine tenths of the pairs and the medians differ by more than the
base's IQR. Under each metric it prints the no-regression verdict against
the metric's `bound` in BENCHMARK.json: `worse` when the change's median
is worse than the base's by more than the bound (a fraction of the base's
median), `within` when it is not, and `unresolved` when the base's IQR
exceeds the bound of its median, unless every change run beats every base
run. It also prints both sides' medians of perfbench's numeric
notes (such as serve's `warmup_lap_s`), each side's failed-operation
count and any failed correctness check. perfbench itself is run as it
is.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def export(rev, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", rev], check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def bench(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.exit(f"bench_pairs: {workload} seed {seed} in {checkout} exited {p.returncode}:\n"
                 + (p.stdout + p.stderr)[-3000:])
    res = json.loads(lines[-1])
    return {"correct": res["correct"], "failed": res["failed"], "attempted": res["attempted"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "notes": notes(p.stdout)}


def notes(stdout):
    """The numeric notes of perfbench's `# workload: ... notes={...}`
    line; none when the line was cut short."""
    for ln in stdout.splitlines():
        if ln.startswith("# ") and " notes=" in ln:
            try:
                raw = json.loads(ln.split(" notes=", 1)[1])
            except ValueError:
                return {}
            return {k: v for k, v in raw.items() if isinstance(v, (int, float))}
    return {}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base, change, direction, bound):
    """worse, within or unresolved (see the module doc), with the change's
    relative loss of median and the base's relative IQR."""
    sign = 1 if direction == "higher" else -1
    bq, cq = quartiles(base), quartiles(change)
    scale = abs(bq[1]) or 1.0
    loss = sign * (bq[1] - cq[1]) / scale
    spread = (bq[2] - bq[0]) / scale
    if spread > bound and not all(sign * (c - b) > 0 for c in change for b in base):
        word = "unresolved"
    else:
        word = "worse" if loss > bound else "within"
    return word, loss, spread


def summary(workload, pairs, better, bounds):
    print(f"\n== {workload}: {len(pairs)} pairs; median (q1-q3)")
    for name, direction in better.items():
        if not all(name in p[s]["metrics"] for p in pairs for s in ("base", "change")):
            continue
        base = [p["base"]["metrics"][name] for p in pairs]
        change = [p["change"]["metrics"][name] for p in pairs]
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
        bq, cq = quartiles(base), quartiles(change)
        iqr = bq[2] - bq[0]
        gap = abs(cq[1] - bq[1])
        print(f"{name}: base {bq[1]:.2f} ({bq[0]:.2f}-{bq[2]:.2f}), "
              f"change {cq[1]:.2f} ({cq[0]:.2f}-{cq[2]:.2f}), "
              f"change wins {wins}/{len(pairs)}, median gap {gap:.2f} "
              f"{'>' if gap > iqr else '<='} base IQR {iqr:.2f}")
        word, loss, spread = verdict(base, change, direction, bounds[name])
        print(f"  {word}: change median {100 * abs(loss):.1f}% {'worse' if loss > 0 else 'better'}, "
              f"bound {100 * bounds[name]:.0f}%, base IQR {100 * spread:.1f}% of its median")
    shared = set.intersection(*(set(p[s]["notes"]) for p in pairs for s in ("base", "change")))
    for name in sorted(shared):
        bq, cq = (quartiles([p[s]["notes"][name] for p in pairs]) for s in ("base", "change"))
        print(f"note {name}: base {bq[1]:.2f} ({bq[0]:.2f}-{bq[2]:.2f}), "
              f"change {cq[1]:.2f} ({cq[0]:.2f}-{cq[2]:.2f})")
    for side in ("base", "change"):
        failed = sum(p[side]["failed"] for p in pairs)
        attempted = sum(p[side]["attempted"] for p in pairs)
        wrong = sum(1 for p in pairs if not p[side]["correct"])
        print(f"{side}: {failed} of {attempted} operations failed, "
              f"{wrong} runs with a failed check")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--workload", action="append", help="default: serve")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()
    workloads = args.workload or ["serve"]
    tmp = tempfile.mkdtemp(prefix="bench_pairs-")
    try:
        sides = {s: os.path.join(tmp, s) for s in ("base", "change")}
        export(args.base, sides["base"])
        export(args.change, sides["change"])
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
            end_to_end = json.load(f)["end_to_end"]
        better = {m["name"]: m["better"] for m in end_to_end}
        bounds = {m["name"]: m["bound"] for m in end_to_end}
        runs = {w: [] for w in workloads}
        for w in workloads:
            for i in range(args.pairs):
                seed = args.seed + i
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    pair[side] = bench(sides[side], w, seed, args.seconds)
                runs[w].append(pair)
                shown = " ".join(
                    f"{k}={pair['base']['metrics'].get(k, 0):.2f}->"
                    f"{pair['change']['metrics'].get(k, 0):.2f}" for k in better)
                print(f"{w} seed {seed} ({order[0]} first): {shown}", flush=True)
        for w in workloads:
            summary(w, runs[w], better, bounds)
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"base": args.base, "change": args.change,
                           "seconds": args.seconds, "runs": runs}, f, indent=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
