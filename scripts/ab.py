"""Alternating A/B of erbench between a parent revision and this tree.

    python3 scripts/ab.py --parent <rev> [--workloads dedup,link] [--pairs 10]
                          [--first-seed 11] [--work DIR]

Exports `<rev>` with `git archive` into `DIR/parent` (a fresh temporary
directory by default), then runs `erbench/run.py --trace 0` with the run
length `BENCHMARK.json` sets, once in each tree per seed, alternating which
tree runs first (host speed drifts over tens of minutes). Each tree builds
its own `.bench_build/`. Runs one JVM at a time.

Per workload and end-to-end metric it prints both medians, the parent's
interquartile range and the pairs the change won (ties count for neither;
"better" as BENCHMARK.json declares it), then per seed whether every call's
`rows=`/`hash=` fingerprint matches between the trees. Raw results go to
`DIR/ab.json`. Reads erbench; changes nothing under `erbench/`.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FINGERPRINT = re.compile(r"\brows=(\S+) hash=(\S+)")


def export(rev, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(tree, workload, seed, seconds):
    """(metrics by name, fingerprints of the calls) of one erbench run, or
    None when the run failed."""
    proc = subprocess.run(
        [sys.executable, os.path.join("erbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    result = json.loads(lines[-1])
    fingerprints = [m.groups() for m in map(FINGERPRINT.search, lines) if m]
    return {n: m["value"] for n, m in result["metrics"].items()}, fingerprints


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, runs, better):
    """`runs`: (seed, parent run, change run) triples, a failed run None."""
    pairs = [(seed, p, c) for seed, p, c in runs if p is not None and c is not None]
    failed = sum(p is None for _, p, _ in runs), sum(c is None for _, _, c in runs)
    print(f"\n== {workload}: {len(pairs)} pairs (failed runs: parent {failed[0]}, "
          f"change {failed[1]})")
    if not pairs:
        return
    print(f"{'metric':<14}{'parent':>12}{'change':>12}{'delta':>9}  "
          f"{'parent IQR':<22}{'change won':>10}")
    for name in pairs[0][1][0]:
        ps = [p[0][name] for _, p, _ in pairs]
        cs = [c[0][name] for _, _, c in pairs]
        lower = better.get(name, "lower") == "lower"
        won = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
        mp, mc = statistics.median(ps), statistics.median(cs)
        q1, q3 = quartiles(ps)
        delta = f"{(mc - mp) / mp:+.1%}" if mp else "n/a"
        print(f"{name:<14}{mp:>12.4g}{mc:>12.4g}{delta:>9}  "
              f"{f'{q1:.4g} - {q3:.4g}':<22}{f'{won}/{len(pairs)}':>10}")
    for seed, p, c in pairs:
        same = set(p[1]) == set(c[1]) and len(set(p[1])) == 1
        print(f"seed {seed}: hash {'match' if same else 'DIFFER'} "
              f"(parent {sorted(set(p[1]))}, change {sorted(set(c[1]))})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workloads", default="dedup,link")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=11)
    ap.add_argument("--work", help="scratch directory (default: a new temporary one)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    work = args.work or tempfile.mkdtemp(prefix="erbench-ab-")
    parent = os.path.join(work, "parent")
    export(args.parent, parent)
    trees = {"parent": parent, "change": ROOT}

    seeds = list(range(args.first_seed, args.first_seed + args.pairs))
    results = {}
    for workload in args.workloads.split(","):
        runs = []
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run_once(trees[side], workload, seed, bench["run_seconds"])
                print(f"{workload} seed {seed} {side}: "
                      f"{'failed' if got[side] is None else got[side][0]}", file=sys.stderr)
            runs.append((seed, got["parent"], got["change"]))
        results[workload] = [{"seed": s, "parent": p, "change": c} for s, p, c in runs]
        with open(os.path.join(work, "ab.json"), "w") as f:
            json.dump(results, f, indent=1)
        report(workload, runs, better)
    print(f"\nraw results: {os.path.join(work, 'ab.json')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
