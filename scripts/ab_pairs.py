#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, judged by the pairs rule.

    python3 scripts/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N [--seed S]

Runs `python3 perfbench/run.py --workload W --seed K --seconds 15 --trace 0`
in each checkout, N pairs, both sides of pair i on seed S + i. The parent
runs first on even pairs and the change first on odd ones, so a host that
slows down or speeds up over the runs does not favour one side.

For each end-to-end metric in CHANGE_DIR/BENCHMARK.json it prints each
side's median and quartiles, the change's wins out of N (ties count for
neither side), the median over the pairs of the change's value divided by
the parent's, and whether the gap between the medians exceeds the
distance between the parent's quartiles: a gain is claimed only with
wins >= 9/10 of the pairs and a gap beyond that spread. Each run's JSON
line goes to standard output as it arrives; a run that is not
`correct: true` or reports failures is named in the summary.

PARENT_DIR must be its own checkout of the parent commit with its own
build, e.g. `git worktree add ../parent HEAD~1` or a `git clone`; the
first run in it builds. Never copy a checkout together with its
`target/`: sbt's incremental state there names the original's class
directory, and building the copy once left the original's classes empty.

The script only calls perfbench/run.py; it edits nothing in either
checkout. Both checkouts should carry the same perfbench/ sources, or the
pairs compare two benchmarks; a difference is reported before the runs.
"""

import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path

SECONDS = 15


def log(msg):
    print(f"[ab_pairs] {msg}", file=sys.stderr, flush=True)


def bench_digest(root):
    """Digest of the benchmark's code (not its data) in one checkout."""
    bench = root / "perfbench"
    h = hashlib.sha256()
    for p in sorted([bench / "run.py", bench / "build.sbt"] + list((bench / "src").rglob("*"))):
        if p.is_file():
            h.update(str(p.relative_to(bench)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_once(root, workload, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(SECONDS), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair (default 1)")
    args = ap.parse_args()
    roots = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    for side, root in roots.items():
        if not (root / "perfbench" / "run.py").is_file():
            sys.exit(f"{side}: no perfbench/run.py under {root}")
    if args.pairs < 2:
        sys.exit("--pairs must be at least 2")
    if bench_digest(roots["parent"]) != bench_digest(roots["change"]):
        log("WARNING: perfbench/ differs between the checkouts")
    metrics = json.loads((roots["change"] / "BENCHMARK.json").read_text())["end_to_end"]

    results = {"parent": [], "change": []}
    bad = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            log(f"pair {i + 1}/{args.pairs}: {side}, seed {seed}")
            r = run_once(roots[side], args.workload, seed)
            print(json.dumps({"pair": i, "side": side, "seed": seed, "result": r}), flush=True)
            if r is None or not r.get("correct") or r.get("failed", 0) != 0:
                bad.append(f"pair {i + 1} {side} (seed {seed})")
            results[side].append(r)

    summarize(args.workload, args.pairs, results, bad, metrics)


def summarize(workload, n, results, bad, metrics):
    # A pair counts only when both of its runs produced a result line.
    pairs = [(p, c) for p, c in zip(results["parent"], results["change"]) if p and c]
    print(f"\n{workload}: {len(pairs)} complete pairs of {n}, {SECONDS} s runs, untraced")
    print(f"runs not correct or with failures: {', '.join(bad) if bad else 'none'}")
    if len(pairs) < 2:
        sys.exit("fewer than 2 complete pairs: nothing to compare")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [a["metrics"][name]["value"] for a, _ in pairs]
        c = [b["metrics"][name]["value"] for _, b in pairs]
        wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        gap = (pm - cm) if lower else (cm - pm)
        ratio = statistics.median(b / a for a, b in zip(p, c))
        resolved = wins >= 0.9 * len(pairs) and gap > p3 - p1
        print(f"{name} ({m['better']} is better): "
              f"parent {pm:.4g} [{p1:.4g}, {p3:.4g}], change {cm:.4g} [{c1:.4g}, {c3:.4g}]; "
              f"change wins {wins}/{len(pairs)}; median per-pair change/parent ratio {ratio:.4g}; "
              f"median gap {gap:+.4g} in the change's favour "
              f"({100 * gap / pm:+.1f}% of the parent median) vs parent IQR {p3 - p1:.4g}: "
              f"{'gain resolved' if resolved else 'no gain resolved'}")


if __name__ == "__main__":
    main()
