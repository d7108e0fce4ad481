#!/usr/bin/env python3
"""A/B one benchmark workload between two checkouts.

Usage (from any directory):
    python3 tools/ab.py --parent DIR_A --change DIR_B --workload serve_mixed \
        [--pairs 5] [--seed 1] [--seconds 15] [--build-root DIR]

Runs perfbench/run.py (unchanged) in each checkout for N pairs, the side
that runs first alternating from pair to pair. Each side builds into its
own CARGO_TARGET_DIR (<build-root>/parent, <build-root>/change), so
neither recompiles the other. For every end-to-end metric that
BENCHMARK.json (of the change checkout) declares, prints the two
medians, the parent's interquartile range, the change's wins out of N
and the failed-op totals of each side. For the op kinds get,
snapshot_get, scan and put it also prints each side's median `p50_ms`,
and each side's median `log_files` (the files the table held when the
timed phase ended, so pairs compare at equal file counts), read from
the `counts` of run.py's details line (the line before the result),
where the workload reports them. Exits 1 when any run exits
non-zero or reports an incorrect result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


OP_KINDS = ("get", "snapshot_get", "scan", "put")


def run_side(checkout, build_dir, workload, seed, seconds):
    """One run of perfbench/run.py in `checkout`: (exit code, result or
    None, the details line's counts or {})."""
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, env=env, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()

    def parse(i):
        try:
            return json.loads(lines[i]) if len(lines) >= -i else None
        except json.JSONDecodeError:
            return None
    result, detail = parse(-1), parse(-2)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result, (detail or {}).get("counts") or {}


def quartiles(xs):
    """(q1, q3) of xs, by the inclusive method; a single value is its own."""
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--build-root", default=os.path.join(
        os.path.abspath(os.path.dirname(__file__)), "..", ".bench_build", "ab"))
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)

    runs = {"parent": [], "change": []}
    counts = {"parent": [], "change": []}
    ok = True
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            build = os.path.abspath(os.path.join(args.build_root, side))
            code, res, cnt = run_side(sides[side], build, args.workload,
                                      args.seed, args.seconds)
            correct = res is not None and res.get("correct") is True
            ok = ok and code == 0 and correct
            runs[side].append(res)
            counts[side].append(cnt)
            print(f"pair {i + 1} {side}: exit {code}, correct {correct}, "
                  f"failed {res and res.get('failed')}", file=sys.stderr)

    print(f"workload {args.workload}, {args.pairs} pairs, seed {args.seed}")
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in runs[side] if r)
        attempted = sum(r["attempted"] for r in runs[side] if r)
        print(f"  {side}: failed ops {failed} of {attempted}")
    for m in bench["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        vals = {s: [r["metrics"][name]["value"] if r and name in r["metrics"]
                    else None for r in runs[s]] for s in runs}
        pairs = [(p, c) for p, c in zip(vals["parent"], vals["change"])
                 if p is not None and c is not None]
        if not pairs:
            print(f"  {name}: no values")
            continue
        par, chg = [p for p, _ in pairs], [c for _, c in pairs]
        q1, q3 = quartiles(par)
        wins = sum(1 for p, c in pairs if (c > p if higher else c < p))
        print(f"  {name:18s} parent {statistics.median(par):10.4g}  "
              f"change {statistics.median(chg):10.4g}  "
              f"parent IQR {q3 - q1:8.3g}  change wins {wins}/{len(pairs)}  "
              f"({m['better']} is better)")
    for key in [f"{kind}.p50_ms" for kind in OP_KINDS] + ["log_files"]:
        vals = {s: [c[key] for c in counts[s] if key in c] for s in counts}
        if vals["parent"] and vals["change"]:
            print(f"  {key:18s} parent {statistics.median(vals['parent']):10.4g}  "
                  f"change {statistics.median(vals['change']):10.4g}  "
                  f"(median of {len(vals['parent'])}/{len(vals['change'])} runs)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
