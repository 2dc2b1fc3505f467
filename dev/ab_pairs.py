#!/usr/bin/env python3
"""Alternating parent/change pairs of the deviation-engine benchmark.

    python3 dev/ab_pairs.py --parent <checkout> --change <checkout> \
        --workload <flagship|replication> [--pairs 10] [--seed 1001] \
        [--out runs.jsonl]

Runs `perfbench/run.py --trace 0` in two checkouts, one pair per seed
(seed, seed+1, ...), and alternates which side runs first. Each pair uses the
same seed on both sides, and every run lasts the `run_seconds` of the
change's BENCHMARK.json. For every end-to-end metric of that file it prints
each side's median and quartiles, the change's median relative to the
parent's, and the share of pairs the change won (ties count for neither
side). A metric is marked

  UNRESOLVED when either side's interquartile distance is larger than the
             metric's bound times that side's median, unless every change
             run beats every parent run: the runs spread too widely to tell;
  REGRESSED  when the change's median is worse than the parent's by more than
             the metric's bound;
  GAIN       when at least 10 pairs ran, the change won at least 9/10 of
             them, the medians differ by more than the parent's
             interquartile distance, the metric is not UNRESOLVED, and the
             change fails no larger share of operations than the parent.

The exit status is 1 when any metric regressed or is unresolved, or the
change failed a larger share of operations than the parent, else 0. Each run's result line is appended to
`--out` when given. Nothing in either checkout is modified beyond what
run.py itself builds and deletes.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    done = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          stdin=subprocess.DEVNULL)
    lines = [ln for ln in done.stdout.splitlines() if ln.strip()]
    if done.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(done.stderr[-4000:])
        raise SystemExit(f"ab_pairs: run failed in {checkout} (seed {seed}, exit {done.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True, choices=("flagship", "replication"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1001)
    ap.add_argument("--out", type=Path, default=None)
    args = ap.parse_args()

    bench = json.loads((args.change / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    runs = {"parent": [], "change": []}

    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result = run_once(getattr(args, side), args.workload, seed, seconds)
            runs[side].append(result)
            if args.out is not None:
                with args.out.open("a") as f:
                    f.write(json.dumps({"side": side, "pair": i, "seed": seed,
                                        "workload": args.workload, "result": result}) + "\n")
        p, c = runs["parent"][-1]["metrics"], runs["change"][-1]["metrics"]
        key = "step_s_p50" if "step_s_p50" in p else next(iter(p))
        print(f"pair {i + 1}/{args.pairs} seed {seed} ({order[0]} first): "
              f"{key} parent {p[key]['value']:.4g} change {c[key]['value']:.4g}",
              file=sys.stderr, flush=True)

    failed = {s: sum(r["failed"] for r in runs[s]) for s in runs}
    attempted = {s: sum(r["attempted"] for r in runs[s]) for s in runs}
    fails_more = (failed["change"] * max(attempted["parent"], 1)
                  > failed["parent"] * max(attempted["change"], 1))

    bad = False
    print(f"workload {args.workload}: {args.pairs} pairs, seeds {args.seed}..{args.seed + args.pairs - 1}, "
          f"{seconds:g} s runs")
    print(f"{'metric':<14} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} "
          f"{'ratio':>6} {'wins':>6}  verdict")
    for m in metrics:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        pv = [r["metrics"][name]["value"] for r in runs["parent"] if name in r["metrics"]]
        cv = [r["metrics"][name]["value"] for r in runs["change"] if name in r["metrics"]]
        if not pv or not cv:
            print(f"{name:<14} missing")
            continue
        pairs = [(r["metrics"][name]["value"], s["metrics"][name]["value"])
                 for r, s in zip(runs["parent"], runs["change"])
                 if name in r["metrics"] and name in s["metrics"]]
        wins = sum(1 for a, b in pairs if (b < a if lower else b > a))
        p1, pm, p3 = quartiles(pv)
        c1, cm, c3 = quartiles(cv)
        ratio = cm / pm if pm else float("inf")
        better = cm < pm if lower else cm > pm
        separated = (max(cv) < min(pv)) if lower else (min(cv) > max(pv))
        unresolved = not separated and ((p3 - p1) > bound * abs(pm) or (c3 - c1) > bound * abs(cm))
        verdicts = []
        if unresolved:
            verdicts.append(f"UNRESOLVED (IQR above bound {bound:g})")
            bad = True
        if (cm > pm * (1 + bound)) if lower else (cm < pm * (1 - bound)):
            verdicts.append(f"REGRESSED (bound {bound:g})")
            bad = True
        if (better and not unresolved and not fails_more and len(pairs) >= 10
                and wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1)):
            verdicts.append("GAIN")
        print(f"{name:<14} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':<30} {f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':<30} "
              f"{ratio:>6.3f} {f'{wins}/{len(pairs)}':>6}  {' '.join(verdicts)}")

    print(f"failed/attempted: parent {failed['parent']}/{attempted['parent']}, "
          f"change {failed['change']}/{attempted['change']}")
    if fails_more:
        print("change fails a larger share of operations: no GAIN counts")
        bad = True
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
