#!/usr/bin/env python3
"""A/B of the benchmark between two checkouts, in alternating pairs.

    python3 scripts/bench_ab.py --base <dir> --change <dir> \\
        --workload etl_batch [--workload corpus_ops] --pairs 10 --seed 921

Pair i runs `python3 perfbench/run.py --workload <w> --seed <seed + i>` once
in each checkout (from its root, for the `run_seconds` of BENCHMARK.json),
base first in even pairs and change first in odd ones, so a drift of the
machine during the A/B hits both sides alike.
Each checkout builds its own sources on its first run, outside every metric.

Prints, per workload and end-to-end metric of BENCHMARK.json: the base's
median and quartile spread (Q3 - Q1, `statistics.quantiles(n=4)`), the
change's median, the change in percent and in how many pairs the change was
better. Any run that fails or reports `"correct": false` stops the A/B with
exit status 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """The metrics of one untraced run.py run in `checkout`; exits on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {}
    if p.returncode != 0 or res.get("correct") is not True:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"bench_ab: FAILED RUN ({checkout}, {workload}, seed {seed}): "
                 f"exit {p.returncode}, correct={res.get('correct')}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def summary(metric, better, unit, base, change):
    """One line: base median / IQR -> change median (percent, better in k/n)."""
    b_med, c_med = statistics.median(base), statistics.median(change)
    q = statistics.quantiles(base, n=4) if len(base) > 1 else [b_med] * 3
    wins = sum((c < b) if better == "lower" else (c > b) for b, c in zip(base, change))
    pct = 100.0 * (c_med - b_med) / b_med if b_med else float("nan")
    return (f"{metric}: {b_med:g} / {q[2] - q[0]:g} -> {c_med:g} {unit} "
            f"({pct:+.1f}%, {better} in {wins}/{len(base)})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    a = ap.parse_args()
    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    bench = json.load(open(os.path.join(sides["change"], "BENCHMARK.json")))
    runs = {w: {"base": [], "change": []} for w in a.workload}
    for w in a.workload:
        for i in range(a.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                runs[w][side].append(run(sides[side], w, a.seed + i, bench["run_seconds"]))
            print(f"bench_ab: {w} pair {i + 1}/{a.pairs} (seed {a.seed + i}) done",
                  file=sys.stderr)
    for w in a.workload:
        print(f"{w} ({a.pairs} pairs, seeds {a.seed}-{a.seed + a.pairs - 1}), "
              "base median / IQR -> change median:")
        for m in bench["end_to_end"]:
            base = [r[m["name"]] for r in runs[w]["base"]]
            change = [r[m["name"]] for r in runs[w]["change"]]
            print("  " + summary(m["name"], m["better"], m["unit"], base, change))


if __name__ == "__main__":
    main()
