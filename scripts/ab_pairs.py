#!/usr/bin/env python3
"""Back-to-back A/B pairs of the benchmark on two checkouts.

    python3 scripts/ab_pairs.py BASE CHANGE --workload api --seeds 1-6

Runs `perfbench/run.py` (end-to-end metrics, --trace 0) once in each
checkout per seed, the two runs of a pair back to back and their order
alternating from pair to pair (base first on odd pairs, change first on
even ones), so a drift of the host's speed falls on both sides. Prints one
line per pair: each end-to-end metric as change / base, with the
`host.steal_s` of both runs beside it; then, per metric, each side's
median and quartiles over its runs, the median ratio and the number of
pairs in which the change was better.
Ratios below 1 are better for "lower" metrics and above 1 for "higher"
ones (`better` in BENCHMARK.json).

Each checkout builds its own benchmark classes under its `.bench_build/`
on first use.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(text):
    """'1-6' or '1,3,5' → a list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    """One benchmark run; (metric values, context)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"ab_pairs: run in {checkout} (seed {seed}) failed")
    context = json.loads(lines[-2])["context"]
    result = json.loads(lines[-1])
    if not result["correct"]:
        print(f"  warning: {checkout} seed {seed}: {result['failed']} failed operations, "
              f"check failures {context.get('check_failures')}")
    return {k: v["value"] for k, v in result["metrics"].items()}, context


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-6"))
    ap.add_argument("--seconds", type=int, default=22)
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}

    ratios = {name: [] for name in better}
    wins = {name: 0 for name in better}
    values = {"base": {name: [] for name in better},
              "change": {name: [] for name in better}}
    for i, seed in enumerate(args.seeds):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        got = {}
        for side in order:
            got[side] = run(getattr(args, side), args.workload, seed, args.seconds)
        (base, bctx), (change, cctx) = got["base"], got["change"]
        cells = []
        for name in better:
            values["base"][name].append(base[name])
            values["change"][name].append(change[name])
            r = change[name] / base[name] if base[name] else float("nan")
            ratios[name].append(r)
            if (r < 1) if better[name] == "lower" else (r > 1):
                wins[name] += 1
            cells.append(f"{name} {r:.3f}")
        print(f"pair {i + 1} seed {seed} ({order[0]} first): " + "  ".join(cells) +
              f"  | steal base {bctx['host.steal_s']:.1f} s,"
              f" change {cctx['host.steal_s']:.1f} s", flush=True)

    n = len(args.seeds)

    def spread(vs):
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else vs * 3
        return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"

    for name, rs in ratios.items():
        print(f"{name}: base {spread(values['base'][name])}"
              f"  change {spread(values['change'][name])}"
              f"  median ratio {statistics.median(rs):.3f}"
              f"  better in {wins[name]}/{n} pairs")


if __name__ == "__main__":
    main()
