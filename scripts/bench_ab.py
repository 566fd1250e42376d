#!/usr/bin/env python3
"""A/B runs of one benchmark workload: a parent checkout against a change.

Usage (from anywhere; both directories are full checkouts):

    python3 scripts/bench_ab.py --parent ../parent --change . \\
        --workload stream.fixed_keep --pairs 10 --seed 901

Pair i runs `perfbench/run.py --seed <seed + i>` once in each checkout,
the parent first in even pairs and the change first in odd ones, and
prints both sides' metrics. It then prints, for every `end_to_end` metric
named in the change's BENCHMARK.json, each side's median and quartiles,
the change's wins (ties count for neither side), and the change-minus-parent
median gap against the parent's quartile spread. The gain verdict follows
the rule: the change wins at least nine tenths of all pairs, and the median
gap is in the better direction and larger than the parent's quartile
spread. The regression verdict compares the median change with the
metric's bound. Exit status is 0 unless a run failed or was not correct.
Standard library only.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")


def run(checkout: Path, workload: str, seed: int, seconds: int, trace: int):
    """One run of the workload in a checkout: its result object, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
        print(f"  {checkout}: exit {proc.returncode}\n{tail}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x: float) -> str:
    return f"{x:.4g}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, type=Path, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed", required=True, type=int, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", type=Path, help="also write every run's result here, as JSON")
    a = ap.parse_args()

    spec = json.loads((a.change / "BENCHMARK.json").read_text())
    gated = spec["end_to_end"]
    dirs = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    results = []  # per pair: {"seed", "first", "parent", "change"}
    ok = True
    for i in range(a.pairs):
        seed = a.seed + i
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(dirs[side], a.workload, seed, a.seconds, a.trace)
        results.append(pair)
        print(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0]} first)")
        for side in SIDES:
            r = pair[side]
            if r is None:
                print(f"  {side:6} FAILED")
                ok = False
                continue
            ok = ok and r["correct"] and r["failed"] == 0
            metrics = " ".join(f"{k}={fmt(v['value'])}" for k, v in sorted(r["metrics"].items()))
            print(f"  {side:6} correct={r['correct']} failed={r['failed']}/{r['attempted']} {metrics}")
        sys.stdout.flush()
    if a.out:
        a.out.write_text(json.dumps(results, indent=1))

    done = [p for p in results if p["parent"] and p["change"]]
    print(f"\n{a.workload}: {len(done)} complete pairs of {a.pairs}, seeds {a.seed}..{a.seed + a.pairs - 1}")
    for m in gated:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [p[s]["metrics"][name]["value"] for p in done if name in p[s]["metrics"]] for s in SIDES}
        if not vals["parent"] or len(vals["parent"]) != len(vals["change"]):
            print(f"  {name}: not reported by every run")
            continue
        (p1, pm, p3), (c1, cm, c3) = quartiles(vals["parent"]), quartiles(vals["change"])
        wins = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
        losses = sum((c > p) if lower else (c < p) for p, c in zip(vals["parent"], vals["change"]))
        gap, spread = cm - pm, p3 - p1
        better = gap < 0 if lower else gap > 0
        gain = wins >= 0.9 * len(done) and better and abs(gap) > spread
        rel = gap / pm if pm else float("nan")
        worse = (rel > m["bound"]) if lower else (-rel > m["bound"])
        print(f"  {name} [{m['unit']}, {m['better']} is better, bound {m['bound']}]")
        print(f"    parent median {fmt(pm)}  quartiles {fmt(p1)}..{fmt(p3)}  spread {fmt(spread)}")
        print(f"    change median {fmt(cm)}  quartiles {fmt(c1)}..{fmt(c3)}")
        print(f"    change wins {wins}/{len(done)} (loses {losses}); gap {fmt(gap)} ({rel:+.1%}) "
              f"vs parent spread {fmt(spread)}: {'gain' if gain else 'no gain'}; "
              f"{'WORSE than its bound' if worse else 'within its bound'}")
    return 0 if ok and len(done) == a.pairs else 1


if __name__ == "__main__":
    sys.exit(main())
