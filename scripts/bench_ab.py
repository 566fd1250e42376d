#!/usr/bin/env python3
"""A/B runs of one benchmark workload, or of batch queries: a parent checkout against a change.

Usage, with the change committed, from the directory that holds the repo:

    git clone -q repo ab-parent && git -C ab-parent checkout -q HEAD~1
    git clone -q repo ab-change
    python3 repo/scripts/bench_ab.py --parent ab-parent --change ab-change \\
        --workload stream.fixed_keep --pairs 10 --seed 901
    python3 repo/scripts/bench_ab.py --parent ab-parent --change ab-change \\
        --queries dedup_minhash,text_tfidf --sf-dir <data>/sf0.1 --pairs 5

Run each side in a fresh `git clone` of its own, the two side by side,
not the working checkout against a worktree beside it: the checkout
directory alone moves a workload (in an A/A series of one commit
against a second checkout of it, the second read `stream.count`'s
`latency_p50_ms` up to 9.8 % higher), and two fresh clones differ only
in the commit. Never copy a checkout: a copy carries `target/`, whose
incremental-compile state still names the original's class files, so
rebuilding the copy can delete them. The script first builds both sides
and stops, before the first pair, unless each has its compiled classes.

Before the first build, a workload A/B compares the two checkouts'
BENCHMARK.json and every file under perfbench/ (build output in `target/`
and `__pycache__/` aside) by SHA-256, and exits naming the first file that
differs or exists on one side only: an A/B of two different harnesses
measures the harnesses, not the change.

Pair i runs `perfbench/run.py --seed <seed + i>` once in each checkout,
the parent first in even pairs and the change first in odd ones, and
prints both sides' metrics. It then prints, for every `end_to_end` metric
named in the change's BENCHMARK.json, each side's median and quartiles,
the change's wins (ties count for neither side), and the change-minus-parent
median gap against the parent's quartile spread. The gain verdict follows
the rule: the change wins at least nine tenths of all pairs, and the median
gap is in the better direction and larger than the parent's quartile
spread. The regression verdict compares the median change with the
metric's bound. With `--trace 1` it also prints both sides' medians of
every `per_layer` metric of BENCHMARK.json that both sides report, which
shows the layer a gain or a loss comes from.

With `--queries a,b,...` each run is instead `sbt runMain graft.Bench a b
...` with `SPARK_GRAFT_SF_DIR` set to `--sf-dir`, in the same alternating
pairs, and the run's per-query seconds (Bench's best sample of the run)
are read from that checkout's `target/bench.json`, which holds every
query (Bench's final stdout line may drop the fastest). For each query it
prints each side's median and quartiles, the change's wins (lower is
better), and the change-minus-parent median gap against the parent's
quartile spread; a query is `within` when the change's median is no more
than the parent's median plus that spread. Exit status is 0 unless a run
failed or was not correct. Standard library only.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")
CLASS_PROBE = Path("target/scala-2.13/classes/graft/streaming/Minibatch.class")


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


def harness_files(checkout: Path):
    """BENCHMARK.json and every file under perfbench/ but build output, as
    checkout-relative paths mapped to their SHA-256."""
    files = [checkout / "BENCHMARK.json"] + sorted(
        f for f in (checkout / "perfbench").rglob("*")
        if f.is_file() and not {"target", "__pycache__"} & set(f.relative_to(checkout).parts))
    return {str(f.relative_to(checkout)): hashlib.sha256(f.read_bytes()).hexdigest() for f in files if f.is_file()}


def require_same_harness(dirs) -> None:
    """Exits naming the first harness file that differs between the two checkouts."""
    parent, change = (harness_files(dirs[s]) for s in SIDES)
    for name in sorted(parent.keys() | change.keys()):
        if parent.get(name) != change.get(name):
            where = ("only in the parent" if name not in change else
                     "only in the change" if name not in parent else "differs")
            sys.exit(f"{name} {where}: the two checkouts run different benchmarks, so an A/B "
                     "would compare harnesses; put both on the same BENCHMARK.json and perfbench/")


def build(checkout: Path) -> None:
    """Builds the benchmark in a checkout, as its first run would, and exits
    unless the program's classes are then in place."""
    proc = subprocess.run([sys.executable, "-c", "import runpy; runpy.run_path('perfbench/run.py')['build']()"],
                          cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.exit(f"{checkout}: the benchmark build failed (exit {proc.returncode}):\n{proc.stderr.strip()}")
    if not (checkout / CLASS_PROBE).is_file():
        sys.exit(f"{checkout}: built, but {CLASS_PROBE} is missing, so every run there would fail; "
                 "make the checkout with `git clone`, not by copying one")


def run_queries(checkout: Path, names, sf_dir: Path):
    """One `graft.Bench` run of `names` in a checkout: its target/bench.json object, or None."""
    out = checkout / "target" / "bench.json"
    out.unlink(missing_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=str(sf_dir))
    proc = subprocess.run(["sbt", "-batch", "runMain graft.Bench " + " ".join(names)], cwd=checkout, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0 or not out.is_file():
        tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
        print(f"  {checkout}: exit {proc.returncode}\n{tail}", file=sys.stderr)
        return None
    return json.loads(out.read_text())


def build_sbt(checkout: Path) -> None:
    """Compiles a checkout and exits unless the program's classes are then in place."""
    proc = subprocess.run(["sbt", "-batch", "compile"], cwd=checkout,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0 or not (checkout / CLASS_PROBE).is_file():
        sys.exit(f"{checkout}: `sbt compile` failed (exit {proc.returncode}) or left no {CLASS_PROBE}")


def alternate(pairs: int, run_side):
    """Runs `pairs` pairs, the parent first in even pairs and the change first
    in odd ones, and yields each pair's index and `{"first", "parent", "change"}`
    as soon as both sides have run; `run_side(side, i)` runs one side."""
    for i in range(pairs):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = {"first": order[0]}
        for side in order:
            pair[side] = run_side(side, i)
        yield i, pair


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x: float) -> str:
    return f"{x:.4g}"


def values(pairs, name: str):
    """Each side's values of one metric, over the pairs whose runs report it."""
    return {s: [p[s]["metrics"][name]["value"] for p in pairs if name in p[s]["metrics"]] for s in SIDES}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, type=Path, help="checkout of the change")
    ap.add_argument("--workload", help="perfbench workload (one of BENCHMARK.json's)")
    ap.add_argument("--queries", type=lambda v: [q for q in v.split(",") if q],
                    help="comma-separated graft.Bench query names, instead of --workload")
    ap.add_argument("--sf-dir", type=Path, help="data directory of the --queries runs")
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed", type=int, help="seed of the first pair (--workload)")
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", type=Path, help="also write every run's result here, as JSON")
    a = ap.parse_args()

    dirs = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    if a.queries:
        return queries_main(a, dirs)
    if a.workload is None or a.seed is None:
        ap.error("--workload and --seed are required without --queries")
    require_same_harness(dirs)
    spec = json.loads((a.change / "BENCHMARK.json").read_text())
    gated = spec["end_to_end"]
    for side in SIDES:
        build(dirs[side])
    results = []  # per pair: {"seed", "first", "parent", "change"}
    ok = True
    for i, pair in alternate(a.pairs, lambda side, i: run(dirs[side], a.workload, a.seed + i, a.seconds, a.trace)):
        pair["seed"] = a.seed + i
        results.append(pair)
        print(f"pair {i + 1}/{a.pairs} seed {pair['seed']} ({pair['first']} first)")
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
        vals = values(done, name)
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
    if a.trace:
        print("  per-layer medians, parent -> change:")
        for m in spec.get("per_layer", []):
            vals = values(done, m["name"])
            if vals["parent"] and vals["change"]:
                print(f"    {m['name']} [{m['unit']}, {m['better']} is better]: "
                      f"{fmt(statistics.median(vals['parent']))} -> {fmt(statistics.median(vals['change']))}")
    return 0 if ok and len(done) == a.pairs else 1


def queries_main(a, dirs) -> int:
    if a.sf_dir is None:
        sys.exit("--queries needs --sf-dir")
    for side in SIDES:
        build_sbt(dirs[side])
    results, ok = [], True
    for i, pair in alternate(a.pairs, lambda side, i: run_queries(dirs[side], a.queries, a.sf_dir.resolve())):
        results.append(pair)
        print(f"pair {i + 1}/{a.pairs} ({pair['first']} first)")
        for side in SIDES:
            r = pair[side]
            if r is None or r.get("failed"):
                print(f"  {side:6} FAILED {r and r['failed']}")
                ok = False
                continue
            print(f"  {side:6} " + " ".join(f"{q}={fmt(r['queries'][q])}" for q in a.queries))
        sys.stdout.flush()
    if a.out:
        a.out.write_text(json.dumps(results, indent=1))

    done = [p for p in results if p["parent"] and p["change"] and not p["parent"].get("failed")
            and not p["change"].get("failed")]
    print(f"\nqueries at {a.sf_dir}: {len(done)} complete pairs of {a.pairs}; seconds, lower is better")
    print(f"  {'query':32} {'parent median (q1..q3)':>26} {'change median (q1..q3)':>26} "
          f"{'wins':>6} {'gap':>8} {'spread':>7}  verdict")
    for q in a.queries:
        vals = {s: [p[s]["queries"][q] for p in done] for s in SIDES}
        if not vals["parent"]:
            continue
        (p1, pm, p3), (c1, cm, c3) = quartiles(vals["parent"]), quartiles(vals["change"])
        wins = sum(c < p for p, c in zip(vals["parent"], vals["change"]))
        gap, spread = cm - pm, p3 - p1
        verdict = "within" if gap <= spread else "SLOWER than the parent's median plus spread"
        print(f"  {q:32} {fmt(pm):>8} ({fmt(p1)}..{fmt(p3)}){'':>3} {fmt(cm):>8} ({fmt(c1)}..{fmt(c3)}){'':>3} "
              f"{wins:>3}/{len(done):<2} {gap:>+8.3f} {spread:>7.3f}  {verdict}")
    return 0 if ok and len(done) == a.pairs else 1


if __name__ == "__main__":
    sys.exit(main())
