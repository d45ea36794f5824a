#!/usr/bin/env python3
"""Alternating parent/change pairs of the extraction benchmark.

    python3 dev/pairs.py --parent <checkout> --change <checkout> \\
        --workload <name>[,<name>...]|all --seeds 5001-5010 --seconds 10

For each workload in turn (`all` is every workload of the change's
`BENCHMARK.json`, in its order), runs `perfbench/run.py` (untraced) once
per seed in each checkout, one run at a time, alternating which side runs
first: the parent on even seed indices, the change on odd ones. Each run's
result JSON goes to stdout as one line. Then, per workload, a table with a
row per end-to-end metric of the change's `BENCHMARK.json` (read only):
each side's median and quartiles, the pairs
the change wins (ties count for neither), the ratio of the medians, whether
the pair rule holds (wins in at least nine tenths of the pairs and a median
gain larger than the parent's interquartile range), `WORSE` where the
change's median is worse than the parent's by more than the metric's bound,
and `UNRESOLVED` where the parent's interquartile range is wider than the
bound (relative to its median) and not every change run beats every parent
run: such a spread can hide a move of the size the bound allows.
Exits non-zero when any run failed or any pass failed the output gate.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seed_range(text):
    lo, _, hi = text.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    if not seeds:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return seeds


def run(checkout, workload, seed, seconds):
    """The result JSON of one untraced run, or None when the run printed none."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def table(workload, seeds, results, metrics):
    print(f"\n{workload}, {len(seeds)} pairs (seeds {seeds[0]}-{seeds[-1]})")
    print(f"{'metric':22} {'parent q1/median/q3':>30} {'change q1/median/q3':>30} {'wins':>6} {'chg/par':>8}  pair rule")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(results["parent"], results["change"])
                 if p and c and name in p["metrics"] and name in c["metrics"]
                 and p["metrics"][name]["value"] is not None and c["metrics"][name]["value"] is not None]
        if not pairs:
            print(f"{name:22} no paired values")
            continue
        par, chg = [p for p, _ in pairs], [c for _, c in pairs]
        (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
        wins = sum(1 for p, c in pairs if (c > p if higher else c < p))
        gain = (cm - pm) if higher else (pm - cm)
        rule = "holds" if wins >= 0.9 * len(pairs) and gain > p3 - p1 else "no"
        ratio = cm / pm if pm else float("nan")
        worse = (cm < pm * (1 - m["bound"])) if higher else (cm > pm * (1 + m["bound"]))
        separated = min(chg) > max(par) if higher else max(chg) < min(par)
        unresolved = pm and (p3 - p1) / abs(pm) > m["bound"] and not separated
        print(f"{name:22} {f'{p1:.4g} / {pm:.4g} / {p3:.4g}':>30} {f'{c1:.4g} / {cm:.4g} / {c3:.4g}':>30} "
              f"{f'{wins}/{len(pairs)}':>6} {ratio:8.3f}  {rule}{'  WORSE than bound ' + str(m['bound']) if worse else ''}"
              f"{'  UNRESOLVED: parent IQR wider than bound ' + str(m['bound']) if unresolved else ''}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True, help="a workload, a comma list, or all")
    ap.add_argument("--seeds", required=True, type=seed_range, help="inclusive range, e.g. 5001-5010")
    ap.add_argument("--seconds", required=True, type=int)
    a = ap.parse_args()
    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    known = [w["name"] for w in bench["workloads"]]
    workloads = known if a.workload == "all" else a.workload.split(",")
    if set(workloads) - set(known):
        ap.error(f"unknown workload in {a.workload}; known: {', '.join(known)}")

    sides = {"parent": a.parent, "change": a.change}
    results = {w: {"parent": [], "change": []} for w in workloads}
    failed = False
    for w in workloads:
        for i, seed in enumerate(a.seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                r = run(sides[side], w, seed, a.seconds)
                if r is None or not r.get("correct") or r.get("failed"):
                    failed = True
                print(json.dumps({"side": side, "seed": seed, "workload": w, "result": r}), flush=True)
                results[w][side].append(r)

    for w in workloads:
        table(w, a.seeds, results[w], bench["end_to_end"])
    if failed:
        print("pairs: a run failed or a pass failed the output gate (see the result lines above)", file=sys.stderr)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
