"""Steadiness check: run one workload N times and compare the spread of
every end-to-end metric with its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload corpus_lake --runs 10 --sets 2
    python3 perfbench/steady.py --workload all --runs 10 --against old.json
    python3 perfbench/steady.py --workload all --runs 1 --seed-base 7

``--workload all`` runs every workload BENCHMARK.json lists, so the
last line is one command that runs all of them on seed 7 and prints
every end-to-end metric with its unit, and ``fail_frac``.

Each run is a fresh ``perfbench/run.py`` process with seed
``seed_base + i``; every set repeats the same seeds. For each metric the
report gives the median, the quartiles (``statistics.quantiles(n=4)``)
and the spread, (q3 - q1) / median, against the metric's bound: a spread
above a third of the bound is flagged, one above the bound fails. With
two or more sets it also gives how much worse each later set's median is
than the first set's, against the same bound. Every report is saved to
``.perfbench_out/steady-<workload>.json`` (a copy under another name
keeps it); ``--against <copy>`` compares the new first set with that
earlier one, for two sets taken far apart in time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    for line in lines:
        if line.startswith("# failed:"):
            print(f"seed {seed}{line[1:]}", flush=True)
    return json.loads(lines[-1])


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or all")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--against", help="an earlier steady-<workload>.json; with "
                    "--workload all, a directory holding them")
    args = ap.parse_args(argv)

    workloads = ([w["name"] for w in bench["workloads"]] if args.workload == "all"
                 else [args.workload])
    ok = True
    for workload in workloads:
        ok &= check_workload(bench, workload, args)
    return 0 if ok else 1


def check_workload(bench: dict, workload: str, args) -> bool:
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets: list[list[dict]] = []
    for s in range(args.sets):
        results = []
        for i in range(args.runs):
            r = run_once(workload, args.seed_base + i, args.seconds, 0)
            print(f"{workload} set {s + 1} seed {args.seed_base + i}: correct={r['correct']} "
                  f"fail_frac={r['failed'] / r['attempted']:.4g} "
                  f"({r['failed']}/{r['attempted']}) "
                  + " ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in r["metrics"].items()),
                  flush=True)
            results.append(r)
        sets.append(results)
    if args.runs < 2:
        return all(r["correct"] for rs in sets for r in rs)

    ok = True
    report = {"workload": workload, "runs": args.runs, "sets": []}
    for s, results in enumerate(sets):
        rows = {}
        for name, m in metrics.items():
            summ = summarize([r["metrics"][name]["value"] for r in results])
            third = summ["spread"] <= m["bound"] / 3
            within = summ["spread"] <= m["bound"]
            ok &= within
            summ["verdict"] = ("steady" if third else "within bound" if within else "TOO WIDE")
            rows[name] = summ
            print(f"{workload} set {s + 1} {name:12s} median={summ['median']:.4g} q1={summ['q1']:.4g} "
                  f"q3={summ['q3']:.4g} spread={summ['spread']:.3f} bound={m['bound']} "
                  f"{summ['verdict']}")
        ok &= all(r["correct"] for r in results)
        fails = [r["failed"] / r["attempted"] for r in results]
        print(f"{workload} set {s + 1} fail_frac per run: {sorted(set(round(f, 4) for f in fails))} "
              f"correct in {sum(r['correct'] for r in results)}/{len(results)} runs")
        report["sets"].append(rows)
    pairs = [(f"set {s + 1} vs set 1", report["sets"][0], report["sets"][s])
             for s in range(1, len(sets))]
    if args.against:
        path = args.against
        if os.path.isdir(path):
            path = os.path.join(path, f"steady-{workload}.json")
        with open(path) as fh:
            pairs.append(("set 1 vs earlier", json.load(fh)["sets"][0], report["sets"][0]))
    for label, first, later in pairs:
        for name, m in metrics.items():
            a, b = first[name]["median"], later[name]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            good = worse <= m["bound"]
            ok &= good
            print(f"{workload} {label} {name:12s} worse by {worse:+.3f} (bound {m['bound']}) "
                  f"{'ok' if good else 'REGRESSED'}")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_out", f"steady-{workload}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return ok


if __name__ == "__main__":
    sys.exit(main())
