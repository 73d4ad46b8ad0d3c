#!/usr/bin/env python3
"""Run the benchmark in alternating parent/change pairs and judge each end-to-end metric.

Usage, from anywhere:

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload graph_dataprep \
        --pairs 10 --seed 101 --tsv pairs.tsv

Each pair runs `python3 graftbench/run.py --trace 0` once in each checkout with
the pair's seed (first seed + pair index), the parent first in even pairs and
the change first in odd ones. Every raw result line is appended to the TSV
(workload, seed, side, position in the pair, result), so runs with distinct
seeds can be added to one file in several sessions.
Then, for every end-to-end metric BENCHMARK.json declares, it prints each
side's median and quartiles over all the TSV's runs of the workload, the
change's wins (ties count for neither) and the parent's IQR, and a verdict:
`gain` needs wins in at least 9/10 of the pairs and a median gap in the better
direction larger than the parent's IQR; `unresolved` means the parent's IQR
exceeds the metric's bound (a fraction of the parent's median); otherwise
`worse` or `within` bound. `--pairs 0` only summarises the TSV.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = ["python3", "graftbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    return lines[-1] if p.returncode == 0 and lines else json.dumps({"error": p.returncode})


def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3


def summarise(tsv, workload, end_to_end):
    runs = {}  # (seed, side) -> metrics; a pair is identified by its seed
    with open(tsv) as f:
        for line in f:
            w, seed, side, order, raw = line.rstrip("\n").split("\t")
            res = json.loads(raw)
            if w == workload and res.get("correct"):
                runs[(int(seed), side)] = {k: v["value"] for k, v in res["metrics"].items()}
    pairs = sorted({p for p, _ in runs})
    print(f"{workload}: {len(pairs)} pairs, {len(runs)} correct runs")
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        side = {s: [runs[(p, s)][name] for p in pairs if (p, s) in runs] for s in ("parent", "change")}
        if not side["parent"] or not side["change"]:
            continue
        both = [(runs[(p, "parent")][name], runs[(p, "change")][name]) for p in pairs
                if (p, "parent") in runs and (p, "change") in runs]
        wins = sum((c < a) if lower else (c > a) for a, c in both)
        qp, qc = quartiles(side["parent"]), quartiles(side["change"])
        iqr = qp[2] - qp[0]
        gap = (qp[1] - qc[1]) if lower else (qc[1] - qp[1])
        if wins >= 0.9 * len(pairs) and gap > iqr:
            verdict = "gain"
        elif iqr > m["bound"] * abs(qp[1]):
            verdict = "unresolved"
        elif -gap > m["bound"] * abs(qp[1]):
            verdict = "worse"
        else:
            verdict = "within"
        print(f"  {name:8} parent {qp[1]:.4f} ({qp[0]:.4f}-{qp[2]:.4f})  change {qc[1]:.4f} "
              f"({qc[0]:.4f}-{qc[2]:.4f})  wins {wins}/{len(pairs)}  gap {gap:+.4f}  "
              f"parent IQR {iqr:.4f}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--tsv", required=True)
    a = ap.parse_args()
    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(dirs["change"], "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    for i in range(a.pairs):
        seed = a.seed + i
        for order, side in enumerate(("parent", "change") if i % 2 == 0 else ("change", "parent")):
            raw = run(dirs[side], a.workload, seed, a.seconds)
            with open(a.tsv, "a") as f:
                f.write(f"{a.workload}\t{seed}\t{side}\t{order}\t{raw}\n")
            print(f"pair {i} seed {seed} {side}: {raw[:160]}", file=sys.stderr, flush=True)
    summarise(a.tsv, a.workload, end_to_end)


if __name__ == "__main__":
    main()
