#!/usr/bin/env python3
"""Compare two sets of per-query plans written by split_plans.py.

Usage: plan_diff.py <before_dir> <after_dir>

Pairs <name>_<suffix>.txt files by <name> (the suffix must not contain
'_'), normalises the ids that differ from run to run (expression ids
'#123', RDD ids 'RDD[45]', '[plan_id=6]'), prints every query whose plan
differs or exists on one side only, and exits 1 if any does.
"""
import pathlib
import re
import sys

IDS = [(re.compile(r"#\d+"), "#N"), (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
       (re.compile(r"plan_id=\d+"), "plan_id=N")]


def plans(d):
    out = {}
    for f in sorted(pathlib.Path(d).glob("*.txt")):
        text = f.read_text(errors="replace")
        for pat, sub in IDS:
            text = pat.sub(sub, text)
        out[f.stem.rsplit("_", 1)[0]] = text
    return out


before, after = plans(sys.argv[1]), plans(sys.argv[2])
differ = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
for k in differ:
    side = "after only" if k not in before else "before only" if k not in after else "plan differs"
    print(f"{k}: {side}")
print(f"{len(before.keys() | after.keys())} queries, {len(differ)} differ")
sys.exit(1 if differ else 0)
