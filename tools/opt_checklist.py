#!/usr/bin/env python3
"""Emit a round's per-query checklist table (OPTIMIZATION_r<N>.md): baseline
vs final bench seconds plus the optimization item(s) that touched each query,
or why it was left alone.

Usage: opt_checklist.py <round.json> <baseline.json> <final.json>

<round.json> holds the round's data (tools/opt_rounds/r13.json, r14.json):
  "items":        item tag -> queries that item touched
  "left_alone":   query -> why it was left as it is
  "default_note": note for a query neither touched nor left alone (optional)
The bench JSONs are Bench outputs; only their "queries" maps are read.
"""
import json
import sys


def main() -> None:
    with open(sys.argv[1]) as f:
        rnd = json.load(f)
    with open(sys.argv[2]) as f:
        a = json.load(f)["queries"]
    with open(sys.argv[3]) as f:
        b = json.load(f)["queries"]
    left_alone = rnd["left_alone"]
    touched = {}
    for tag, qs in rnd["items"].items():
        for q in qs:
            touched.setdefault(q, []).append(tag)
    print("| query | baseline s | final s | Δ | optimized by / why left |")
    print("|---|---|---|---|---|")
    for k in sorted(b):
        x, y = a.get(k), b[k]
        # a query missing from the baseline is n/a; a 0.0 baseline is a
        # real value, it only has no relative change
        base = "n/a" if x is None else f"{x:.3f}"
        d = f"{(y - x) / x * 100:+.0f}%" if x else "n/a"
        note = ", ".join(touched.get(k, []))
        if k in left_alone:
            note = (note + "; " if note else "") + left_alone[k]
        if not note:
            note = rnd.get("default_note", "")
        print(f"| {k} | {base} | {y:.3f} | {d} | {note} |")


if __name__ == "__main__":
    main()
