"""Steadiness self-check: runs the benchmark in two sets of seeded runs of
the same build and checks every end-to-end metric against its bound.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]

For each set and workload it runs run.py once per seed (set k uses seeds
1000*k + 1 ... 1000*k + runs). For each metric it prints the spread of
each set, the distance between the first and third quartile as a share of
the median, and the change of the median from set 1 to each later set.
It exits non-zero when a spread (except setup_s's) exceeds the metric's
bound, or when a later set's median is worse than set 1's by more than the
bound. The raw results go to .bench_build/steady.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed "
                         f"(exit {proc.returncode})")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: outputs incorrect")
    result["wall_s"] = wall
    return result


def spread(values: list) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    metrics = spec["end_to_end"]
    results = {}
    for s in range(1, args.sets + 1):
        for wl in args.workloads.split(","):
            runs = []
            for i in range(args.runs):
                r = run_once(wl, 1000 * s + i + 1, spec["run_seconds"])
                print(f"set {s} {wl} seed {1000 * s + i + 1}: {r['wall_s']:.1f} s "
                      + " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.6g}"
                                 for m in metrics), flush=True)
                runs.append(r)
            results[(s, wl)] = runs
    out = ROOT / ".bench_build" / "steady.json"
    out.write_text(json.dumps({f"{s}:{wl}": v for (s, wl), v in results.items()},
                              indent=1))

    ok = True
    for wl in args.workloads.split(","):
        walls = [r["wall_s"] for s in range(1, args.sets + 1)
                 for r in results[(s, wl)]]
        print(f"\n{wl}: mean run wall {statistics.mean(walls):.1f} s")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sets = [[r["metrics"][name]["value"] for r in results[(s, wl)]]
                    for s in range(1, args.sets + 1)]
            spreads = [spread(v) for v in sets]
            base = statistics.median(sets[0])
            drifts = []
            for v in sets[1:]:
                change = (statistics.median(v) - base) / base
                drifts.append(change if m["better"] == "lower" else -change)
            bad_spread = name != "setup_s" and any(x > bound for x in spreads)
            bad_drift = any(d > bound for d in drifts)
            ok &= not (bad_spread or bad_drift)
            flag = "FAIL" if bad_spread or bad_drift else (
                "ok" if all(x < bound / 3 for x in spreads) else "ok (> bound/3)")
            print(f"  {name:14s} {m['unit']:8s} bound {bound:.2f}  spread "
                  + " ".join(f"{x:.3f}" for x in spreads)
                  + "  worse-by " + " ".join(f"{d:+.3f}" for d in drifts)
                  + f"  median {base:.6g}  {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
