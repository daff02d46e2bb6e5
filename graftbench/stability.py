#!/usr/bin/env python3
"""Stability check: runs the benchmark twice on the same commit and
reports, per workload and end-to-end metric, the two medians, each set's
spread (interquartile range over median) and the bound from
BENCHMARK.json.

    python3 graftbench/stability.py [--runs 10] [--workloads road_paths,sf01]

Run from the repository root. Each set uses its own seeds. A metric
passes when each set's spread is within its bound and the two medians
differ, in either direction, by no more than the bound; it is marked
"steady" when both spreads are also below a third of the bound.
Exits 1 if any run fails or any metric does not pass. The raw results go
to .bench_build/stability.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / q2


def worse_by(first, second, better):
    """Relative change from first to second, positive when worse."""
    d = (second - first) / first
    return d if better == "lower" else -d


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    metrics = bench["end_to_end"]
    results = {}
    ok = True
    for s in (0, 1):
        for w in a.workloads.split(","):
            for i in range(a.runs):
                seed = a.seed0 + 1000 * s + i
                p = subprocess.run(
                    bench["command"] + ["--workload", w, "--seed", str(seed),
                                        "--seconds", str(bench["run_seconds"]),
                                        "--trace", "0"],
                    cwd=ROOT, capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                r = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                if r is None or not r["correct"]:
                    ok = False
                    print(f"set {s + 1} {w} seed {seed}: FAILED "
                          f"(exit {p.returncode})", flush=True)
                    continue
                vals = {k: v["value"] for k, v in r["metrics"].items()}
                results.setdefault(w, [[], []])[s].append(vals)
                print(f"set {s + 1} {w} seed {seed}: " + " ".join(
                    f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
    print(f"\n{'workload':<12} {'metric':<14} {'median1':>10} {'median2':>10} "
          f"{'spread1':>8} {'spread2':>8} {'drift':>7} {'bound':>6}  verdict")
    for w, sets in results.items():
        for m in metrics:
            k, bound = m["name"], m["bound"]
            v1 = [r[k] for r in sets[0]]
            v2 = [r[k] for r in sets[1]]
            if len(v1) < 2 or len(v2) < 2:
                ok = False
                print(f"{w:<12} {k:<14} too few runs")
                continue
            med1, med2 = statistics.median(v1), statistics.median(v2)
            sp1, sp2 = spread(v1), spread(v2)
            drift = worse_by(med1, med2, m["better"])
            passed = abs(drift) <= bound and sp1 <= bound and sp2 <= bound
            steady = passed and max(sp1, sp2) < bound / 3
            ok &= passed
            verdict = "steady" if steady else ("pass" if passed else "FAIL")
            print(f"{w:<12} {k:<14} {med1:>10.4g} {med2:>10.4g} {sp1:>8.3f} "
                  f"{sp2:>8.3f} {drift:>7.3f} {bound:>6}  {verdict}")
    out = os.path.join(ROOT, ".bench_build", "stability.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(results, f)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
