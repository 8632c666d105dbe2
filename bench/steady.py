#!/usr/bin/env python3
"""Steadiness report: runs repeated sets of each workload and judges every
end-to-end metric against the bounds in BENCHMARK.json.

    python3 bench/steady.py [--sets 2] [--seeds 1,2,3,4,5] [--workloads a,b]

For each set, each seed and each workload it makes one run of
bench/run.py (run length from BENCHMARK.json). Per metric it prints each
set's median and quartiles, the spread (interquartile distance over the
median) and how far the last set's median moved from the first's in the
worse direction, then:
  PASS   spread within the bound (setup_s exempt) and move within the bound;
  STEADY additionally spread under a third of the bound.
It also prints the warm-up ratio (first warm-up step over the steady
median) and checks that each seed repeats its output digest and its
quality exactly across sets, and that no step failed. Exits 1 on any FAIL.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402  (build_root: where run.py leaves its records)


def one_run(workload, seed, seconds, names):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    result = json.loads(r.stdout.strip().split("\n")[-1])
    if list(result["metrics"]) != names:
        raise SystemExit(f"{workload} printed metrics {list(result['metrics'])}, BENCHMARK.json lists {names}")
    rec = json.loads((run.build_root() / "records" / f"{workload}-s{seed}-t0.json").read_text())
    steps = rec["steps"]
    warm = [s for s in steps if s["i"] < len(steps) - result["attempted"]]
    steady = sorted(s["wall_ms"] for s in steps[len(warm):] if not s["traced"])
    result["warmup_ratio"] = warm[0]["wall_ms"] / statistics.median(steady) if warm else 1.0
    result["digest"] = rec["digest"]
    return result


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, statistics.median(xs), q3


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    workloads = a.workloads.split(",")
    runs = {w: [[] for _ in range(a.sets)] for w in workloads}
    for k in range(a.sets):
        for seed in seeds:
            for w in workloads:
                r = one_run(w, seed, bench["run_seconds"], [m["name"] for m in bench["end_to_end"]])
                runs[w][k].append((seed, r))
                print(f"set {k + 1} {w} seed {seed}: " + ", ".join(
                    f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()), flush=True)
    ok = True
    for w in workloads:
        print(f"\n== {w} ({len(seeds)} seeds x {a.sets} sets)")
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            meds, cells = [], []
            for k in range(a.sets):
                xs = [r["metrics"][name]["value"] for _, r in runs[w][k]]
                q1, med, q3 = quartiles(xs)
                meds.append(med)
                spread = (q3 - q1) / med if med else float("inf")
                cells.append((med, q1, q3, spread))
            move = (meds[-1] - meds[0]) / meds[0] * (1 if lower else -1) if meds[0] else 0.0
            worst = max(c[3] for c in cells)
            passed = move <= bound and (name == "setup_s" or worst <= bound)
            steady = passed and (name == "setup_s" or worst < bound / 3)
            ok &= passed
            sets = "  ".join(f"med {c[0]:.4g} [{c[1]:.4g}, {c[2]:.4g}] spread {c[3]:.3f}" for c in cells)
            print(f"  {name:14s} {sets}  move {move:+.3f}  bound {bound}  "
                  f"{'STEADY' if steady else 'PASS' if passed else 'FAIL'}")
        ratios = [r["warmup_ratio"] for k in range(a.sets) for _, r in runs[w][k]]
        print(f"  warm-up ratio (first step / steady median): median {statistics.median(ratios):.2f}, "
              f"max {max(ratios):.2f}")
        repeat_ok = True
        for i, seed in enumerate(seeds):
            same = {(r["digest"], r["metrics"]["quality"]["value"]) for r in (runs[w][k][i][1] for k in range(a.sets))}
            failed = sum(runs[w][k][i][1]["failed"] for k in range(a.sets))
            if len(same) != 1 or failed:
                ok = repeat_ok = False
                print(f"  FAIL seed {seed}: {len(same)} distinct (digest, quality), {failed} failed steps")
        print(f"  digests and quality repeat per seed across sets: {'yes' if repeat_ok else 'NO'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
