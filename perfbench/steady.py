"""Steadiness check: two sets of runs of the same code, workloads alternating.

    python3 perfbench/steady.py --runs 10

Runs every workload in BENCHMARK.json --runs times in each of two sets
(set 1 with seeds 1..runs, set 2 with the next runs seeds). For each
workload and end-to-end metric it prints each set's median and quartiles,
the spread (q3 - q1) / median, and whether the sets agree within the
metric's bound: every spread within the bound, the two medians apart by no
more than the bound (as a share of the first), and the same share of
failed operations in both sets. Raw results go to .bench_build/steady/.
Exits 1 if anything disagrees.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd, workload, seed, seconds):
    t0 = time.time()
    proc = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed), "--seconds",
                                 str(seconds), "--trace", "0"],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    result["log"] = [line for line in proc.stderr.splitlines() if line.startswith("[perfbench]")]
    return result


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else 0.0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    args = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    results = {(s, w): [] for s in range(2) for w in workloads}
    t0 = time.time()
    for i in range(args.runs):
        for s in range(2):
            for w in workloads:
                seed = 1 + s * args.runs + i
                r = run_once(bench["command"], w, seed, bench["run_seconds"])
                results[(s, w)].append(r)
                print(f"set {s} {w} seed {seed}: {r['wall_s']:.0f} s, correct={r['correct']}, "
                      f"failed {r['failed']}/{r['attempted']}, " +
                      ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
    print(f"total {time.time() - t0:.0f} s for {sum(len(v) for v in results.values())} runs")

    ok = True
    for w in workloads:
        print(f"\n{w}")
        shares = [{r["failed"] / r["attempted"] for r in results[(s, w)]} for s in range(2)]
        same = all(len(x) == 1 for x in shares) and len(set().union(*shares)) == 1
        correct = all(r["correct"] for s in range(2) for r in results[(s, w)])
        print(f"  failed share per set: {[sorted(x) for x in shares]} "
              f"{'same' if same else 'DIFFERS'}; all correct: {correct}")
        ok &= same and correct
        for name, m in bounds.items():
            stats = [spread([r["metrics"][name]["value"] for r in results[(s, w)]])
                     for s in range(2)]
            line = "  ".join(f"set{s}: median {q2:.4g} [{q1:.4g}, {q3:.4g}] spread {sp:.3f}"
                             for s, (q1, q2, q3, sp) in enumerate(stats))
            wide = any(sp > m["bound"] for *_, sp in stats)
            a, b = stats[0][1], stats[1][1]
            shift = abs(b - a) / a if a else 0.0
            ok &= not wide and shift <= m["bound"]
            print(f"  {name} (bound {m['bound']}): {line}  -> "
                  f"{'SPREAD OVER BOUND' if wide else 'spread ok'}, "
                  f"shift {shift:.3f} {'ok' if shift <= m['bound'] else 'OVER BOUND'}")

    out = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{time.strftime('%Y%m%d-%H%M%S')}.json"), "w") as fh:
        json.dump({f"{s}:{w}": v for (s, w), v in results.items()}, fh, indent=1)
    print("\nagree within bounds" if ok else "\nDISAGREE")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
