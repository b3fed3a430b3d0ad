"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median,
next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workloads training_set,online_serve --seeds 1-10

Run from the checkout root. Exits 1 if a run fails or is incorrect, or if a
spread (setup_s excepted) exceeds its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None, help="append every run's result line here")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in a.workloads.split(","):
        vals = {k: [] for k in bounds}
        walls = []
        for seed in seeds_of(a.seeds):
            t = time.time()
            r = subprocess.run([*bench["command"], "--workload", w, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            walls.append(time.time() - t)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "exit": r.returncode,
                                        "wall_s": walls[-1], "result": last}) + "\n")
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                res = {}
            if r.returncode != 0 or not res.get("correct"):
                ok = False
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stdout[-1500:]}\n{r.stderr[-1500:]}")
                continue
            for k in bounds:
                vals[k].append(res["metrics"][k]["value"])
        print(f"{w}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for k, xs in vals.items():
            if len(xs) < 3:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread <= bounds[k] / 3 else (" > bound/3" if spread <= bounds[k] else " > BOUND")
            if spread > bounds[k] and k != "setup_s":
                ok = False
            print(f"  {k:<14} median {med:12.4f}  spread {spread:6.3f}  bound {bounds[k]}{flag}"
                  f"  [{', '.join(f'{x:.4g}' for x in xs)}]")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
