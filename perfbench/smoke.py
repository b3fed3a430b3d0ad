"""Tiny-scale smoke check of the benchmark itself: every workload, untraced
and traced, must finish correct and print exactly the metric names and
units BENCHMARK.json declares (end_to_end with --trace 0, per_layer with
--trace 1).

    python3 perfbench/smoke.py

Run from the checkout root; takes a few minutes (one build, four short runs).
"""
import json
import subprocess
import sys

TINY = {"training_set": 0.1, "online_serve": 0.05}


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    bad = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            r = subprocess.run([*bench["command"], "--workload", w, "--seed", "1",
                                "--seconds", "1", "--trace", str(trace),
                                "--scale", str(TINY[w])], capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                bad.append(f"{w} trace={trace}: no result line (exit {r.returncode})\n{r.stderr[-800:]}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            problems = []
            if r.returncode != 0 or not res["correct"]:
                problems.append(f"exit {r.returncode}, correct={res['correct']}")
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                units = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                problems.append(f"missing {missing} extra {extra} wrong units {units}")
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(res)}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w:<18} trace={trace} {status}")
            if problems:
                bad.append(f"{w} trace={trace}: {problems}")
    if bad:
        print("\n".join(bad), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
