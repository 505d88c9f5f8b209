"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload vector_hybrid --seeds 1-10

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints
for every metric its median, its quartile spread ((Q3 - Q1) / median,
``statistics.quantiles(values, n=4)``) and the third of the bound
BENCHMARK.json allows. Raw results go to ``--out`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from statistics import median  # noqa: E402

from perfbench.stats import spread  # noqa: E402


def seeds(arg: str) -> list[int]:
    lo, _, hi = arg.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for s in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed",
               str(s), "--seconds", str(seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                           timeout=600)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        res = json.loads(last)
        res["seed"] = s
        for line in p.stderr.splitlines():
            if line.startswith("failure:"):
                print(f"seed {s}: {line}", file=sys.stderr)
        runs.append(res)
        print(f"seed {s}: correct={res['correct']} attempted="
              f"{res['attempted']} failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, **res}) + "\n")
    print(f"{'metric':<24}{'median':>12}{'spread':>9}{'bound/3':>9}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        b = bounds.get(name)
        sp = spread(vals) if len(vals) >= 2 else float("nan")
        print(f"{name:<24}{median(vals):>12.4f}{sp:>9.4f}"
              f"{(b / 3 if b else float('nan')):>9.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
