"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread (``statistics.quantiles(values, n=4)``,
(Q3 - Q1) / median) against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload query_suite --seeds 1-10

Runs are sequential: two Spark sessions on one host distort each other.
Each run's result line is appended to ``--out`` (JSON lines) as it ends.
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

from perfbench.stats import median, quartile_spread  # noqa: E402


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "spread.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)

    values: dict[str, list[float]] = {}
    bad = 0
    for seed in seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]),
                                 "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            bad += 1
            continue
        result = json.loads(lines[-1])
        head = json.loads(lines[-2]) if len(lines) > 1 else {}
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, **result,
                                "headline": head.get("headline"),
                                "call_walls": head.get("call_walls")}) + "\n")
        bad += not result["correct"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                         if args.trace == 0), flush=True)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, vals in values.items():
        if len(vals) < 2 or name not in bounds:
            continue
        spread = quartile_spread(vals)
        print(f"{name:14s} median={median(vals):10.4g} spread={spread:6.3f} "
              f"bound={bounds[name]} third={bounds[name] / 3:.3f} "
              f"{'ok' if spread < bounds[name] / 3 else 'WIDE'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
