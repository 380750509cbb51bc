"""Run one workload over several seeds and report each metric's median and
quartile spread (the distance between the first and third quartile as a
share of the median), the rule the benchmark's bounds are judged by.

    python3 erbench/spread.py --workload batch_er --seeds 1-10 --seconds 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import quality

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="1")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, f"{HERE}/run.py", "--workload", args.workload, "--seed", str(seed),
               "--seconds", args.seconds, "--trace", args.trace]
        out = subprocess.run(cmd, capture_output=True, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stdout[-2000:]}{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        for k, v in json.loads(last)["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        with open(f"{HERE}/results/{args.workload}-seed{seed}-trace{args.trace}.json") as f:
            report = json.load(f)["report"]
        for k in ("probe_s", "wall_setup_s", "wall_run_s", "wall_batch_p50_s"):
            if report.get(k):
                values.setdefault(k, []).append(report[k])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    for k, v in values.items():
        b = bounds.get(k)
        note = f" bound {b} (spread/bound {quality.spread(v) / b:.2f})" if b else ""
        print(f"{k:<24} median {quality.p50(v):>12.4f} spread {quality.spread(v):.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
