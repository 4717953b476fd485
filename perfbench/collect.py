"""Run the benchmark over several seeds and summarize the spread.

Run from the root of a checkout:

    python3 perfbench/collect.py OUT.jsonl --workload dedup_families --seeds 1-10

Each run's context and result lines are appended to OUT.jsonl as one
record. For each end-to-end metric the summary gives the median and the
distance between the first and third quartiles as a share of the median,
computed with ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.time()
        r = subprocess.run(cmd, capture_output=True, text=True, check=False)
        lines = r.stdout.strip().splitlines()
        if r.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-3000:]}", file=sys.stderr)
            return 1
        record = {
            "run_s": time.time() - t0,
            **json.loads(lines[-2]),
            "result": json.loads(lines[-1]),
        }
        with open(args.out, "a") as f:
            f.write(json.dumps(record) + "\n")
        res, ctx = record["result"], record["context"]
        print(
            f"seed {seed}: {record['run_s']:.0f} s, correct={res['correct']} "
            f"failed={res['failed']}/{res['attempted']} steal={ctx['steal_pct']:.2f}% "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True,
        )
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"{k}: median {med:.4g}, quartile spread {spread:.4f} (n={len(v)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
