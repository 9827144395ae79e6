"""Steadiness record: run one workload on several seeds and summarise.

    python3 perfbench/steady.py --workload stream_fanout --seeds 1-10 --seconds 10

For each end-to-end metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the quartile spread as a share
of the median; for each run, the first- and second-half medians of the
timed window (latency and pass time), which show whether the warm-up was
long enough. ``--trace 1`` summarises the per-layer metrics instead.
Raw results are appended to ``--log`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", default=os.path.join(os.path.dirname(HERE), ".perfbench", "steady.jsonl"))
    a = ap.parse_args()
    os.makedirs(os.path.dirname(a.log), exist_ok=True)
    runs = []
    for seed in seeds(a.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", flush=True)
            continue
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append((detail, result))
        with open(a.log, "a") as fh:
            fh.write(json.dumps({"trace": a.trace, "detail": detail, "result": result}) + "\n")
        print(
            f"seed {seed}: correct={result['correct']} failed={result['failed']}/"
            f"{result['attempted']} samples={detail['samples']} beyond_p90={detail['beyond_p90']} "
            f"p50 halves={[round(x, 3) for x in detail['latency_p50_halves_s']]} "
            f"pass halves={[x if x is None else round(x, 3) for x in detail['cycle_s_halves']]}",
            flush=True,
        )
    if len(runs) < 2:
        return
    print(f"{a.workload}: {len(runs)} runs")
    for name in runs[0][1]["metrics"]:
        vals = [r["metrics"][name]["value"] for _, r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"  {name:34s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}")


if __name__ == "__main__":
    main()
