"""Run a workload on several seeds and report each end-to-end metric's
median and spread (inter-quartile distance as a share of the median, from
``statistics.quantiles(values, n=4)``) against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload crawl_batch --seeds 1 2 3 4 5 [--seconds 10]

Every spread, ``setup_s`` included, should stay below a third of the
metric's bound; the exit code is 1 when one does not.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.measure import spread  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=None)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    parts: dict[str, list[float]] = {"session start": [], "warm-up": []}
    for seed in args.seeds:
        t = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        m = re.search(r"session start ([\d.]+) s, warm-up ([\d.]+) s", lines[0])
        parts["session start"].append(float(m.group(1)))
        parts["warm-up"].append(float(m.group(2)))
        print(f"seed {seed} ({time.monotonic() - t:.0f} s): correct={res['correct']} "
              f"attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    bound_ok = True
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        s = spread(v) if len(v) >= 2 else float("nan")
        steady = s < m["bound"] / 3
        bound_ok &= steady
        print(f"{m['name']}: median {statistics.median(v):.6g} {m['unit']}, spread {s:.4f}"
              f" (bound {m['bound']}, target < {m['bound'] / 3:.4f}) "
              f"{'ok' if steady else 'TOO WIDE'}")
    for k, v in parts.items():  # where set-up time varies
        print(f"set-up part {k}: median {statistics.median(v):.4g} s, spread {spread(v):.4f},"
              f" range {min(v):.3f}..{max(v):.3f} s")
    return 0 if bound_ok else 1


if __name__ == "__main__":
    sys.exit(main())
