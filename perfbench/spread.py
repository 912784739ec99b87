"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload service_mixed --seeds 1-10

Runs the benchmark once per seed (untraced, ``run_seconds`` from
BENCHMARK.json) and prints each run's metrics, wall time and the share of
CPU time the hypervisor stole during its window, then, per
end-to-end metric, the median and the distance between the first and third
quartile as a share of the median (``statistics.quantiles(values, n=4)``),
next to the metric's bound.
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


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=_seeds, default=_seeds("1-10"))
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in a.seeds:
        cmd = spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        steal = re.search(r"^host: (\S+) of CPU time stolen", out.stdout, re.M)
        print(json.dumps({"seed": seed, **row, "run_wall_s": round(wall, 1),
                          "steal": float(steal[1])}), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{m['name']:14s} median {med:.4g} {m['unit']:8s} "
              f"spread {(q3 - q1) / med:.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
