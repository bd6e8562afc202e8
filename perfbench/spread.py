"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread, the figure the benchmark's bounds are judged
against. Run from the root of a checkout:

    python3 perfbench/spread.py --workloads harvest_batch corpus_index --seeds 1-10

Prints one line per (workload, metric): median, (Q3 − Q1) / median as
given by ``statistics.quantiles(values, n=4)``, the metric's bound and
whether the spread is below a third of it; then the run wall times.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append each run's result as a JSON line")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    walls: list[float] = []
    ok = True
    for wl in args.workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in seeds(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                stderr=subprocess.PIPE, text=True, check=False)
            walls.append(time.monotonic() - t0)
            if proc.returncode != 0:
                print(f"{wl} seed {seed}: exit {proc.returncode}", flush=True)
                ok = False
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            ok &= res["correct"]
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": wl, "seed": seed,
                                         "wall_s": walls[-1], **res,
                                         "log": [ln for ln in proc.stderr.splitlines()
                                                 if ln.startswith("[perfbench]")]})
                             + "\n")
            for m, v in res["metrics"].items():
                values[m].append(v["value"])
            print(f"{wl} seed {seed}: {walls[-1]:.0f} s, correct={res['correct']}, "
                  + ", ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()),
                  flush=True)
        for m, vals in values.items():
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            mark = "ok" if spread < bounds[m] / 3 else ("within bound" if spread <= bounds[m] else "WIDE")
            print(f"{wl:15s} {m:18s} median {med:10.4g}  spread {spread:6.3f}  "
                  f"bound {bounds[m]}  {mark}", flush=True)
    print(f"runs: {len(walls)}, wall median {statistics.median(walls):.0f} s, "
          f"max {max(walls):.0f} s, total {sum(walls):.0f} s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
