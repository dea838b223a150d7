"""Run-to-run spread of the end-to-end metrics.

  python3 perfbench/spread.py --workload W --seeds 1-10 [--seconds S] [--out FILE]

Runs ``run.py`` once per seed (untraced), one after another, and
prints per metric the median, the quartiles and the spread: the
distance between the first and third quartile as a share of the
median (``statistics.quantiles(values, n=4)``). Each run's result line
and wall time are kept in ``--out``. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else float("nan"),
                     "unit": runs[0]["metrics"][name]["unit"]}
    return out


def main() -> int:
    p = argparse.ArgumentParser(prog="spread.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds, required=True, help="e.g. 1-10")
    p.add_argument("--seconds", default=str(json.loads(
        (HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]))
    p.add_argument("--out")
    a = p.parse_args()
    runs = []
    for s in a.seeds:
        t = time.perf_counter()
        res = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                              "--seed", str(s), "--seconds", a.seconds, "--trace", "0"],
                             capture_output=True, text=True)
        wall = time.perf_counter() - t
        if res.returncode != 0:
            sys.stderr.write(res.stderr[-3000:])
            print(f"seed {s}: exit {res.returncode}", file=sys.stderr)
            return 1
        detail, r = (json.loads(x) for x in res.stdout.splitlines()[-2:])
        r.update(seed=s, wall_s=wall, detail=detail)
        runs.append(r)
        print(f"seed {s}: {wall:.1f} s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    summary = summarize(runs)
    for k, v in summary.items():
        print(f"{k:28s} median {v['median']:10.4g} {v['unit']:7s} spread {v['spread']:.3f}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload, "runs": runs,
                                           "summary": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
