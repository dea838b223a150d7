"""Self-test of the benchmark: determinism and tracing overhead.

  python3 perfbench/selftest.py

1. The generator, run twice with one seed, writes byte-identical files.
2. Two traced runs with one seed report identical deterministic
   counters: Spark jobs, tasks and shuffle bytes of every phase, index
   bytes, pair counts and the per-query job and task counts.
3. Two untraced runs with the same seed, interleaved with the traced
   ones, give the tracing overhead: traced minus untraced, for every
   end-to-end metric.

Exits 1 when a counter differs or a run fails. Run from the repository
root; it takes about six minutes on 4 cores. It uses serve_tail, seed 7
and the benchmark's run_seconds.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
import tempfile
from pathlib import Path

from run import SCALE

HERE = Path(__file__).resolve().parent
WORKLOAD, SEED = "serve_tail", 7
SECONDS = str(json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"])
DETERMINISTIC = [
    "index.jobs", "index.tasks", "index.shuffle_write_bytes", "index.spill_bytes",
    "index.segments_bytes", "index.sidecar_bytes",
    "dedup.jobs", "dedup.shuffle_bytes", "dedup.pairs",
    "ann.jobs", "ann.shuffle_bytes", "ann.pairs",
    "merge.jobs", "merge.tasks", "merge.shuffle_bytes",
    "wand.jobs_per_query", "wand.tasks_per_query",
    "phrase_seg.jobs_per_query", "phrase_seg.tasks_per_query",
]


def run(workload: str, seed: int, seconds: str, trace: int) -> tuple[dict, dict]:
    res = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
                         capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-3000:])
        raise SystemExit(f"selftest: run.py --trace {trace} exited {res.returncode}")
    detail, result = (json.loads(x) for x in res.stdout.splitlines()[-2:])
    return detail, result


def gen_digest(seed: int, out: Path) -> str:
    subprocess.run([sys.executable, str(HERE / "gen.py"), "--seed", str(seed), "--out",
                    str(out), "--scale", str(SCALE)], check=True, capture_output=True)
    h = hashlib.sha256()
    for f in sorted(out.iterdir()):
        h.update(f.name.encode() + f.read_bytes())
    return h.hexdigest()


def main() -> int:
    failures = []

    (HERE / ".work").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=HERE / ".work") as d:
        if gen_digest(SEED, Path(d) / "a") != gen_digest(SEED, Path(d) / "b"):
            failures.append("gen.py: the same seed gave different files")
    print(f"generator byte-identical: {not failures}")

    # untraced and traced runs interleaved, so drift hits both sides
    (d0, r0), (d1, r1), (d2, r2), (d3, r3) = (
        run(WORKLOAD, SEED, SECONDS, trace) for trace in (0, 1, 0, 1))
    for name in DETERMINISTIC:
        v1, v3 = r1["metrics"][name]["value"], r3["metrics"][name]["value"]
        print(f"{name:34s} {v1!s:>14} {v3!s:>14} {'same' if v1 == v3 else 'DIFFERS'}")
        if v1 != v3:
            failures.append(f"{name}: {v1} != {v3}")

    print("tracing overhead (mean traced - mean untraced; the traced runs also")
    print("run the dedup, LSH and merge passes, which peak_rss_mb includes):")
    for name, m in r0["metrics"].items():
        untraced = (m["value"] + r2["metrics"][name]["value"]) / 2
        traced = (d1["end_to_end"][name] + d3["end_to_end"][name]) / 2
        print(f"  {name:28s} {traced - untraced:+12.4g} {m['unit']:6s}"
              f" ({(traced - untraced) / untraced:+.1%})")
    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
