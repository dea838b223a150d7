"""Scaling-efficiency evidence (north rule: >=0.8 from N to 4N).

No real cluster exists in this sandbox, so the same index-build job
runs at local[8] and local[32] on the SAME pre-generated parquet
corpus (fresh JVM per run via subprocess; wall time measured inside
the process, after session startup). Writes BENCH/scaling.json and
refreshes the scaling section of BENCH/BASELINE.md.

Usage: python scripts/bench_scaling.py [n_docs] [low_cpus] [high_cpus]
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run_build(corpus: str, out_dir: str, cpus: int, shards: int, buckets: int) -> dict:
    shutil.rmtree(out_dir, ignore_errors=True)
    cmd = [
        sys.executable, "-m", "searty_spark.cli", "--cpus", str(cpus),
        "build", "--corpus", corpus, "--out", out_dir,
        "--shards", str(shards), "--buckets", str(buckets), "--no-resume",
    ]
    import os

    env = dict(os.environ)
    env["PYTHONPATH"] = str(REPO)
    env["PYSPARK_PYTHON"] = sys.executable
    p = subprocess.run(
        cmd, capture_output=True, text=True, cwd=str(REPO), timeout=3600, env=env
    )
    if p.returncode != 0:
        print(p.stdout[-2000:], p.stderr[-4000:])
        raise SystemExit(f"build failed at cpus={cpus}")
    last = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(last)


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    low = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    high = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    work = Path("/tmp/searty_scaling")
    work.mkdir(parents=True, exist_ok=True)
    corpus = str(work / "corpus.parquet")

    # pre-generate the shared input once
    if not Path(corpus).exists():
        sys.path.insert(0, str(REPO))
        from searty_spark.corpus import synth_corpus
        from searty_spark.session import get_spark

        spark = get_spark(cpus=high, app_name="gen")
        synth_corpus(spark, n_docs).write.mode("overwrite").parquet(corpus)
        spark.stop()

    # This sandbox VM shows heavy run-to-run wall variance (CPU turbo /
    # noisy neighbors): identical local[8] builds measured 143-242s.
    # So: interleave `repeats` pairs (8,32,8,32,...) and use the MEDIAN
    # per level; all samples are recorded.
    import statistics

    results = {low: {"samples": []}, high: {"samples": []}}
    for r in range(repeats):
        for cpus in (low, high):
            idx = str(work / f"idx_{cpus}")
            out = run_build(corpus, idx, cpus, shards=16, buckets=16)
            results[cpus]["samples"].append(out["wall_sec"])
            print(f"[rep {r}] local[{cpus}]: {out['wall_sec']:.1f}s build, "
                  f"{n_docs / out['wall_sec']:.0f} docs/s")

    for cpus in (low, high):
        s = results[cpus]["samples"]
        results[cpus]["build_wall_sec_median"] = statistics.median(s)
        results[cpus]["build_wall_sec_min"] = min(s)
        results[cpus]["docs_per_sec_median"] = n_docs / statistics.median(s)

    eff = (
        results[low]["build_wall_sec_median"] / results[high]["build_wall_sec_median"]
    ) / (high / low)
    # per-PAIR efficiencies: each rep's (low, high) runs are adjacent in
    # time, so a pair shares the VM's throttling state — the median of
    # pair efficiencies is robust to slow drift across the invocation
    # in a way the pooled medians are not
    pair_effs = [
        round((lo / hi) / (high / low), 4)
        for lo, hi in zip(results[low]["samples"], results[high]["samples"])
    ]
    eff_min = (
        results[low]["build_wall_sec_min"] / results[high]["build_wall_sec_min"]
    ) / (high / low)
    summary = {
        "n_docs": n_docs,
        "low_cpus": low,
        "high_cpus": high,
        "repeats": repeats,
        "runs": results,
        "scaling_efficiency": round(eff, 4),
        "pair_efficiencies": pair_effs,
        "pair_efficiency_median": round(statistics.median(pair_effs), 4),
        # min-over-min: both levels' best-case walls, least throttled
        "scaling_efficiency_of_min": round(eff_min, 4),
        "target": 0.8,
        "pass": eff >= 0.8,
        "pass_pair_median": statistics.median(pair_effs) >= 0.8,
    }
    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    (bench_dir / "scaling.json").write_text(json.dumps(summary, indent=2))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
