"""Benchmark entry point: one run of one workload.

  python3 perfbench/run.py --workload serve_zipf|serve_tail --seed N
                           --seconds S --trace 0|1

Run from the repository root. A run generates its inputs from the seed
(gen.py), starts one program process (launch.py: build the index and
serve it with ``cli serve``; traced runs then add the dedup, LSH and
merge passes), drives the server with a closed loop for S seconds,
checks every output and prints one JSON line of results last. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones from a run with spans on.
Exit status is 0 only when every output was right.

Workloads (both run the same phases; only the request stream differs):
- serve_zipf: 4 requests in flight, Zipf repeats of a 24-query pool of
  head words (70% BM25, 30% phrase); the warm-up fills the df and
  champion caches with every pool term, so timed lookups hit.
- serve_tail: 1 request in flight, every request distinct and made of
  words in at most 3 documents: the caches miss, champions never seed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import gen
import procfs

HERE = Path(__file__).resolve().parent
WORKLOADS = {"serve_zipf": 4, "serve_tail": 1}  # requests in flight
ORACLE_SAMPLE = 48  # timed answers checked against the oracle per run
JACCARD_MIN, COSINE_MIN = 0.4, 0.45  # the library defaults the launcher uses
LAUNCH_TIMEOUT = 150
# corpus size as a multiple of sf0.1: set-up is fixed-cost bound at any
# size that fits a run, so the smallest size that still has a rare-word
# tail keeps runs short
SCALE = 0.2


def _ram_mb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def environment(root: Path) -> dict:
    """Pinned settings for every benchmark process, and what they ran on."""
    from importlib.metadata import version

    cpus = len(os.sched_getaffinity(0))
    ram = _ram_mb()
    src = hashlib.sha256()
    for f in sorted((root / "searty_spark").glob("*.py")):
        src.update(f.name.encode() + b"\0" + f.read_bytes())
    commit = None
    if (root / ".git").exists():  # a checkout without history has only the source hash
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    return {
        "nproc": cpus, "ram_mb": ram,
        "driver_memory_mb": min(2048, ram // 4),
        "python": platform.python_version(), "spark": version("pyspark"),
        "numpy": version("numpy"), "git_commit": commit,
        "source_sha256": src.hexdigest()[:16],
    }


class RssSampler(threading.Thread):
    """Peak memory (PSS) of the program's process tree (launcher, JVM,
    Python workers), sampled every 0.25 s."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_kb, self._halt = pid, 0, threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.25):
            self.peak_kb = max(self.peak_kb, procfs.tree_pss_kb(self.pid))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024


class Server:
    """The launcher subprocess, spoken to over its stdin/stdout."""

    def __init__(self, root: Path, work: Path, threads: int, trace: bool, env_info: dict):
        env = dict(os.environ)
        tmp = work / "tmp"
        tmp.mkdir(parents=True)
        env.update({
            "PYTHONPATH": str(root), "SPARK_CONF_DIR": str(HERE / "conf"),
            "SPARK_GRAFT_CPUS": str(env_info["nproc"]),
            "SPARK_GRAFT_DRIVER_MEM": f"{env_info['driver_memory_mb']}m",
            "SPARK_LOCAL_DIRS": str(tmp), "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONUNBUFFERED": "1",
        })
        env.pop("OMP_NUM_THREADS", None)
        cmd = [sys.executable, str(HERE / "launch.py"), "--inputs", str(work / "inputs"),
               "--work", str(work), "--threads", str(threads)] + (["--trace"] if trace else [])
        self.log = open(work / "launch.log", "w")
        self.proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log, text=True)
        self.seq = 0  # the server numbers requests in arrival order
        self.replies: list[tuple[float, dict]] = []
        self._cv = threading.Condition()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            try:
                msg = json.loads(line)
            except ValueError:
                continue  # not a protocol line
            with self._cv:
                self.replies.append((time.perf_counter(), msg))
                self._cv.notify_all()
        with self._cv:
            self.replies.append((time.perf_counter(), {"eof": True}))
            self._cv.notify_all()

    def next_reply(self, seen: int, timeout: float) -> tuple[float, dict]:
        with self._cv:
            if not self._cv.wait_for(lambda: len(self.replies) > seen, timeout):
                raise TimeoutError("no reply from the server")
            t, msg = self.replies[seen]
        if msg.get("eof"):
            raise RuntimeError("the server exited")
        return t, msg

    def send(self, line: str) -> float:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        return time.perf_counter()

    def finish(self, timeout: float) -> int:
        try:
            self.proc.stdin.write(":quit\n")
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            return self.proc.wait(timeout)
        finally:
            self.kill()

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self._reader.join(5)
        self.log.close()


def closed_loop(srv: Server, lines: list[str], in_flight: int, seconds: float,
                seen: int) -> tuple[list[dict], int, float]:
    """Keep ``in_flight`` requests outstanding until ``seconds`` pass,
    then drain. Returns per-request records in request order, the reply
    cursor and the measured wall."""
    sent: dict[int, tuple[int, float]] = {}  # server seq -> (line index, send time)
    seq0 = srv.seq
    recs: list[dict] = []
    nxt, outstanding = 0, 0
    t_start = time.perf_counter()
    t_end = t_start + seconds
    t_last = t_start
    while True:
        while outstanding < in_flight and time.perf_counter() < t_end and nxt < len(lines):
            sent[seq0 + nxt] = (nxt, srv.send(lines[nxt]))
            nxt, outstanding = nxt + 1, outstanding + 1
        if outstanding == 0:
            break
        t, msg = srv.next_reply(seen, timeout=60)
        seen += 1
        i, t_sent = sent[msg["seq"]]
        recs.append({"i": i, "line": lines[i], "latency_ms": (t - t_sent) * 1e3, **msg})
        outstanding -= 1
        t_last = t
    srv.seq = seq0 + nxt
    recs.sort(key=lambda r: r["i"])
    return recs, seen, t_last - t_start


# ---- output checks ----------------------------------------------------
def _phrase_oracle(idx, query: str, k: int = 10) -> list[list]:
    from searty_spark import SCORE_NDIGITS
    from searty_spark import oracle as O
    from searty_spark.tokenize import tokenize

    terms = sorted(set(tokenize(query)))
    scored = []
    for d in O.phrase_doc_ids(idx, query):
        s = sum(O.bm25_term_score(len(idx.postings[t][d]), idx.doc_len[d], idx.avgdl,
                                  idx.n_docs, len(idx.postings[t])) for t in terms)
        scored.append([d, round(s, SCORE_NDIGITS)])
    return sorted(scored, key=lambda x: (-x[1], x[0]))[:k]


def check_answers(recs: list[dict], texts: list[str], seed: int) -> list[str]:
    """A seeded sample of answers against the brute-force oracle."""
    from searty_spark import oracle as O

    idx = O.build_index(dict(enumerate(texts)))
    bad = []
    sample = recs if len(recs) <= ORACLE_SAMPLE else random.Random(seed).sample(recs, ORACLE_SAMPLE)
    for r in sample:
        if r["mode"] == "phrase":
            want = _phrase_oracle(idx, r["query"])
        else:
            want = [list(x) for x in O.bm25_topk(idx, r["query"])]
        if r["results"] != want:
            bad.append(f"request {r['i']} {r['line']!r}: {r['results'][:3]} != oracle {want[:3]}")
    return bad


def check_pairs(report: dict, texts: list[str], emb_path: Path) -> list[str]:
    """Every reported dedup and LSH pair clears its threshold when
    recomputed by brute force."""
    import numpy as np
    import pyarrow.parquet as pq

    emb = np.stack(pq.read_table(emb_path).column("embedding").to_numpy(zero_copy_only=False))
    bad = []
    for a, b, j in report["dedup_pairs"]:
        sa, sb = ({" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
                  for w in (texts[a].split(" "), texts[b].split(" ")))
        jac = round(len(sa & sb) / len(sa | sb), 6)
        if jac < JACCARD_MIN or abs(jac - j) > 1e-6:
            bad.append(f"dedup pair {a},{b}: jaccard {jac} (reported {j})")
    for a, b, c in report["lsh_pairs"]:
        va, vb = emb[a].astype(np.float64), emb[b].astype(np.float64)
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if cos < COSINE_MIN - 1e-6 or abs(cos - c) > 1e-5:
            bad.append(f"lsh pair {a},{b}: cosine {cos:.6f} (reported {c})")
    return bad


def check_merge(work: Path) -> list[str]:
    """Merging the index alone must give the index back: segment rows
    byte for byte, stats.json and the dictionary."""
    import pyarrow.parquet as pq

    def content(d: Path):
        seg = {(r["shard"], r["term"]): r for r in pq.read_table(d / "segments").to_pylist()}
        dic = sorted(tuple(r.values()) for r in pq.read_table(d / "dictionary").to_pylist())
        return seg, dic, json.loads((d / "stats.json").read_text())

    bad = []
    for name, m, s in zip(("segments", "dictionary", "stats.json"),
                          content(work / "merged"), content(work / "index")):
        if m != s:
            bad.append(f"merged index differs from its input in {name}")
    return bad


def _digest(results) -> str:
    return hashlib.sha256(json.dumps(results).encode()).hexdigest()[:16]


def check_repeats(recs: list[dict]) -> list[str]:
    """Within one run, every repeat of a request line gets the answer
    its first occurrence got (serve_zipf repeats its pool queries)."""
    first: dict[str, dict] = {}
    bad = []
    for r in recs:
        f = first.setdefault(r["line"], r)
        if f is not r and f["results"] != r["results"]:
            bad.append(f"request {r['i']} {r['line']!r}: answer differs from request {f['i']}")
    return bad


def check_digests(recs: list[dict], state: Path) -> tuple[list[str], str]:
    """Each answer's digest must match the one an earlier run of the
    same source, workload and seed recorded in ``state`` (one file per
    key, replaced atomically, so concurrent runs cannot corrupt it)."""
    digests = {str(r["i"]): _digest(r["results"]) for r in recs}
    old = json.loads(state.read_text()) if state.exists() else {}
    bad = [f"request {i}: answer digest {d} != {old[i]} from an earlier run"
           for i, d in digests.items() if i in old and old[i] != d]
    state.parent.mkdir(parents=True, exist_ok=True)
    tmp = state.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(json.dumps({**old, **digests}))
    os.replace(tmp, state)
    return bad, _digest(sorted(digests.items()))


def dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def main() -> int:
    p = argparse.ArgumentParser(prog="run.py", description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    root = Path.cwd()
    if not (root / "searty_spark" / "__init__.py").is_file():
        print("run.py: no searty_spark package here; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(1, str(root))
    env_info = environment(root)
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sizes = gen.generate(work / "inputs", a.seed, SCALE)
    lines = (work / "inputs" / f"{a.workload}.txt").read_text().splitlines()
    warmup = (work / "inputs" / f"{a.workload}.warmup.txt").read_text().splitlines()
    in_flight = WORKLOADS[a.workload]

    steal0 = procfs.host_cpu_ticks()
    t0 = time.perf_counter()
    srv = Server(root, work, in_flight, bool(a.trace), env_info)
    rss = RssSampler(srv.proc.pid)
    rss.start()
    try:
        seen = 0
        while True:
            t, msg = srv.next_reply(seen, timeout=LAUNCH_TIMEOUT)
            seen += 1
            if msg.get("ready"):
                setup_cpu_s = procfs.tree_cpu_s(srv.proc.pid)
                setup_wall_s = t - t0
                break
        warm, seen, _ = closed_loop(srv, warmup, in_flight, float("inf"), seen)
        cpu0 = procfs.tree_cpu_s(srv.proc.pid)
        recs, seen, wall = closed_loop(srv, lines, in_flight, a.seconds, seen)
        serve_cpu_s = procfs.tree_cpu_s(srv.proc.pid) - cpu0
        code = srv.finish(timeout=120)
    except Exception:
        srv.kill()
        rss.stop()
        sys.stderr.write((work / "launch.log").read_text()[-4000:])
        raise
    peak_mb = rss.stop()
    steal = [b - a for a, b in zip(steal0, procfs.host_cpu_ticks())]
    if code != 0:
        sys.stderr.write((work / "launch.log").read_text()[-4000:])
        raise SystemExit(f"run.py: the program exited with status {code}")
    report = json.loads((work / "launch.json").read_text())

    import pyarrow.parquet as pq

    texts = pq.read_table(work / "inputs" / "documents.parquet").column("text").to_pylist()
    errors = [f"request {r['i']} {r['line']!r}: {r['error']}" for r in warm + recs
              if "error" in r]
    ok = [r for r in recs if "error" not in r]
    errors += check_answers(ok, texts, a.seed) + check_repeats(ok)
    if a.trace:
        errors += check_pairs(report, texts, work / "inputs" / "embeddings.parquet") + check_merge(work)
    digest_errors, digest = check_digests(
        ok, HERE / ".work" / "digests" / f"{env_info['source_sha256']}-{a.workload}-{a.seed}.json")
    errors += digest_errors
    # requests, plus (traced) the dedup pass, the LSH pass and the merge
    attempted = len(recs) + (3 if a.trace else 0)
    failed = min(attempted, len(errors))

    lat = {m: [r["latency_ms"] for r in ok if r["mode"] == m] for m in ("bm25", "phrase")}
    index_dir = work / "index"
    index_bytes = dir_bytes(index_dir) - (index_dir / "checkpoint.jsonl").stat().st_size
    end_to_end = {
        "setup_s": (setup_cpu_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "build_cpu_ms_per_doc": (1e3 * report["build_cpu_s"] / sizes["n_docs"], "ms"),
        "index_bytes_per_text_byte": (index_bytes / sizes["text_bytes"], "ratio"),
        "serve_cpu_ms_per_request": (1e3 * serve_cpu_s / len(recs), "ms"),
    }
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": env_info, "inputs": sizes, "in_flight": in_flight, "requests": len(recs),
        "qps": round(len(recs) / wall, 4), "setup_wall_s": round(setup_wall_s, 3),
        "build_docs_per_s": round(sizes["n_docs"] / report["build_s"], 3),
        "latency_ms": {m: {"n": len(v), "p50": round(statistics.median(v), 3),
                           "max": round(max(v), 3)} for m, v in lat.items() if v},
        "error_frac": failed / attempted, "errors": errors[:10], "answer_digest": digest,
        "phases_s": {k: round(v, 3) for k, v in report.items() if k.endswith("_s")},
        "serve_wall_s": round(wall, 3), "host_steal_frac": round(steal[0] / steal[1], 4),
        "end_to_end": {k: round(v, 6) for k, (v, _) in end_to_end.items()},
    }
    if a.trace:
        from spans import layer_metrics

        trace = json.loads((work / "trace.json").read_text())
        trace["pairs"] = {"dedup": len(report["dedup_pairs"]), "ann": len(report["lsh_pairs"])}
        detail["pairs"] = trace["pairs"]
        queue = [r["latency_ms"] - 1e3 * r["wall_sec"] for r in ok]
        metrics = layer_metrics(trace, index_dir, n_warmup=len(warmup),
                                queue_ms=statistics.median(queue))
    else:
        metrics = end_to_end
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
