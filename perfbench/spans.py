"""Spans and Spark counters for the traced benchmark run.

``Tracer.install`` wraps the program's layer entry points, from the
outside, with spans (name, start, end, parent, request id):

- ``tokenize.tokenize`` (the call that opens a server request);
- ``TermDfClient.lookup``, ``ChampionClient.lookup``, ``champion_theta``;
- ``wand_topk``, ``wand_topk_batch``, ``phrase_bm25_topk_segments``,
  and ``DataFrame.collect`` on the frames they return (the execution);
- ``write_index``, ``merge_indexes``, ``minhash_lsh_pairs``,
  ``cosine_dup_pairs_lsh``.

Every span sets its own Spark job group in its own thread (groups are
thread-local), so concurrent requests keep their jobs apart. A phase
span (``Tracer.phase``) also claims the jobs that carry no group and
started inside it: ``write_index`` runs stages on its own threads,
which inherit no group. Spans stay in memory; ``dump`` reads the
per-stage counters from Spark's status store and writes everything
once, at exit. The program itself is not modified.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._reqs = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _untagged(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, new_request: bool = False, phase: bool = False):
        stack = self._stack()
        if new_request or phase:
            # a phase is no request's work (with --threads 1 the server
            # answers on the main thread, which then runs the phases)
            self._tls.req = next(self._reqs) if new_request else None
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "parent": stack[-1] if stack else None,
            "req": getattr(self._tls, "req", None), "thread": threading.get_ident(),
        }
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"perfbench-{sid}")
        before = self._untagged() if phase else None
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            if phase:
                rec["untagged_jobs"] = sorted(self._untagged() - before)
            with self._lock:
                self.spans.append(rec)

    def phase(self, name: str):
        return self.span(name, phase=True)

    def _wrap(self, fn, name: str, new_request: bool = False, tag: str | None = None,
              keep_result: bool = False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, new_request=new_request) as rec:
                out = fn(*args, **kwargs)
                if keep_result:
                    rec["result"] = out
                if tag is not None:
                    out._perfbench_layer = tag
                return out
        return wrapper

    def install(self, spark) -> None:
        import searty_spark.ann as ann
        import searty_spark.champions as champions
        import searty_spark.dedup as dedup
        import searty_spark.index as index
        import searty_spark.merge as merge
        import searty_spark.phrase_seg as phrase_seg
        import searty_spark.tokenize as tokenize
        import searty_spark.wand as wand

        tok = tokenize.tokenize
        # the server looks tokenize up from its module once per request
        # before any other layer call: that call opens the request
        tokenize.tokenize = self._wrap(tok, "tokenize", new_request=True)
        wand.tokenize = phrase_seg.tokenize = self._wrap(tok, "tokenize")
        wand.TermDfClient.lookup = self._wrap(wand.TermDfClient.lookup, "wand.lookup")
        champions.ChampionClient.lookup = self._wrap(
            champions.ChampionClient.lookup, "champions.lookup")
        champions.champion_theta = self._wrap(
            champions.champion_theta, "champions.theta", keep_result=True)
        wand.wand_topk = self._wrap(wand.wand_topk, "wand.plan", tag="wand")
        wand.wand_topk_batch = self._wrap(wand.wand_topk_batch, "wand.plan", tag="wand")
        phrase_seg.phrase_bm25_topk_segments = self._wrap(
            phrase_seg.phrase_bm25_topk_segments, "phrase_seg.plan", tag="phrase_seg")
        index.write_index = self._wrap(index.write_index, "index.write_index")
        merge.merge_indexes = self._wrap(merge.merge_indexes, "merge.merge_indexes")
        dedup.minhash_lsh_pairs = self._wrap(dedup.minhash_lsh_pairs, "dedup.minhash_lsh_pairs")
        ann.cosine_dup_pairs_lsh = self._wrap(ann.cosine_dup_pairs_lsh,
                                              "ann.cosine_dup_pairs_lsh")

        df_cls = type(spark.range(0))
        collect = df_cls.collect
        tracer = self

        @functools.wraps(collect)
        def traced_collect(df):
            layer = getattr(df, "_perfbench_layer", None)
            # untraced outside any span: the program's own worker threads
            # (write_index stages) stay untagged for the phase to claim
            if layer is None and not tracer._stack():
                return collect(df)
            with tracer.span(f"{layer}.exec" if layer else "collect"):
                return collect(df)

        df_cls.collect = traced_collect

    # ---- counters ------------------------------------------------------
    def _stage_counters(self) -> tuple[dict[int, list[int]], dict[int, dict]]:
        """job id -> stage ids it ran, and stage id -> counters. A stage
        listed by several jobs (a reused shuffle) counts once, for the
        first job that lists it."""
        deadline = time.time() + 30
        while self.sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.2)
        time.sleep(1.0)  # let the listener bus post the last stage metrics
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = set()
        for rec in self.spans:
            job_ids.update(tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"))
            job_ids.update(rec.get("untagged_jobs", ()))
        jobs: dict[int, list[int]] = {}
        stages: dict[int, dict] = {}
        for j in sorted(job_ids):
            info = tracker.getJobInfo(j)
            own = [s for s in (info.stageIds if info else []) if s not in stages]
            jobs[j] = []
            for s in own:
                try:
                    sd = store.lastStageAttempt(s)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                jobs[j].append(s)
                stages[s] = {
                    "tasks": sd.numCompleteTasks(),
                    "run_ms": sd.executorRunTime(),
                    "cpu_ms": sd.executorCpuTime() / 1e6,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                }
        return jobs, stages

    def dump(self, path: str) -> None:
        jobs, stages = self._stage_counters()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            own = tracker.getJobIdsForGroup(f"perfbench-{rec['id']}")
            rec["jobs"] = sorted(set(own) | set(rec.pop("untagged_jobs", ())))
            if "result" in rec:
                rec["result"] = float(rec["result"])
        with open(path, "w") as f:
            json.dump({
                "spans": self.spans,
                "jobs": {str(j): s for j, s in jobs.items()},
                "stages": {str(s): c for s, c in stages.items()},
            }, f)


# ---- per-layer metrics from a dumped trace ------------------------------
def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(trace: dict, index_dir: Path, n_warmup: int,
                  queue_ms: float) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of one traced run. Request layers cover the
    timed requests only (the first ``n_warmup`` requests are warm-up);
    per-query counters are means over the requests of that mode."""
    spans, stages = trace["spans"], trace["stages"]
    stage_of_job = trace["jobs"]
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def jobs_under(s: dict) -> set[int]:
        out = set(s["jobs"])
        for k in kids[s["id"]]:
            out |= jobs_under(k)
        return out

    def counters(job_ids: set[int]) -> dict[str, float]:
        tot = defaultdict(float, jobs=len(job_ids))
        for j in job_ids:
            for st in stage_of_job.get(str(j), []):
                for k, v in stages[str(st)].items():
                    tot[k] += v
        return tot

    def ms(s: dict) -> float:
        return (s["end"] - s["start"]) * 1e3

    reqs: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["req"] is not None and s["req"] > n_warmup:
            reqs[s["req"]].append(s)
    named = lambda name: [s for r in reqs.values() for s in r if s["name"] == name]  # noqa: E731

    def per_query(layer: str) -> list[dict]:
        out = []
        for r in reqs.values():
            top = [s for s in r if s["name"] in (f"{layer}.plan", f"{layer}.exec")]
            if any(s["name"] == f"{layer}.plan" for s in top):
                out.append(counters(set().union(*(jobs_under(s) for s in top))))
        return out

    m: dict[str, tuple[float, str]] = {"cli.queue_ms": (queue_ms, "ms")}
    m["tokenize.ms"] = (_median(sum(ms(s) for s in r if s["name"] == "tokenize")
                                for r in reqs.values()), "ms")
    for layer, name in (("wand", "wand.lookup"), ("champions", "champions.lookup")):
        looks = named(name)
        m[f"{layer}.lookup_ms"] = (_median(map(ms, looks)), "ms")
        hit = "df_cache_hit_ratio" if layer == "wand" else "cache_hit_ratio"
        m[f"{layer}.{hit}"] = (_mean(not jobs_under(s) for s in looks), "ratio")
    m["champions.theta0_seeded_ratio"] = (
        _mean(s["result"] > 0 for s in named("champions.theta")), "ratio")
    m["wand.plan_ms"] = (_median(map(ms, named("wand.plan"))), "ms")
    m["wand.exec_ms"] = (_median(map(ms, named("wand.exec"))), "ms")
    m["phrase_seg.exec_ms"] = (_median(map(ms, named("phrase_seg.exec"))), "ms")
    for layer in ("wand", "phrase_seg"):
        q = per_query(layer)
        m[f"{layer}.jobs_per_query"] = (_mean(c["jobs"] for c in q), "count")
        m[f"{layer}.tasks_per_query"] = (_mean(c["tasks"] for c in q), "count")
        m[f"{layer}.executor_run_ms"] = (_mean(c["run_ms"] for c in q), "ms")
        if layer == "wand":
            m["wand.executor_cpu_ms"] = (_mean(c["cpu_ms"] for c in q), "ms")
        else:
            m["phrase_seg.shuffle_bytes_per_query"] = (
                _mean(c["shuffle_write_bytes"] for c in q), "bytes")
        m[f"{layer}.python_ms"] = (_mean(c["run_ms"] - c["cpu_ms"] for c in q), "ms")

    phases = {s["name"]: s for s in spans if s["req"] is None and s["parent"] is None}
    ix = counters(jobs_under(phases["index"]))
    m["index.write_index_ms"] = (ms(phases["index"]), "ms")
    walls: dict[str, float] = defaultdict(float)
    for line in (index_dir / "checkpoint.jsonl").read_text().splitlines():
        rec = json.loads(line)
        walls[rec["unit"].split("/")[0]] += rec.get("wall_sec", 0.0)
    for st in ("docstats", "symbols", "segments", "dictionary", "champions"):
        m[f"index.stage.{st}_s"] = (walls[st], "s")
    m["index.jobs"] = (ix["jobs"], "count")
    m["index.tasks"] = (ix["tasks"], "count")
    m["index.shuffle_write_bytes"] = (ix["shuffle_write_bytes"], "bytes")
    m["index.spill_bytes"] = (ix["spill_bytes"], "bytes")
    m["index.executor_run_ms"] = (ix["run_ms"], "ms")
    m["index.executor_cpu_ms"] = (ix["cpu_ms"], "ms")
    seg = sum(f.stat().st_size for f in (index_dir / "segments").rglob("*") if f.is_file())
    total = sum(f.stat().st_size for f in index_dir.rglob("*")
                if f.is_file() and f.name not in ("checkpoint.jsonl",))
    m["index.segments_bytes"] = (seg, "bytes")
    m["index.sidecar_bytes"] = (total - seg, "bytes")
    for layer, ms_name in (("dedup", "dedup.ms"), ("ann", "ann.lsh_ms"), ("merge", "merge.ms")):
        c = counters(jobs_under(phases[layer]))
        m[ms_name] = (ms(phases[layer]), "ms")
        m[f"{layer}.jobs"] = (c["jobs"], "count")
        if layer == "merge":
            m["merge.tasks"] = (c["tasks"], "count")
        m[f"{layer}.shuffle_bytes"] = (c["shuffle_write_bytes"], "bytes")
        if layer in trace["pairs"]:
            m[f"{layer}.pairs"] = (trace["pairs"][layer], "count")
    return m
