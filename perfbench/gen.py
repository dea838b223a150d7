"""Seeded input generator for the benchmark.

Writes, into one directory, everything a benchmark run feeds the
program: the document corpus, the embeddings and the request streams
of both serving workloads. The same ``--seed`` and sizes give
byte-identical files.

The corpus is fit to the sf0.1 documents table (``sf0.1_profile.json``:
its word frequencies, document-length histogram and language mix), plus
a Zipf tail of rare synthetic words that sf0.1 lacks. sf0.1 has a
31-word vocabulary, so without the tail every trigram is in nearly
every document and no query could miss the server's df and champion
caches. A few near-duplicate documents and vectors are planted so the
dedup and LSH passes report pairs that can be checked.

The serve_zipf pool (24 queries, drawn with Zipf exponent 1.1) is an
assumed shape of repeat-heavy traffic, not one fitted to observed
query logs.

Usage:
  python3 perfbench/gen.py --seed N [--scale F] --out DIR
"""

from __future__ import annotations

import argparse
import json
import math
import sys
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILE = Path(__file__).resolve().parent / "sf0.1_profile.json"
DOCS_PER_SCALE = 5000  # sf0.1 documents
VECS_PER_SCALE = 2000  # sf0.1 embeddings
DIM = 64
TAIL_VOCAB = 8000
TAIL_FRAC = 0.04  # share of words drawn from the rare-word tail
TAIL_ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
ZIPF_POOL = 24  # distinct queries in the serve_zipf pool (assumed)
ZIPF_S = 1.1  # Zipf exponent of the pool draws (assumed)
STREAM_LEN = 1500  # requests per stream: more than any run can send
PHRASE_SHARE = 0.3
WARMUP = ["data", ":phrase spark window"]  # untimed, before every timed loop


def _positive_float(v: str) -> float:
    try:
        x = float(v)
    except ValueError:
        raise argparse.ArgumentTypeError(f"not a number: {v!r}") from None
    if not math.isfinite(x) or x <= 0:
        raise argparse.ArgumentTypeError(f"must be a finite number > 0: {v!r}")
    return x


def _probs(counts) -> np.ndarray:
    c = np.asarray(counts, dtype=np.float64)
    return c / c.sum()


def _zipf(n: int, s: float) -> np.ndarray:
    return _probs(1.0 / np.arange(1, n + 1) ** s)


def _tail_vocab(rng: np.random.Generator) -> list[str]:
    words: dict[str, None] = {}
    while len(words) < TAIL_VOCAB:
        n = int(rng.integers(5, 9))
        words["".join(rng.choice(TAIL_ALPHABET, n))] = None
    return list(words)


def _corpus(rng, profile: dict, n_docs: int) -> list[list[str]]:
    head = np.array(list(profile["words"]))
    head_p = _probs(list(profile["words"].values()))
    len_vals = np.array([int(k) for k in profile["doc_len"]])
    len_p = _probs(list(profile["doc_len"].values()))
    tail = np.array(_tail_vocab(rng))
    lens = rng.choice(len_vals, n_docs, p=len_p)
    total = int(lens.sum())
    toks = rng.choice(head, total, p=head_p).astype(object)
    is_tail = rng.random(total) < TAIL_FRAC
    toks[is_tail] = tail[rng.choice(tail.size, int(is_tail.sum()), p=_zipf(tail.size, 1.1))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [list(toks[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    # near-duplicates: 2% of documents copy an earlier one with 5% of
    # their words replaced (word-3-shingle Jaccard ~0.7, over the 0.4
    # dedup threshold)
    for j in sorted(rng.choice(np.arange(1, n_docs), max(1, n_docs // 50), replace=False)):
        src = list(docs[int(rng.integers(0, j))])
        for p in rng.choice(len(src), max(1, len(src) // 20), replace=False):
            src[p] = str(rng.choice(head, p=head_p))
        docs[j] = src
    return docs


def _embeddings(rng, n_vec: int) -> np.ndarray:
    v = rng.standard_normal((n_vec, DIM))
    # near-duplicates: 1% of vectors are a noisy copy of another
    for j in rng.choice(n_vec, max(1, n_vec // 100), replace=False):
        v[j] = v[int(rng.integers(0, n_vec))] + 0.2 * rng.standard_normal(DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _is_phrase(n: int) -> bool:
    """Request n of a stream is a phrase request: a fixed schedule, so
    every prefix of a stream holds PHRASE_SHARE of them."""
    return int((n + 1) * PHRASE_SHARE) > int(n * PHRASE_SHARE)


def _zipf_stream(rng, head: list[str]) -> tuple[list[str], list[str]]:
    """serve_zipf: repeats of a small pool of 1-3-word head-word
    queries, drawn Zipf, each BM25 (70%) or phrase (30%). The warm-up
    adds one BM25 request holding every pool query: the df and
    champion caches are per term and every term of a pool query is in
    it, so timed requests start from the warm state."""
    pool = []
    while len(pool) < ZIPF_POOL:
        q = " ".join(rng.choice(head, int(rng.integers(1, 4)), replace=False))
        if q not in pool:
            pool.append(q)
    picks = rng.choice(ZIPF_POOL, STREAM_LEN, p=_zipf(ZIPF_POOL, ZIPF_S))
    lines = [(":phrase " if _is_phrase(n) else "") + pool[i] for n, i in enumerate(picks)]
    return WARMUP + [" | ".join(pool)], lines


def _tail_stream(rng, docs: list[list[str]], head: set[str]) -> tuple[list[str], list[str]]:
    """serve_tail: every request distinct and built from words that
    occur in at most 3 documents. A phrase request is a rare word and
    its right neighbour in a document holding it, so it matches."""
    df = Counter(w for d in docs for w in set(d) if w not in head)
    rare = sorted(w for w, n in df.items() if n <= 3)
    pairs = sorted({f"{d[i]} {d[i + 1]}" for d in docs for i in range(len(d) - 1)
                    if d[i] in df and df[d[i]] <= 3})
    seen: set[str] = set()
    out: list[str] = []
    for _ in range(STREAM_LEN * 4):
        if _is_phrase(len(out)):
            q = ":phrase " + pairs[int(rng.integers(0, len(pairs)))]
        else:
            q = " ".join(rng.choice(rare, int(rng.integers(1, 4)), replace=False))
        if q not in seen:
            seen.add(q)
            out.append(q)
        if len(out) == STREAM_LEN:
            return WARMUP, out
    raise SystemExit("gen: corpus too small for a distinct tail stream; raise --scale")


def generate(out: Path, seed: int, scale: float) -> dict:
    profile = json.loads(PROFILE.read_text())
    rng = np.random.default_rng(seed)
    n_docs = max(100, round(DOCS_PER_SCALE * scale))
    n_vec = max(100, round(VECS_PER_SCALE * scale))
    docs = _corpus(rng, profile, n_docs)
    langs = rng.choice(list(profile["lang"]), n_docs, p=_probs(list(profile["lang"].values())))
    emb = _embeddings(rng, n_vec)
    head = list(profile["words"])
    streams = {
        "serve_zipf": _zipf_stream(rng, head),
        "serve_tail": _tail_stream(rng, docs, set(head)),
    }
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array([" ".join(d) for d in docs], type=pa.string()),
            "lang": pa.array([str(x) for x in langs], type=pa.string()),
        }),
        out / "documents.parquet",
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        }),
        out / "embeddings.parquet",
    )
    for name, (warmup, lines) in streams.items():
        (out / f"{name}.warmup.txt").write_text("\n".join(warmup) + "\n")
        (out / f"{name}.txt").write_text("\n".join(lines) + "\n")
    return {"n_docs": n_docs, "n_vecs": n_vec,
            "text_bytes": sum(len(" ".join(d).encode()) for d in docs)}


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="gen.py", description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--scale", type=_positive_float, default=1.0,
                   help="corpus size as a multiple of sf0.1 (5000 docs, 2000 vectors)")
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    print(json.dumps(generate(Path(a.out), a.seed, a.scale)))


if __name__ == "__main__":
    sys.exit(main())
