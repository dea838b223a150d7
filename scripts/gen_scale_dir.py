"""Generate a scale-validation data dir shaped like the driver's sf
tables (documents/embeddings/events), for re-running the frozen bench
at scales whose driver-generated dirs are absent from /root/testdata.

NOT the driver's generator — distributions are fit to the sf0.1
fixtures (empirical token frequencies, doc-length histogram, lang /
source / label proportions, iid unit-norm embeddings), so absolute
row values differ from a real driver dir; use it ONLY for wall-clock
validation, never for correctness gates.

Usage: python scripts/gen_scale_dir.py OUT_DIR SCALE
  e.g. python scripts/gen_scale_dir.py /tmp/scale/sf1.0 10
scales documents 5000->5000*SCALE, embeddings 2000->2000*SCALE,
events 100000->100000*SCALE relative to sf0.1. SCALE may be
fractional (at least 0.01); row counts round to the nearest whole row.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
USAGE = "usage: python scripts/gen_scale_dir.py OUT_DIR SCALE  (SCALE >= 0.01, e.g. 10 or 0.5)"


def _rows(n: int, scale: float) -> int:
    return int(round(n * scale))


def main() -> None:
    try:
        out, raw = sys.argv[1:]
        scale = float(raw)
    except ValueError:  # wrong argument count or not a number
        scale = 0.0
    if not 0.01 <= scale < float("inf"):  # nan fails this too
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(4242)

    d = pq.read_table(f"{SRC}/documents.parquet").to_pandas()
    toks = d.text.str.split(" ")
    vocab, counts = np.unique(np.concatenate(toks.values), return_counts=True)
    probs = counts / counts.sum()
    doc_lens = np.array([len(t) for t in toks.values])
    n_docs = _rows(len(d), scale)
    lens = rng.choice(doc_lens, n_docs)
    lang_vals, lang_counts = np.unique(d.lang.values, return_counts=True)
    langs = rng.choice(lang_vals, n_docs, p=lang_counts / lang_counts.sum())
    flat = rng.choice(vocab, lens.sum(), p=probs)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(flat[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }
    )
    docs["n_chars"] = docs.text.str.len().astype(np.int64)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   out / "documents.parquet")

    n_vec = _rows(2000, scale)
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
        }
    )
    pq.write_table(emb, out / "embeddings.parquet")

    ev = pq.read_table(f"{SRC}/events.parquet").to_pandas()
    n_ev = _rows(len(ev), scale)
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev.ts.iloc[rng.integers(0, len(ev), n_ev)].values,
            "user_id": rng.integers(1, _rows(1000, scale), n_ev),
            "event_type": ev.event_type.iloc[rng.integers(0, len(ev), n_ev)].values,
            "value": rng.random(n_ev) * 100,
            "props": ev.props.iloc[rng.integers(0, len(ev), n_ev)].values,
        }
    )
    pq.write_table(pa.Table.from_pandas(events, preserve_index=False),
                   out / "events.parquet")
    print(f"wrote {out}: docs={n_docs} vecs={n_vec} events={n_ev}")


if __name__ == "__main__":
    main()
