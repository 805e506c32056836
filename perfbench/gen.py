"""Seeded input generator for the benchmark.

Writes the two tables the corpus workload's queries read (`documents`,
`embeddings`) as one single-row-group parquet file each, with the schemas
and value shapes of the engine's test fixtures (FIXTURES.md). The same
(seed, sf) always gives byte-identical tables.

Row counts scale with `sf` the way the fixtures do: documents 50k x sf,
embeddings 20k x sf.
"""
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64
EMBED_LABELS = 10


def _write(out: Path, name: str, table: pa.Table) -> None:
    pq.write_table(table, out / f"{name}.parquet",
                   row_group_size=max(1, table.num_rows))


def generate(out: Path, seed: int, sf: float) -> str:
    """Write both tables under `out`; return a digest of their bytes."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(100, int(20_000 * sf))

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document (the dedup families'
            # positives): its text plus one extra token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS),
                                                 int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    centers = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_LABELS, n_vecs)
    vecs = 0.17 * centers[labels] + rng.normal(0, 0.124, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vecs + 1) * EMBED_DIM, EMBED_DIM),
                     pa.int32()),
            pa.array(vecs.ravel(), pa.float32())),
        "label": pa.array(labels, pa.int32())}))

    h = hashlib.sha256()
    for f in sorted(out.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]
