"""Seeded stand-ins for the gate tables the connected-components gates read
(`documents`, `embeddings`, `part`), with the shapes of the sf0.01 gate
data: 500 documents over 20 sources (5% are a copy of another document plus
" dup"), 500 unit-norm 64-dim embeddings in 10 labels, 2,000 parts named
from 64 adjective/noun pairs across 25 brands. The DuckDB oracles close the
near-duplicate graph with a recursive CTE, which is out of reach at sf0.1
(78k candidate pairs), so the gates run at the scale their oracles check."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()

SIZES = {"documents": 200, "embeddings": 500, "part": 2000}


def generate(out_dir, seed):
    """Write the three tables as parquet under `out_dir`; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = SIZES["documents"]
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lengths]
    dups = rng.choice(n, n // 20, replace=False)
    originals = set(range(n)) - set(dups.tolist())
    pool = np.array(sorted(originals))
    for d in dups:
        texts[d] = texts[int(rng.choice(pool))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    m = SIZES["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    })

    p = SIZES["part"]
    keys = np.arange(p, dtype=np.int64)
    part = pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(TYPES, p).tolist(),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1),
    })

    for name, table in (("documents", docs), ("embeddings", emb), ("part", part)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return dict(SIZES)
