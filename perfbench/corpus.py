"""Seeded ``documents`` and ``embeddings`` tables in the shape the
``__spark_entry__`` corpus entries read (the shape of the sf* test data),
and the DuckDB check of an entry's output against its ``oracle_sql`` twin.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
#: embedding width
DIM = 64


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in rng.choice(_LANGS, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def table_rows(sf_dir: str) -> dict[str, int]:
    return {
        t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
        for t in ("documents", "embeddings")
    }


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6) + 0.0)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (np.integer,)):
        return repr(int(v))
    if isinstance(v, (np.floating,)):
        return _canon(float(v))
    return repr(v)


def rows_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-independent digest of the rows with floats rounded
    to 6 places); columns are compared by sorted name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode("utf-8"))
    return len(lines), h.hexdigest()


def parquet_digest(path: str) -> tuple[int, str]:
    t = pq.ParquetDataset(path).read()
    cols = t.column_names
    data = t.to_pydict()
    return rows_digest(cols, zip(*[data[c] for c in cols]))


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    import duckdb

    import __spark_entry__ as entrymod

    sqls = entrymod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name in names:
            res = con.execute(sqls[name])
            cols = [d[0] for d in res.description]
            out[name] = rows_digest(cols, res.fetchall())
        return out
    finally:
        con.close()
