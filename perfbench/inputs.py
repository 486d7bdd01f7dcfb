"""Seeded input files for the benchmark workloads.

The seed picks the ``doc_id`` range of every generated
``documents.parquet``; ``gdal_spark.corpus`` turns each id into a point
(and a rectangle) with its integer-hash formulas, so another seed moves
every point while keeping the corpus shape (80% uniform, 20% in ten hot
cells).  The program only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "spark scan join tile zone point polygon clip hash sort window batch "
    "stream query filter group value key row column part table fast slow "
    "small big order line data vector merge agg map reduce index cell"
).split()
_LANGS = ("en", "de", "fr", "zh", "es", "ja")

# the corpus formulas multiply doc_id by up to 2654435761; ids below
# 2**31 keep every product inside BIGINT in Spark and DuckDB alike
_MAX_ID = 2**31


def id_offsets(seed: int, count: int, span: int) -> list[int]:
    """``count`` disjoint doc_id offsets of ``span`` ids each."""
    rng = np.random.default_rng(seed)
    slots = rng.choice(_MAX_ID // span - 1, size=count, replace=False)
    return [int(s) * span for s in slots]


def write_documents(
    path: str, first_id: int, n: int, seed: int, files: int
) -> None:
    """Write ``n`` docs with ids ``first_id .. first_id + n - 1`` in the
    ``documents`` schema (doc_id, text, lang, source, n_chars) as a
    parquet directory of ``files`` parts, so the scan has that many
    input splits (one small file would be a single task)."""
    rng = np.random.default_rng([seed, first_id])
    phrases = [
        " ".join(rng.choice(_WORDS, size=int(rng.integers(4, 24))))
        for _ in range(256)
    ]
    pick = rng.integers(0, len(phrases), size=n).astype(np.int32)
    sources = [f"src{i}" for i in range(16)]

    def labels(values: list[str], idx: np.ndarray) -> pa.Array:
        return pa.DictionaryArray.from_arrays(
            pa.array(idx.astype(np.int32)), pa.array(values)
        ).dictionary_decode()

    table = pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "text": labels(phrases, pick),
            "lang": labels(list(_LANGS), rng.integers(0, len(_LANGS), size=n)),
            "source": labels(sources, rng.integers(0, len(sources), size=n)),
            "n_chars": pa.array(
                np.array([len(p) for p in phrases], dtype=np.int64)[pick]
            ),
        }
    )
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )
