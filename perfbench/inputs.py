"""Seeded input generators. The same seed gives byte-identical inputs.

The engine receives only what these write: baseline TIFF timelapses for
the image pipeline and a ``documents`` parquet table for the corpus
queries.
"""

from __future__ import annotations

import os

import numpy as np

# vocabulary, length range and language mix of the repository's synthetic
# `documents` test table, so the text operators see the same token shapes
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20


def make_documents(seed: int, n_docs: int) -> dict[str, list]:
    """Columns of a ``documents`` table (doc_id, text, lang, source,
    n_chars). About 3% of docs are near-duplicates of an earlier doc
    (one word in ~30 replaced) and 0.5% exact copies, so the dedup
    operators have real candidate pairs to verify."""
    rng = np.random.default_rng(seed % (1 << 64))
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 20 and r < 0.035:
            words = texts[int(rng.integers(0, i))].split()
            if r < 0.03:
                for j in rng.integers(0, len(words), size=max(1, len(words) // 30)):
                    words[int(j)] = WORDS[int(rng.integers(len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[int(j)] for j in rng.integers(0, len(WORDS), n)))
    lang = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [LANGS[int(k)] for k in lang],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def write_documents(seed: int, n_docs: int, table_dir: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = make_documents(seed, n_docs)
    table = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
        }
    )
    os.makedirs(table_dir, exist_ok=True)
    path = os.path.join(table_dir, "documents.parquet")
    pq.write_table(table, path)
    return path


def timelapse_seed(seed: int, index: int) -> int:
    return (seed * 1009 + index) % (1 << 32)


def make_tiff_timelapses(
    seed: int, n_files: int, n_frames: int, size: int, n_cells: int
) -> list[bytes]:
    """Uncompressed baseline multi-page TIFFs of drifting bright cells,
    built with the engine's own fake-timelapse and TIFF writers."""
    from cellphe_data_pipeline_spark.domain.images import (
        decode_frame,
        encode_tiff_gray,
        make_fake_timelapse,
    )

    return [
        encode_tiff_gray(
            decode_frame(
                make_fake_timelapse(
                    seed=timelapse_seed(seed, i),
                    height=size,
                    width=size,
                    n_frames=n_frames,
                    n_cells=n_cells,
                )
            )
        )
        for i in range(n_files)
    ]


def write_tiff_timelapses(files: list[bytes], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, content in enumerate(files):
        with open(os.path.join(out_dir, f"tl_{i:02d}.tiff"), "wb") as f:
            f.write(content)
