"""Seeded corpus inputs and the corpus operator set.

The sf0.1 ``documents`` and ``embeddings`` tables that ``bench.py`` reads
are test data outside the repository, so the benchmark makes inputs with
their measured statistics (see README.md, "Corpus inputs"):

- ``documents``: texts of 10 to 100 words (uniform) drawn uniformly from a
  30-word vocabulary; 5% of the rows are near duplicates, another row's
  text with `` dup`` appended, and 0.16% are exact copies of another row;
  ``lang`` is 41% ``en`` and ~15% each of ``zh``, ``es``, ``fr``, ``de``;
  ``source`` is ``src<id mod 20>``.
- ``embeddings``: 64-dimensional unit vectors in uniformly random
  directions, with a label 0-9 that is independent of the vector.

Both are made from the seed alone.
"""

from __future__ import annotations

import os
import random

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS, LANG_WEIGHTS = ["en", "zh", "es", "fr", "de"], [41, 15, 15, 15, 14]
NEAR_DUP_SHARE, EXACT_DUP_SHARE = 0.05, 0.0016
DIM = 64


def documents(seed: int, n: int) -> list[tuple]:
    """``(doc_id, text, lang, source, n_chars)`` rows."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))) for _ in range(n)]
    n_near, n_exact = round(n * NEAR_DUP_SHARE), round(n * EXACT_DUP_SHARE)
    # copies are made only from untouched rows, so no chains of copies
    targets = rng.sample(range(n), n_near + n_exact)
    untouched = sorted(set(range(n)) - set(targets))
    for k, i in enumerate(targets):
        text = texts[rng.choice(untouched)]
        texts[i] = text + " dup" if k < n_near else text
    langs = rng.choices(LANGS, LANG_WEIGHTS, k=n)
    return [(i, t, langs[i], f"src{i % 20}", len(t)) for i, t in enumerate(texts)]


def planted_pairs(rows: list[tuple]) -> int:
    """Pairs of documents that are exact copies or differ by the appended
    `` dup``. Every one has 3-gram Jaccard >= 0.5 (texts have >= 10 words)
    and unrelated random texts share almost no 3-grams, so this is the pair
    count ``ngram_jaccard_pairs`` finds at threshold 0.5."""
    count: dict[str, int] = {}
    for row in rows:
        count[row[1]] = count.get(row[1], 0) + 1
    exact = sum(c * (c - 1) // 2 for c in count.values())
    near = sum(c * count.get(t[:-4], 0) for t, c in count.items() if t.endswith(" dup"))
    return exact + near


def embeddings(seed: int, n: int) -> list[tuple]:
    """``(vec_id, embedding, label)`` rows; float32 values."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    labels = rng.integers(0, 10, n)
    return [(i, vecs[i].tolist(), int(labels[i])) for i in range(n)]


def write_parquet(rows: list[tuple], names: list[str], types: list, path: str) -> None:
    """Write ``rows`` as one parquet file (one split, like the sf0.1 tables)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table([pa.array(c, t) for c, t in zip(cols, types)], names=names)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def write_inputs(seed: int, n_docs: int, n_emb: int, root: str) -> int:
    """Write both tables under ``root``; returns the planted pair count."""
    import pyarrow as pa

    docs = documents(seed, n_docs)
    write_parquet(
        docs, ["doc_id", "text", "lang", "source", "n_chars"],
        [pa.int64(), pa.string(), pa.string(), pa.string(), pa.int64()],
        os.path.join(root, "documents"),
    )
    write_parquet(
        embeddings(seed, n_emb), ["vec_id", "embedding", "label"],
        [pa.int64(), pa.list_(pa.float32()), pa.int32()],
        os.path.join(root, "embeddings"),
    )
    return planted_pairs(docs)


def operators(docs, emb) -> dict:
    """The corpus operator set at the sf0.1 bench's production settings:
    name -> (layer, zero-argument function returning the output frame)."""
    from jobinsight_data_pipeline_spark.operators.bpe import bpe_encode
    from jobinsight_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from jobinsight_data_pipeline_spark.operators.parallelism import widen_for_cpu
    from jobinsight_data_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    cb = pq_codebooks()
    return {
        "ngram_jaccard_pairs": ("dedup", lambda: ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)),
        "bpe_encode": ("bpe", lambda: bpe_encode(widen_for_cpu(docs))),
        "pq_encode": ("similarity", lambda: pq_encode(widen_for_cpu(emb), cb)),
    }
