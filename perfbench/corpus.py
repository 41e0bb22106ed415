"""Seeded input tables for the benchmark.

The benchmark cannot read any test data outside its own checkout, so it
builds a documents table ``(doc_id, text, lang)`` with the statistics
of the repository's sf0.1 ``documents.parquet``: texts of 10-100
tokens drawn uniformly from a 30-word vocabulary, 5% near-duplicates
(an earlier doc's text plus `` dup``), lang ``en`` for ~41% of docs and
four other languages for the rest.

The corpus content is fixed (``CORPUS_SEED``); the workload seed only
sets the page row order and the recrawl change set, so every seed does
the same amount of work and the program sees only the tables.
"""

from __future__ import annotations

import random

import pyarrow as pa

CORPUS_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
NEAR_DUP_FRAC = 0.05
MIN_TOKENS, MAX_TOKENS = 10, 100


def documents(n_docs: int) -> pa.Table:
    """The fixed corpus: ``n_docs`` rows in doc_id order."""
    rng = random.Random(CORPUS_SEED)
    langs = [l for l, _ in LANGS]
    weights = [w for _, w in LANGS]
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_FRAC:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            n = rng.randint(MIN_TOKENS, MAX_TOKENS)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(n)))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choices(langs, weights, k=n_docs),
        }
    )


def changed_doc_ids(table: pa.Table, frac: float, seed: int) -> list[int]:
    """The recrawl change set: a seed-chosen ``frac`` of the doc ids."""
    ids = table.column("doc_id").to_pylist()
    k = int(round(len(ids) * frac))
    return sorted(random.Random(seed).sample(ids, k))
