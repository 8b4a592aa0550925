"""Seeded generator for the corpus ``documents`` table that
``__spark_entry__.q_corpus_pipeline_e2e`` reads from ``<sf_dir>``.

It reproduces the shape of the driver's sf tables (doc_id 0..n-1, 10 to
99 words from a 30-word vocabulary, five languages, 20 sources keyed by
doc_id, ~5% near-duplicates made by appending " dup" to another
document's text), so every gated stage of the pipeline has work to do.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
N_SOURCES = 20
DUP_SHARE = 0.05


def corpus_documents(n_docs: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 100, n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends.tolist(), n_words.tolist())]
    is_dup = rng.random(n_docs) < DUP_SHARE
    originals = np.flatnonzero(~is_dup)
    for i, src in zip(np.flatnonzero(is_dup), rng.choice(originals, int(is_dup.sum()))):
        texts[i] = texts[src] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{d % N_SOURCES}" for d in doc_id.tolist()],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
