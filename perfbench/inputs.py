"""Workload inputs.

* ``data/sf0.1`` holds the fixed seed-42 ``documents`` table at sf0.1 (5,000
  docs); ``data/sf0.01`` holds the sf0.01 ``documents``, ``embeddings`` and
  ``events`` tables the registry pass reads. Neither depends on the seed.
* ``synth_documents`` writes a ``documents`` table from the seed whose
  conversation lengths follow a power law, like ``tables.synth_turns``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import DATA_DIR

SF01_DIR = os.path.join(DATA_DIR, "sf0.1")
SF001_DIR = os.path.join(DATA_DIR, "sf0.01")

#: skewed corpus shape: doc i of ``n`` has max(2, MAX_TURNS / sqrt(i + 1))
#: turns of ``TURN_TOKENS`` tokens, so the longest conversation has
#: MAX_TURNS turns and the few longest hold most of the rows. Doc ids are
#: fixed, so each long conversation lands in the same shuffle partition for
#: every seed; the seed draws the words.
SYNTH_DOCS = 100
MAX_TURNS = 2000


def synth_documents(out_dir: str, seed: int) -> int:
    """Write ``out_dir/documents.parquet``; returns the number of turns the
    program will derive from it."""
    from dygiepp_spark import tables as TT

    rng = np.random.default_rng(seed)
    n_turns = np.maximum(2, (MAX_TURNS / np.sqrt(np.arange(SYNTH_DOCS) + 1)).astype(int))
    vocab = np.array(TT.VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k * TT.TURN_TOKENS)])
        for k in n_turns
    ]
    doc_ids = np.arange(SYNTH_DOCS, dtype=np.int64)
    langs = np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, SYNTH_DOCS)]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": doc_ids,
                "text": texts,
                "lang": langs,
                "source": [f"src{i % 5}" for i in doc_ids],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    return int(n_turns.sum())
