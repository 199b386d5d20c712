"""Seeded near-duplicate document stream for the ``registry_stream`` workload.

The epoch mix of ``tools/stream_soak.py``: every epoch holds 70%
unique documents, 20% near-duplicates (one word of an earlier unique
document replaced) and 10% exact copies of an earlier unique document,
in a seeded order. "Earlier" means a lower ``doc_id``, in this epoch or
a previous one, so a copy is suppressed whether the sink finds it
within its own micro-batch or against the admitted store (the sink
keeps the lowest id). A document is 40 words from a seeded 4,096-word
vocabulary of 8-letter words, so two unique documents share almost no
5-character shingles while a near-duplicate keeps a shingle Jaccard of
about 0.93 with its source: a sink with threshold 0.8 must admit
exactly the unique documents.

``generate(seed, epochs, docs)`` returns the epochs, each a list of
JSON lines (``doc_id``, ``text``), and the ground truth as plain
counts plus the ids that must be admitted.
"""

from __future__ import annotations

import json
import random

WORDS = 40
VOCAB = 4096
SHARES = {"unique": 0.7, "near_duplicate": 0.2, "exact_duplicate": 0.1}


def generate(seed: int, epochs: int, docs: int) -> tuple[list[list[str]], dict]:
    rng = random.Random(seed)
    vocab = [f"{rng.getrandbits(32):08x}" for _ in range(VOCAB)]
    n_near = round(docs * SHARES["near_duplicate"])
    n_exact = round(docs * SHARES["exact_duplicate"])
    sources: list[list[str]] = []  # unique documents with a lower id
    out: list[list[str]] = []
    unique_ids: list[int] = []
    planted = dict.fromkeys(SHARES, 0)
    for e in range(epochs):
        kinds = ["near_duplicate"] * n_near + ["exact_duplicate"] * n_exact
        kinds += ["unique"] * (docs - len(kinds))
        rng.shuffle(kinds)
        if e == 0:  # the very first document has nothing to copy
            first = kinds.index("unique")
            kinds[0], kinds[first] = kinds[first], kinds[0]
        lines = []
        for j, kind in enumerate(kinds):
            doc_id = e * docs + j
            planted[kind] += 1
            if kind == "unique":
                words = [rng.choice(vocab) for _ in range(WORDS)]
                sources.append(words)
                unique_ids.append(doc_id)
            else:
                words = list(rng.choice(sources))
                if kind == "near_duplicate":
                    pos, new = rng.randrange(WORDS), rng.choice(vocab)
                    while new == words[pos]:
                        new = rng.choice(vocab)
                    words[pos] = new
            lines.append(json.dumps({"doc_id": doc_id, "text": " ".join(words)}))
        out.append(lines)
    truth = {
        "docs": epochs * docs,
        "planted": planted,
        "admitted_per_epoch": [docs - n_near - n_exact] * epochs,
        "admitted_ids": unique_ids,
    }
    return out, truth
