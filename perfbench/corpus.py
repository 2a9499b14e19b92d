"""Seeded input generators for the benchmark workloads.

Every corpus is a pure function of (workload, seed): a Zipf background
vocabulary, a per-product (or per-source) set of topic words, and
multi-sentence texts whose sentences are 11-24 words long, so each one
passes both the LSA filter (>= 5 words) and the TextRank filter
(10 < words < 30).  The layout (products x reviews x sentences) is fixed
per workload, so the input size does not move with the seed.
"""

from __future__ import annotations

import os
import random

import numpy as np

# (products, reviews per product, sentences per review)
REVIEWS_LAYOUT = (4, 60, 4)
# (sources, documents per source, sentences per document)
DOCS_LAYOUT = (6, 20, 3)
# control table: rows, distinct group keys
CONTROL_ROWS, CONTROL_KEYS = 200_000, 64

VOCAB_SIZE = 2500
TOPIC_WORDS = 40
_STOP = (
    "the", "and", "is", "it", "this", "was", "for", "with", "but", "very",
    "not", "my", "a", "of", "to", "in", "on", "so", "after", "they",
)
_ONSETS = ("b", "c", "d", "f", "g", "l", "m", "n", "p", "r", "s", "t", "v", "br", "cl", "st", "tr")
_NUCLEI = ("a", "e", "i", "o", "u", "ai", "ea", "ou")
_CODAS = ("", "n", "r", "t", "l", "s", "ck", "nd", "ng")


def _vocabulary(rng: random.Random) -> list[str]:
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_NUCLEI) for _ in range(rng.randint(1, 3))
        ) + rng.choice(_CODAS)
        if len(w) >= 3 and w not in _STOP:
            words.add(w)
    return sorted(words)


class _TextModel:
    """Zipf background words + per-group topic words + stopwords."""

    def __init__(self, seed: int, n_groups: int):
        self.rng = random.Random(seed)
        self.vocab = _vocabulary(self.rng)
        w = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.07
        self.cum = np.cumsum(w / w.sum())
        self.topics = [
            self.rng.sample(self.vocab[50:], TOPIC_WORDS) for _ in range(n_groups)
        ]

    def _zipf_word(self) -> str:
        i = int(np.searchsorted(self.cum, self.rng.random()))
        w = self.vocab[min(i, VOCAB_SIZE - 1)]
        return w + "s" if self.rng.random() < 0.1 else w

    def sentence(self, group: int) -> str:
        out = []
        for _ in range(self.rng.randint(11, 24)):
            r = self.rng.random()
            if r < 0.3:
                out.append(self.rng.choice(_STOP))
            elif r < 0.55:
                out.append(self.rng.choice(self.topics[group]))
            else:
                out.append(self._zipf_word())
        out[0] = out[0].capitalize()
        return " ".join(out)

    def text(self, group: int, n_sentences: int) -> str:
        return ". ".join(self.sentence(group) for _ in range(n_sentences)) + "."


def write_reviews(out_dir: str, seed: int) -> int:
    """One ``<product_id>.txt`` TSV per product in the reference's
    6-column format; returns the number of generated sentences."""
    products, per_product, per_review = REVIEWS_LAYOUT
    model = _TextModel(seed, products)
    os.makedirs(out_dir, exist_ok=True)
    header = "review_id\tproduct_title\tstar_rating\tvine\tverified_purchase\treview_body\n"
    for p in range(products):
        pid = f"B{seed % 1000:03d}{p:05d}"
        lines = [header]
        for r in range(per_product):
            lines.append(
                f"R{p:04d}{r:05d}\tProduct {p}\t{model.rng.randint(1, 5)}\tN\t"
                f"{model.rng.choice('YN')}\t{model.text(p, per_review)}\n"
            )
        with open(os.path.join(out_dir, f"{pid}.txt"), "w") as fh:
            fh.writelines(lines)
    return products * per_product * per_review


def write_documents(out_dir: str, seed: int) -> int:
    """``documents.parquet`` in the synthetic-table schema (doc_id, text,
    lang, source, n_chars); returns the number of generated sentences."""
    import pandas as pd

    sources, per_source, per_doc = DOCS_LAYOUT
    model = _TextModel(seed, sources)
    rows = []
    for i in range(sources * per_source):
        s = i % sources
        t = model.text(s, per_doc)
        rows.append((i, t, "en", f"src{s}", len(t)))
    os.makedirs(out_dir, exist_ok=True)
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]).to_parquet(
        os.path.join(out_dir, "documents.parquet"), index=False
    )
    return sources * per_source * per_doc


def write_control(path: str, seed: int) -> None:
    """Fixed-size parquet for the shuffle-bearing control job."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    pd.DataFrame(
        {
            "k": rng.integers(0, CONTROL_KEYS, CONTROL_ROWS),
            "v": rng.random(CONTROL_ROWS),
        }
    ).to_parquet(path, index=False)
