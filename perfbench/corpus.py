"""Seeded document corpus for the curation workload, with planted
exact duplicates, near duplicates and low-quality documents, and the
outcome each document must have."""

from __future__ import annotations

import random
from dataclasses import dataclass, field

STOPWORDS = ("the", "a", "of", "and", "to")
LANGS = ("en", "de", "es", "fr", "zh")

# shares of the corpus (the rest are distinct documents of good quality)
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.05
LOW_QUALITY_SHARE = 0.10


def quality(text: str) -> float:
    """The engine's quality heuristic, restated: mean word length in
    [3, 10], English stopword ratio, token count in [10, 1000]."""
    toks = text.split(" ")
    n = len(toks)
    mean_wlen = (len(text) - (n - 1)) / n
    stop = sum(t in STOPWORDS for t in toks) / n
    return (
        0.4 * (3 <= mean_wlen <= 10)
        + 0.3 * min(stop * 5, 1.0)
        + 0.3 * (10 <= n <= 1000)
    )


@dataclass
class Corpus:
    rows: list[tuple[int, str, str]] = field(default_factory=list)  # doc_id, lang, text
    must_keep: set[int] = field(default_factory=set)  # distinct docs of passing quality
    must_drop: set[int] = field(default_factory=set)  # exact duplicates and low quality


def _good_text(rng: random.Random, vocab: list[str]) -> str:
    # few stopwords: two distinct docs then share almost no words, so no
    # MinHash estimate can pair them (at a 30% share they share all five
    # stopwords, and with 8 components a few such pairs in 10k docs
    # reach the 0.75 near-duplicate threshold)
    words = []
    for _ in range(rng.randrange(40, 90)):
        words.append(rng.choice(STOPWORDS) if rng.random() < 0.05 else rng.choice(vocab))
    return " ".join(words)


def generate(seed: int, n_docs: int) -> Corpus:
    rng = random.Random(seed)
    vocab = [
        "".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=rng.randrange(4, 9)))
        for _ in range(20000)
    ]
    c = Corpus()
    originals: list[str] = []
    for doc_id in range(n_docs):
        lang = rng.choice(LANGS)
        r = rng.random()
        if originals and r < EXACT_DUP_SHARE:
            text = rng.choice(originals)
            c.must_drop.add(doc_id)
        elif originals and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = rng.choice(originals).split(" ")
            toks[-1] = rng.choice(vocab)  # one changed word: most shingles survive
            text = " ".join(toks)  # kept or dropped: MinHash decides, so unchecked
        elif r < EXACT_DUP_SHARE + NEAR_DUP_SHARE + LOW_QUALITY_SHARE:
            # few, overlong tokens and no stopwords
            text = " ".join(
                "".join(rng.choices("0123456789abcdef", k=rng.randrange(14, 30)))
                for _ in range(rng.randrange(2, 8))
            )
            c.must_drop.add(doc_id)
        else:
            text = _good_text(rng, vocab)
            originals.append(text)
            c.must_keep.add(doc_id)
        c.rows.append((doc_id, lang, text))
    return c
