"""Seeded corpus and query generator owned by the benchmark.

The engine ships its own synthetic corpora (`terrier_spark.index.corpus`),
but the benchmark must not use them: an engine change could then change
the workload it is measured on.  Everything here depends only on numpy
and the parameters below.

Corpus shape (a topical code/text lake):
  * vocabulary of VOCAB terms = a shared head of SHARED terms (Zipf,
    stopword-like) plus TOPICS equal slices, each Zipf within itself;
  * each document belongs to one topic, drawn at random, so ingest order
    scrambles topics; `repo` encodes the topic, so building with
    sort_docids_by=("repo", "path") clusters each topic into contiguous
    docids (the docid reordering the block-max bounds rely on);
  * a token is drawn from the shared head with P_SHARED, from a random
    foreign topic with P_LEAK, otherwise from the document's own topic;
  * document lengths are lognormal around MEDIAN_LEN.

Queries are anchored to one topic, 2..10 terms long (the fork's query
sets are bucketed by length 2..10), with P_QUERY_SHARED of the terms
drawn from the shared head.
"""

from __future__ import annotations

from statistics import NormalDist

import numpy as np
import pandas as pd

VOCAB = 50_000
TOPICS = 50
SHARED = 1_000
P_SHARED = 0.35
P_LEAK = 0.05
MEDIAN_LEN = 60
LEN_SIGMA = 0.8
MIN_LEN = 8
P_QUERY_SHARED = 0.2
QUERY_LENGTHS = range(2, 11)

# Letters chosen so that no Porter-stemmer rule and no tokeniser rule
# applies: no e/i/l/n/s/y, consonant-vowel alternation (never three equal
# letters in a row), and a fixed final consonant.  Every rank therefore
# maps to a distinct indexed term.
_CONSONANTS = "bdfgkmprtvz"
_VOWELS = "aou"
_SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]


def token(rank: int) -> str:
    """Distinct alphabetic term for a vocabulary rank (0-based)."""
    out = []
    r = rank
    while True:
        out.append(_SYLLABLES[r % len(_SYLLABLES)])
        r //= len(_SYLLABLES)
        if r == 0:
            break
    return "".join(out) + "k"


def params() -> dict:
    """Every knob that shapes the generated inputs (part of the fixture
    cache key)."""
    return {
        "vocab": VOCAB, "topics": TOPICS, "shared": SHARED,
        "p_shared": P_SHARED, "p_leak": P_LEAK, "median_len": MEDIAN_LEN,
        "len_sigma": LEN_SIGMA, "min_len": MIN_LEN,
        "p_query_shared": P_QUERY_SHARED,
        "query_lengths": list(QUERY_LENGTHS), "token": token(VOCAB - 1),
    }


class Vocabulary:
    def __init__(self):
        self.tokens = np.array([token(r) for r in range(VOCAB)], dtype=object)
        self.slice_size = (VOCAB - SHARED) // TOPICS
        self.cum_shared = _zipf_cum(SHARED)
        self.cum_slice = _zipf_cum(self.slice_size)

    def draw(self, rng: np.random.Generator, topics: np.ndarray,
             p_shared: float, p_leak: float) -> np.ndarray:
        """One term rank per entry of `topics` (the owning topic)."""
        n = topics.size
        u = rng.random(n)
        shared = u < p_shared
        leak = (u >= p_shared) & (u < p_shared + p_leak)
        topic = np.where(leak, rng.integers(0, TOPICS, n), topics)
        in_slice = np.searchsorted(self.cum_slice, rng.random(n))
        in_head = np.searchsorted(self.cum_shared, rng.random(n))
        return np.where(
            shared, in_head, SHARED + topic * self.slice_size + in_slice
        )


def _zipf_cum(n: int) -> np.ndarray:
    c = np.cumsum(1.0 / np.arange(1, n + 1, dtype=np.float64))
    return c / c[-1]


def make_corpus(n_docs: int, seed: int, vocab: Vocabulary,
                prefix: str = "d") -> pd.DataFrame:
    """Documents in ingest order, with the columns the engine's builders
    read: docno, repo, path, commit, lang, content."""
    rng = np.random.default_rng([seed, n_docs, 1])
    topics = rng.integers(0, TOPICS, n_docs)
    # lengths at evenly spaced quantiles of the lognormal, in seeded order:
    # every seed indexes the same number of tokens, so the work of an
    # ingest does not vary with the seed
    z = [NormalDist().inv_cdf((i + 0.5) / n_docs) for i in range(n_docs)]
    lengths = np.maximum(
        MIN_LEN,
        np.exp(np.log(MEDIAN_LEN) + LEN_SIGMA * np.asarray(z)).astype(np.int64),
    )
    rng.shuffle(lengths)
    ranks = vocab.draw(rng, np.repeat(topics, lengths), P_SHARED, P_LEAK)
    words = vocab.tokens[ranks]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    content = [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    ids = np.arange(n_docs)
    return pd.DataFrame({
        "docno": [f"{prefix}{i:07d}" for i in ids],
        "repo": [f"t{t:02d}/r{i % 7}" for t, i in zip(topics, ids)],
        "path": [f"src/f{i:07d}.py" for i in ids],
        "commit": [f"{seed:08x}" for _ in ids],
        "lang": "python",
        "content": content,
    })


def make_queries(n_per_length: int, seed: int,
                 vocab: Vocabulary) -> list[tuple[str, str]]:
    """n_per_length topic-anchored queries for each length in
    QUERY_LENGTHS, as (qid, text) pairs."""
    rng = np.random.default_rng([seed, n_per_length, 2])
    out = []
    for length in QUERY_LENGTHS:
        for _ in range(n_per_length):
            topic = int(rng.integers(0, TOPICS))
            ranks = vocab.draw(
                rng, np.full(length, topic), P_QUERY_SHARED, 0.0
            )
            out.append((f"q{len(out):05d}", " ".join(vocab.tokens[ranks])))
    return out
