"""Deterministic benchmark inputs, all keyed on the run's seed.

Vectors: a 64-d mixture of 10 Gaussian clusters (sigma 2.5 around
centres drawn once per seed). Ids are int64 everywhere: the engine's
frames carry them as Spark ``bigint``.

NDJSON: the reference's point format, one ``{"body", "text-embedding-ada-002"}``
object per line. A stated share of lines is malformed (truncated JSON, a
missing vector field, a vector of the wrong type); the engine must drop
exactly those. A valid line's body is its id, so the benchmark can key
the parsed rows without trusting the engine's line order.

Corpus: word documents drawn from a Zipf-weighted vocabulary, plus a
stated share of near-duplicates (a copy of an earlier document with one
word replaced), whose (original, copy) pairs are returned for checking.
"""

from __future__ import annotations

import json

import numpy as np

DIM = 64
N_CLUSTERS = 10
SIGMA = 2.5
CENTRE_SCALE = 2.0
MALFORMED_SHARE = 0.01
NEAR_DUP_SHARE = 0.10
VOCAB_SIZE = 2000
DOC_WORDS = (24, 48)


class Mixture:
    """Draws vectors from one seed's cluster mixture. The centres depend on
    the seed alone; ``stream`` picks an independent sequence of draws, so
    base vectors and query vectors never coincide."""

    def __init__(self, seed: int, stream: int):
        self.centres = np.random.default_rng(seed).normal(
            0.0, CENTRE_SCALE, (N_CLUSTERS, DIM))
        self.rng = np.random.default_rng([seed, stream])

    def draw(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, N_CLUSTERS, n)
        x = self.centres[lab] + self.rng.normal(0.0, SIGMA, (n, DIM))
        return x.astype(np.float32)


def _malformed(rng: np.random.Generator, vec: np.ndarray) -> str:
    kind = int(rng.integers(0, 3))
    if kind == 0:  # truncated object
        return json.dumps({"body": "x", "text-embedding-ada-002": vec[:4].tolist()})[:-7]
    if kind == 1:  # required vector field missing
        return json.dumps({"body": "missing-vector"})
    return json.dumps({"body": "bad-type", "text-embedding-ada-002": "not-a-vector"})


def write_ndjson(path: str, vecs: np.ndarray, rng: np.random.Generator) -> int:
    """Write ``vecs`` as valid lines (body = id, in id order) with malformed
    lines mixed in at MALFORMED_SHARE. Returns the malformed-line count."""
    bad = rng.random(len(vecs)) < MALFORMED_SHARE
    n_bad = 0
    with open(path, "w") as f:
        for i, v in enumerate(vecs):
            if bad[i]:
                f.write(_malformed(rng, v) + "\n")
                n_bad += 1
            nums = ",".join(f"{x:.9g}" for x in v.tolist())
            f.write(f'{{"body": "{i}", "text-embedding-ada-002": [{nums}]}}\n')
    return n_bad


def vocabulary(rng: np.random.Generator) -> tuple[list[str], np.ndarray]:
    """Pronounceable distinct words and their Zipf weights."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(letters, int(rng.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1)
    return words, weights / weights.sum()


def corpus(n_docs: int, rng: np.random.Generator
           ) -> tuple[list[tuple[int, str]], list[tuple[int, int]], list[str]]:
    """``n_docs`` documents (doc_id, text) with ids 0..n_docs-1. About
    NEAR_DUP_SHARE of them copy an earlier original with one word
    replaced. Returns (docs, (original_id, copy_id) pairs, vocabulary)."""
    words, weights = vocabulary(rng)
    docs: list[tuple[int, str]] = []
    pairs: list[tuple[int, int]] = []
    is_copy = rng.random(n_docs) < NEAR_DUP_SHARE
    originals: list[int] = []
    for i in range(n_docs):
        if is_copy[i] and originals:
            src = originals[int(rng.integers(0, len(originals)))]
            toks = docs[src][1].split(" ")
            toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, VOCAB_SIZE))]
            docs.append((i, " ".join(toks)))
            pairs.append((src, i))
        else:
            n = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
            toks = rng.choice(VOCAB_SIZE, n, p=weights)
            docs.append((i, " ".join(words[t] for t in toks)))
            originals.append(i)
    return docs, pairs, words
