"""Seeded synthetic corpus with planted near-duplicate families.

Pure Python + NumPy: nothing here touches Spark, so the generator and its
ground truth can be tested without a JVM. The engine only ever sees the
generated texts; family labels and true Jaccards stay on the benchmark side.

Model (all draws from one ``numpy.random.Generator`` seeded by ``seed``):

* tokens follow Zipf(1) over a ``vocab``-word vocabulary;
* document length is lognormal(``len_mu``, ``len_sigma``), at least
  ``min_len`` tokens (about 80 tokens on average);
* a ``dup_frac`` share of documents copy an earlier document (possibly
  itself a copy, so families chain) with ``edit_frac`` of the token
  positions replaced by a different word.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

import numpy as np

from pyspark_minhash_lsh_spark.functions.text import tokens_local


@dataclass(frozen=True)
class CorpusParams:
    docs: int = 100_000
    vocab: int = 20_000
    len_mu: float = 4.2
    len_sigma: float = 0.6
    min_len: int = 3
    dup_frac: float = 0.2
    edit_frac: float = 0.05
    shingle_k: int = 2

    def as_dict(self) -> dict:
        return asdict(self)


def word(i: int) -> str:
    """Vocabulary word ``i``: a letters-only name, so the engine's tokenizer
    keeps it as exactly one token."""
    letters = []
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        letters.append(chr(97 + r))
    return "".join(reversed(letters))


class TokenSource:
    """Zipf(1) token ids over ``vocab`` words, drawn by inverse-CDF lookup."""

    def __init__(self, rng: np.random.Generator, vocab: int) -> None:
        self.rng = rng
        self.vocab = vocab
        weights = 1.0 / np.arange(1, vocab + 1)
        self.cdf = np.cumsum(weights / weights.sum())
        self.words = [word(i) for i in range(vocab)]

    def draw(self, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return np.minimum(idx, self.vocab - 1)

    def length(self, p: CorpusParams) -> int:
        return max(p.min_len, int(round(self.rng.lognormal(p.len_mu, p.len_sigma))))

    def fresh(self, p: CorpusParams) -> np.ndarray:
        return self.draw(self.length(p))

    def edit(self, toks: np.ndarray, frac: float) -> np.ndarray:
        """Copy of ``toks`` with ``max(1, round(frac * len))`` positions
        replaced, each by a word different from the one it replaces."""
        out = toks.copy()
        k = max(1, int(round(frac * len(out))))
        for pos in self.rng.choice(len(out), size=min(k, len(out)), replace=False):
            new = out[pos]
            while new == out[pos]:
                new = self.draw(1)[0]
            out[pos] = new
        return out

    def text(self, toks: np.ndarray) -> str:
        s = " ".join(self.words[t] for t in toks)
        # capitalised and punctuated so the engine's normaliser has work to do
        return s[:1].upper() + s[1:] + "."


@dataclass
class Corpus:
    params: CorpusParams
    seed: int
    texts: list
    tokens: list          # token-id arrays, index = doc id
    family: np.ndarray    # family id (= id of the family's first doc)
    source: np.ndarray    # id of the doc this one copies, -1 for fresh docs

    def planted_pairs(self) -> list:
        """``(copy, source)`` id pairs the generator planted."""
        return [(i, int(s)) for i, s in enumerate(self.source) if s >= 0]


def generate(params: CorpusParams, seed: int) -> Corpus:
    """The corpus for ``seed``."""
    rng = np.random.default_rng(seed)
    src = TokenSource(rng, params.vocab)
    toks, family, source = [], np.empty(params.docs, np.int64), np.full(params.docs, -1, np.int64)
    for i in range(params.docs):
        if i > 0 and rng.random() < params.dup_frac:
            s = int(rng.integers(0, i))
            toks.append(src.edit(toks[s], params.edit_frac))
            family[i], source[i] = family[s], s
        else:
            toks.append(src.fresh(params))
            family[i] = i
    texts = [src.text(t) for t in toks]
    return Corpus(params, seed, texts, toks, family, source)


def shingle_set(text: str, k: int = 2) -> set:
    """Distinct k-token shingles of ``text`` under the engine's own
    tokenizer (``tokens_local``), joined by one space like ``shingles``."""
    toks = tokens_local(text)
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


def true_jaccard(corpus: Corpus, pairs) -> np.ndarray:
    """True shingle Jaccard of each ``(id, id)`` pair in ``pairs``."""
    k = corpus.params.shingle_k
    cache: dict = {}

    def sh(i: int) -> set:
        if i not in cache:
            cache[i] = shingle_set(corpus.texts[i], k)
        return cache[i]

    return np.array([jaccard(sh(a), sh(b)) for a, b in pairs], dtype=float)


def shingle_count(texts) -> int:
    """Total k=2 shingle windows over ``texts`` (the work the signature
    kernel does, counted on the benchmark side)."""
    return sum(max(0, len(tokens_local(t)) - 1) for t in texts)
