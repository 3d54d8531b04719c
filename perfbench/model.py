"""Seeded inputs and pure-Python oracles for the benchmark workloads.

Everything here is deterministic in its ``seed`` argument and independent
of Spark: the workloads hand the generated inputs to the package and check
what comes back against these models. The exact FIND model uses the
package's own ``normalize_py``/``trigrams_py`` twins, which the tier-1
tests pin to the Spark tokenizer.
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict

from blurrily_spark.functions.tokenizer import normalize_py, trigrams_py

# A small core vocabulary that most documents share (common shingles and
# trigrams) plus a wide tail of syllable words that keeps unrelated
# documents apart.
COMMON_WORDS = (
    "a the data spark table query index row column key value scan sort join "
    "filter group batch stream window merge hash part line order fast slow "
    "big small vector agg customer"
).split()
_SYL = ["ba", "ke", "lo", "mi", "nu", "ra", "si", "tu", "ve", "zo", "pe", "da"]
RARE_WORDS = [a + b + c for a in _SYL for b in _SYL for c in _SYL[:5]]

_TYPO_ALPHABET = "abcdefghijklmnopqrstuvwxyz"
_ACCENTS = {"a": "à", "e": "é", "i": "ï", "o": "ô", "u": "ü", "c": "ç"}


def _word(rng: random.Random) -> str:
    return rng.choice(COMMON_WORDS) if rng.random() < 0.5 else rng.choice(RARE_WORDS)


def typo(rng: random.Random, text: str) -> str:
    """One insert, delete or substitute edit at a random position."""
    if len(text) < 2:
        return text
    i = rng.randrange(len(text))
    op = rng.randrange(3)
    ch = rng.choice(_TYPO_ALPHABET)
    if op == 0:
        return text[:i] + ch + text[i:]
    if op == 1:
        return text[:i] + text[i + 1 :]
    return text[:i] + ch + text[i + 1 :]


def documents(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """``(doc_id, text)`` rows shaped like the sf0.1 documents table:
    8-100 words, about 300 characters on average."""
    rng = random.Random(seed)
    return [
        (doc_id, " ".join(_word(rng) for _ in range(rng.randint(8, 100))))
        for doc_id in range(n_docs)
    ]


def truncated_dups(docs: list[tuple[int, str]], offset: int) -> list[tuple[int, str]]:
    """Planted near-duplicates: every document again, cut to 90% of its
    characters, under ``doc_id + offset``."""
    return [(doc_id + offset, text[: int(len(text) * 0.9)]) for doc_id, text in docs]


def serve_needle(rng: random.Random) -> str:
    """A short stored string like the reference's place names; some carry
    Latin diacritics or a ligature so both normalize branches run."""
    text = " ".join(rng.choice(RARE_WORDS) for _ in range(rng.randint(1, 3)))
    r = rng.random()
    if r < 0.1:
        i = rng.randrange(len(text))
        text = text[:i] + _ACCENTS.get(text[i], text[i]) + text[i + 1 :]
    elif r < 0.13:
        text = "ﬁ" + text  # the "fi" ligature: only NFKD folds it
    return text


def rank(counts: Counter, weights: dict[int, int], limit: int) -> list[tuple[int, int, int]]:
    """F5 order: matches DESC, weight ASC, ref ASC; top ``limit``."""
    rows = sorted(counts.items(), key=lambda kv: (-kv[1], weights[kv[0]], kv[0]))
    return [(ref, m, weights[ref]) for ref, m in rows[:limit]]


class TrigramModel:
    """Exact in-memory model of a postings table: put, delete and FIND with
    the reference's semantics (dup ref is a no-op, weight <= 0 defaults to
    the normalized length)."""

    def __init__(self) -> None:
        self.postings: dict[int, set[int]] = defaultdict(set)
        self.trigrams: dict[int, list[int]] = {}
        self.weights: dict[int, int] = {}
        self.needles: dict[int, str] = {}

    def put(self, needle: str, ref: int, weight: int = 0) -> None:
        if ref in self.weights:
            return
        norm = normalize_py(needle)
        tg = trigrams_py(norm)
        self.trigrams[ref] = tg
        self.weights[ref] = weight if weight > 0 else len(norm)
        self.needles[ref] = needle
        for t in tg:
            self.postings[t].add(ref)

    def delete(self, ref: int) -> None:
        for t in self.trigrams.pop(ref, ()):
            self.postings[t].discard(ref)
        self.weights.pop(ref, None)
        self.needles.pop(ref, None)

    def find(self, needle: str, limit: int = 10) -> list[tuple[int, int, int]]:
        counts: Counter = Counter()
        for t in trigrams_py(normalize_py(needle)):
            counts.update(self.postings.get(t, ()))
        return rank(counts, self.weights, limit)


def pairwise_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of a clustering against a labelling, from contingency
    counts (no pair enumeration). Keys missing from ``pred`` are
    singletons."""
    def pairs(counter: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in counter.values())

    keys = list(truth)
    pred_labels = [pred.get(k, ("single", k)) for k in keys]
    tp = pairs(Counter(zip(pred_labels, (truth[k] for k in keys))))
    pp = pairs(Counter(pred_labels))
    tt = pairs(Counter(truth[k] for k in keys))
    if tp == 0:
        return 0.0
    precision, recall = tp / pp, tp / tt
    return 2 * precision * recall / (precision + recall)
