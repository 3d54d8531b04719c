"""Deterministic synthetic transcripts (the pipeline's input table).

Schema per the input hint: ``transcripts(conv_id string, turn_idx int,
role string, text string, tool string, ts timestamp)``. Conversations come
in clusters of near-duplicates (typo / insert / delete / substitute /
diacritic / casing / punctuation variants of seeded template texts), so
ground-truth entity labels are known by construction -- ``conv_id`` encodes
``e{entity:06d}_v{variant:02d}``.

Everything is seeded (``random.Random(seed)``); no wall-clock, no external
data. This generator is *test/bench infrastructure*: it materializes to
parquet once and both scaling runs read the identical files. (The engine
itself never depends on it.)
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_BASE_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu london paris york dome puy great masovian airport city "
    "search query table index match weight trigram needle haystack cluster"
).split()
# Widen the vocabulary deterministically (syllable products) so unrelated
# turns don't share most trigrams -- a 40-word vocab makes every pair a
# blocking candidate, which is adversarial rather than representative.
_SYLLABLES = ["ba", "ke", "lo", "mi", "nu", "ra", "si", "tu", "ve", "zo"]
_WORDS = _BASE_WORDS + [
    a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES[:4]
]

_DIACRITICS = {"a": "à", "e": "é", "i": "ï", "o": "ô", "u": "ü", "c": "ç"}
_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["", "search", "calc", "browse"]
_EPOCH = dt.datetime(2024, 1, 1)


def _template_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _perturb(rng: random.Random, text: str) -> str:
    """One of the reference spec's typo classes (map_spec.rb:176-193) or a
    normalization-equivalent mutation (case / punctuation / diacritics)."""
    ops = ["insert", "delete", "substitute", "swap", "case", "punct", "diacritic", "none"]
    op = rng.choice(ops)
    if not text or op == "none":
        return text
    i = rng.randrange(len(text))
    ch = rng.choice("abcdefghijklmnopqrstuvwxyz")
    if op == "insert":
        return text[:i] + ch + text[i:]
    if op == "delete":
        return text[:i] + text[i + 1 :]
    if op == "substitute":
        return text[:i] + ch + text[i + 1 :]
    if op == "swap" and len(text) > 1:
        i = min(i, len(text) - 2)
        return text[:i] + text[i + 1] + text[i] + text[i + 2 :]
    if op == "case":
        return text[:i] + text[i].upper() + text[i + 1 :]
    if op == "punct":
        return text[:i] + rng.choice("-,.!") + text[i:]
    if op == "diacritic":
        lowered = text[i].lower()
        if lowered in _DIACRITICS:
            return text[:i] + _DIACRITICS[lowered] + text[i + 1 :]
    return text


def generate_transcripts_pdf(
    n_entities: int = 50,
    variants_per_entity: int = 4,
    turns_per_conv: int = 5,
    words_per_turn: int = 10,
    n_perturbations: int = 2,
    seed: int = 42,
) -> pd.DataFrame:
    """Pandas frame of transcripts + ground-truth entity ids."""
    rng = random.Random(seed)
    rows = []
    for e in range(n_entities):
        templates = [
            _template_text(rng, max(2, words_per_turn + rng.randint(-2, 2)))
            for _ in range(turns_per_conv)
        ]
        for v in range(variants_per_entity):
            conv_id = f"e{e:06d}_v{v:02d}"
            base_ts = _EPOCH + dt.timedelta(minutes=e * 100 + v)
            for t_idx, template in enumerate(templates):
                text = template
                if v > 0:  # variant 0 is the pristine template
                    for _ in range(n_perturbations):
                        text = _perturb(rng, text)
                rows.append(
                    {
                        "conv_id": conv_id,
                        "turn_idx": t_idx,
                        "role": _ROLES[t_idx % len(_ROLES)],
                        "text": text,
                        "tool": rng.choice(_TOOLS),
                        "ts": base_ts + dt.timedelta(seconds=30 * t_idx),
                        "entity_true": e,
                    }
                )
    return pd.DataFrame(rows)


def generate_transcripts(
    spark: SparkSession,
    n_entities: int = 50,
    variants_per_entity: int = 4,
    turns_per_conv: int = 5,
    words_per_turn: int = 10,
    n_perturbations: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Spark DataFrame in the input-hint schema. The ground-truth entity of
    a row is the number its ``conv_id`` encodes."""
    pdf = generate_transcripts_pdf(
        n_entities,
        variants_per_entity,
        turns_per_conv,
        words_per_turn,
        n_perturbations,
        seed,
    )
    return spark.createDataFrame(pdf.drop(columns=["entity_true"]), schema=TRANSCRIPTS_SCHEMA)
