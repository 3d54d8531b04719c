"""Trigram tokenization pipeline (reference operators S1-S5).

Re-creates the observable semantics of mezis/blurrily's normalization and
trigram tokenizer as Spark SQL *expressions* (JVM-side, whole-stage codegen),
plus pure-Python twins used as the golden model and by the in-process Map.

Reference semantics (cited into /root/reference):

* S1 normalize  -- ``lib/blurrily/map.rb:40-47``: downcase; unless the result
  already matches ``/^([a-z ])+$/``: NFKD-decompose, strip non-ASCII bytes,
  replace every non-``[a-z]`` char with a space; always collapse whitespace
  runs to one space and strip both ends.
* S2 pad        -- ``ext/blurrily/tokeniser.c:65-70``: wrap as ``**<text>*``
  and turn inner spaces into ``*``.
* S3 window     -- ``ext/blurrily/tokeniser.c:72-75``: emit ``len(text)+1``
  sliding 3-char windows (empty string => 1 window ``***``).
* S4 encode     -- ``ext/blurrily/tokeniser.c:21-31``: base-28 positional
  code ``c0 + 28*c1 + 784*c2`` with ``*``/non-letter => 0, a..z => 1..26.
  Max code ``'zzz'`` = 21138, fits uint16.
* S5 dedup      -- ``ext/blurrily/tokeniser.c:93-118``: unique trigram codes
  (sortedness there is an implementation artifact; only set semantics are
  observable).

Design note (Spark-first): S1 is one JVM expression and S2-S5 are built-in
functions (``lower``/``regexp_replace``/``translate``/``transform``/
``sequence``/``array_distinct``), so the tokenizer runs inside whole-stage
codegen with no Python in any plan, for any script. The NFKD step, which
SQL has no built-in for, is ``reflect`` on ICU4J's ``Normalizer.decompose``
(icu4j ships with Spark), reached only by rows that are not ASCII after
lowering.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

TRIGRAM_BASE = 28  # ext/blurrily/tokeniser.h:22 (alphabet {*, a..z} = 28 symbols)
TRIGRAM_COUNT = TRIGRAM_BASE**3  # 21952 possible codes; ext/blurrily/storage.c:30

# lib/blurrily/map.rb:41 (note: `+` => empty string is NOT clean).
# Intentional divergence from a reference quirk: Ruby's /^([a-z ])+$/ anchors
# ^/$ per *line*, so a multiline needle with one fully-clean line skips the
# strip branch entirely and keeps digits/diacritics in the normalized output
# ("abc\n12" -> "abc 12"); the C tokenizer then encodes those bytes as
# 0-symbols. We anchor over the whole string: the strip branch runs whenever
# ANY character is outside [a-z ] ("abc\n12" -> "abc"). Deliberate -- the
# line-dependent leakage is an artifact no reference spec covers, and a
# guaranteed [a-z ] output alphabet is what makes the base-28 encoding total
# (tests/test_tokenizer.py::test_multiline_clean_line_divergence).
_CLEAN_RE = "^[a-z ]+$"
_ASCII_RE = "^[\\x00-\\x7F]*$"
# ICU4J 77 implements Unicode 16, Python 3.11's unicodedata Unicode 14. The
# only code points where that skew changes S1's output are Unicode 16's
# outlined A-Z and 0-9 (Symbols for Legacy Computing Supplement): ICU
# decomposes them to ASCII, Python leaves them unassigned and strips them.
# Deleting them before the decomposition gives 0 differences from
# normalize_py over every code point (tests/test_tokenizer.py).
_ICU_ONLY_RE = "[\\x{1CCD6}-\\x{1CCF9}]"


# ---------------------------------------------------------------------------
# Pure-Python reference implementation (golden model for tests + oracle gen).
# ---------------------------------------------------------------------------

def normalize_py(s: str | None) -> str | None:
    """Python twin of S1 (lib/blurrily/map.rb:40-47)."""
    if s is None:
        return None
    result = s.lower()
    if not re.fullmatch(r"[a-z ]+", result):
        decomposed = unicodedata.normalize("NFKD", result)
        decomposed = "".join(ch for ch in decomposed if ord(ch) < 128)
        result = re.sub(r"[^a-z]", " ", decomposed)
    return re.sub(r"\s+", " ", result).strip()


def trigrams_py(norm: str | None) -> list[int] | None:
    """Python twin of S2-S5 (ext/blurrily/tokeniser.c:65-118).

    Input must already be normalized. Returns the sorted unique trigram
    codes; ``''`` yields ``[0]`` (the ``***`` trigram).
    """
    if norm is None:
        return None
    padded = "**" + norm.replace(" ", "*") + "*"
    codes = set()
    for k in range(len(norm) + 1):
        code = 0
        for i in range(3):
            ch = padded[k + i]
            if "a" <= ch <= "z":
                code += (TRIGRAM_BASE**i) * (ord(ch) - 96)
        codes.add(code)
    return sorted(codes)


def tokenize_py(s: str | None) -> list[int] | None:
    """normalize + trigrams in one call (the reference's put/find prep)."""
    return trigrams_py(normalize_py(s))


# ---------------------------------------------------------------------------
# Spark SQL expression pipeline (the production path).
# ---------------------------------------------------------------------------

def normalize(col: Column | str) -> Column:
    """S1 as one Column expression (lib/blurrily/map.rb:40-47).

    After ``lower``, cheapest branch first:
      1. NULL                              -> NULL (``reflect`` would throw);
      2. already ``^[a-z ]+$``             -> unchanged (clean path);
      3. ASCII-only                        -> ``[^a-z] -> ' '`` (NFKD is the
         identity on ASCII);
      4. otherwise                         -> ICU NFKD, strip non-ASCII,
         ``[^a-z] -> ' '``.
    Whitespace collapse + trim always apply (map.rb:46).

    ``reflect`` is non-deterministic to Catalyst: keep the result in its own
    projection (not inside an aggregate) and filter on input columns before
    normalizing, or the filter no longer reaches the scan.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    nfkd = F.reflect(
        F.lit("com.ibm.icu.text.Normalizer"),
        F.lit("decompose"),
        F.regexp_replace(c, _ICU_ONLY_RE, ""),
        F.lit(True),  # compatibility decomposition: NFKD
    )
    base = (
        F.when(c.isNull(), F.lit(None))
        .when(c.rlike(_CLEAN_RE), c)
        .when(c.rlike(_ASCII_RE), F.regexp_replace(c, "[^a-z]", " "))
        .otherwise(
            F.regexp_replace(F.regexp_replace(nfkd, "[^\\x00-\\x7F]", ""), "[^a-z]", " ")
        )
    )
    return F.trim(F.regexp_replace(base, "\\s+", " "))


def with_normalized(df, text_col: str, out_col: str = "norm"):
    """``df`` plus ``out_col`` = :func:`normalize` of ``text_col``: one lazy
    projection, so it launches no Spark job and works on streaming input.
    Callers that tokenize a possibly tiny file-backed scan pass it through
    :func:`blurrily_spark.config.spread_small_input` first.
    """
    from blurrily_spark.config import tune_session

    tune_session(df.sparkSession)
    return df.withColumn(out_col, normalize(F.col(text_col)))


def _enc(ch: Column) -> Column:
    """S4 single-char code: a..z -> 1..26, anything else -> 0."""
    a = F.ascii(ch)
    return F.when((a >= 97) & (a <= 122), a - 96).otherwise(F.lit(0))


def padded(norm: Column | str) -> Column:
    """S2: ``**<text>*`` with spaces -> ``*`` (tokeniser.c:65-70)."""
    c = F.col(norm) if isinstance(norm, str) else norm
    return F.concat(F.lit("**"), F.translate(c, " ", "*"), F.lit("*"))


def codes_from_padded(p: Column | str) -> Column:
    """Per-character base-28 codes of the padded string, as array<int>."""
    c = F.col(p) if isinstance(p, str) else p
    return F.transform(F.split(c, ""), _enc)


def trigrams_from_codes(codes: Column | str, norm_len: Column) -> Column:
    """Windowed trigram codes from a *materialized* char-code array.

    Each lambda access is element_at (O(1)); the char codes are computed
    once per row by :func:`codes_from_padded`. This is the bulk/hot path.
    """
    cc = F.col(codes) if isinstance(codes, str) else codes

    def code(k: Column) -> Column:
        c0 = F.element_at(cc, k + F.lit(1))
        c1 = F.element_at(cc, k + F.lit(2))
        c2 = F.element_at(cc, k + F.lit(3))
        return (c0 + c1 * TRIGRAM_BASE + c2 * TRIGRAM_BASE * TRIGRAM_BASE).cast("int")

    return F.array_distinct(F.transform(F.sequence(F.lit(0), norm_len), code))


def add_trigrams(df, norm_col: str, out_col: str = "trigrams"):
    """Staged bulk tokenization over an existing normalized column.

    norm -> padded -> char codes -> windowed trigram codes, each as its own
    column so Catalyst keeps them materialized (the codes array is
    referenced three times per window, which blocks project-collapse
    re-inlining) and lambda bodies never recompute string expressions.
    """
    from blurrily_spark.config import tune_session

    tune_session(df.sparkSession)
    out = (
        df.withColumn("__pad", padded(F.col(norm_col)))
        .withColumn("__codes", codes_from_padded(F.col("__pad")))
        .withColumn(
            out_col, trigrams_from_codes(F.col("__codes"), F.length(F.col(norm_col)))
        )
    )
    return out.drop("__pad", "__codes")


def trigram_to_string(code: int) -> str:
    """Decode a trigram code back to its 3-char form (tokeniser.c:35-46)."""
    out = []
    for k in range(3):
        elem = code // (TRIGRAM_BASE**k) % TRIGRAM_BASE
        out.append("*" if elem == 0 else chr(ord("a") + elem - 1))
    return "".join(out)
