"""Engine-portable phonetic blocking key (Soundex-class).

Classic entity-resolution blocking groups records by a phonetic code of a
name token (Odell & Russell's Soundex coding, the standard first blocking
key in the record-linkage literature) so spelling variants of the same
name land in the same block. This module defines ONE key function twice --
:func:`phonetic_key` as a Spark Column expression and
:func:`phonetic_key_sql` as the literally-equivalent SQL fragment -- in
the same single-source-of-truth style as ``operators/corpus.py``'s LCG
sampler: the semantics are whatever the shared construction says, so both
engines agree bit-for-bit by construction.

The coding is the Soundex consonant-class table (b f p v -> 1,
c g j k q s x z -> 2, d t -> 3, l -> 4, m n -> 5, r -> 6, vowels and
h w y -> 0). Adjacent equal codes collapse (so ``pf`` codes once), the
first letter is kept literally, zeros drop, and the digit tail pads to
three. One documented divergence from archival Soundex: codes separated
by ``h``/``w`` do NOT merge (h/w class with the vowels), because the
run-collapse is expressed as per-digit ``'d{2,}' -> 'd'`` regex passes --
the portable construction (RE2 engines such as DuckDB's reject
backreference patterns like ``(\\d)\\1+``, so the collapse must not need
them). Blocking quality is indistinguishable in practice and the key is
deterministic everywhere.

The expression is pure string codegen (lower/translate/regexp/rpad): no
UDF, no shuffle -- a projection over the scan, like the trigram
tokenizer's normalize (functions/tokenizer.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: letter -> Soundex class, aligned with ``abcdefghijklmnopqrstuvwxyz``.
PHONE_SRC = "abcdefghijklmnopqrstuvwxyz"
PHONE_DST = "01230120022455012623010202"

_MAX_LEN = 2_147_483_647


def phonetic_key(col: Column) -> Column:
    """Phonetic blocking key of a name-ish string: ``'P236'`` for
    ``'Pfister'``; NULL for NULL or letter-free input."""
    s = F.regexp_replace(F.lower(col), "[^a-z]", "")
    codes = F.translate(s, PHONE_SRC, PHONE_DST)
    for d in "0123456":
        codes = F.regexp_replace(codes, d + "{2,}", d)
    digits = F.regexp_replace(F.substring(codes, 2, _MAX_LEN), "0", "")
    return F.when(
        F.length(s) > 0,
        F.concat(
            F.upper(F.substring(s, 1, 1)),
            F.rpad(F.substring(digits, 1, 3), 3, "0"),
        ),
    )


def phonetic_key_sql(col: str) -> str:
    """The identical key as a SQL fragment (DuckDB/ANSI dialect: global
    ``regexp_replace`` via the ``'g'`` flag, ``||`` concat)."""
    s = f"regexp_replace(lower({col}), '[^a-z]', '', 'g')"
    x = f"translate({s}, '{PHONE_SRC}', '{PHONE_DST}')"
    for d in "0123456":
        x = f"regexp_replace({x}, '{d}{{2,}}', '{d}', 'g')"
    digits = f"regexp_replace(substr({x}, 2), '0', '', 'g')"
    return (
        f"CASE WHEN length({s}) > 0 THEN "
        f"upper(substr({s}, 1, 1)) || rpad(substr({digits}, 1, 3), 3, '0') "
        f"END"
    )


def phonetic_key_py(text: str | None) -> str | None:
    """Python reference model (tests)."""
    if text is None:
        return None
    s = "".join(ch for ch in text.lower() if "a" <= ch <= "z")
    if not s:
        return None
    codes = "".join(PHONE_DST[ord(ch) - ord("a")] for ch in s)
    out = []
    for ch in codes:
        if not out or out[-1] != ch:
            out.append(ch)
    digits = "".join(ch for ch in out[1:] if ch != "0")
    return s[0].upper() + (digits[:3] + "000")[:3]
