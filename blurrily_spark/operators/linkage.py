"""Fellegi-Sunter probabilistic record linkage scoring.

The reference ranks candidates by raw shared-trigram count
(``ext/blurrily/storage.c:566`` sorts on matches/weight and stops there);
production entity resolution weighs *multiple* field comparisons by how
discriminating each one actually is. This module adds the classic
Fellegi-Sunter model (Fellegi & Sunter, JASA 1969; the parameterization
popularized by the open-source Splink project): every candidate pair gets
an agreement LEVEL per comparison field, each (field, level) carries an
m-probability (P(level | match)) and a u-probability (P(level | non-match)),
and the pair's match weight is the log2 Bayes factor

    weight = sum_k log2(m_k[level_k] / u_k[level_k])

with the posterior match probability

    P(match | levels) = prior * prod(m) / (prior * prod(m) + (1-prior) * prod(u)).

Scale shape: scoring is a single codegen'd projection over the candidate
pairs -- the per-level weights are *literals* baked into the plan
(``element_at`` on a literal array), so there is no join, no shuffle, and
no Python in the hot path. m/u estimation from labeled pairs is one tagged
explode + one groupBy (the corpus of pairs is scanned once regardless of
the number of fields), mirroring the repetition_stats pattern.

Determinism: the per-level log2 weights are computed ONCE in Python
(``math.log2``) and embedded as identical double literals in the Spark
plan and any SQL oracle; the posterior uses only products of those same
literals -- no transcendental functions execute inside either engine, so
results are bit-identical across engines before any rounding.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FS_PRIOR = 0.05  # prior match probability of a candidate pair


@dataclass(frozen=True)
class FieldModel:
    """One comparison field: ``level_col`` holds an int agreement level in
    ``[0, len(m))`` (higher = more agreement, by convention only); ``m[i]``
    and ``u[i]`` are P(level=i | match) / P(level=i | non-match)."""

    name: str
    level_col: str
    m: tuple
    u: tuple

    def __post_init__(self):
        if len(self.m) != len(self.u) or len(self.m) < 2:
            raise ValueError(
                f"field {self.name!r}: m and u need the same length >= 2, "
                f"got {len(self.m)}/{len(self.u)}"
            )
        for probs, tag in ((self.m, "m"), (self.u, "u")):
            if abs(sum(probs) - 1.0) > 1e-6:
                raise ValueError(f"field {self.name!r}: {tag} must sum to 1")
            if any(not (0.0 < p < 1.0) for p in probs):
                raise ValueError(
                    f"field {self.name!r}: {tag} probabilities must be in (0, 1) "
                    "(zero mass makes the Bayes factor degenerate -- smooth first)"
                )

    def log2_weights(self) -> list[float]:
        """Per-level log2(m/u), computed driver-side so both Spark and any
        SQL oracle consume the *same* double literals."""
        return [math.log2(mi / ui) for mi, ui in zip(self.m, self.u)]


def _pick(values: list[float], level: Column) -> Column:
    # element_at is 1-based; ANSI mode (Spark 4 default) raises on an
    # out-of-range level instead of silently returning null -- fail-loud.
    arr = F.array(*[F.lit(float(v)) for v in values])
    return F.element_at(arr, level.cast("int") + F.lit(1))


def fs_score(
    pairs: DataFrame,
    fields: list[FieldModel],
    weight_col: str = "match_weight",
    prob_col: str = "match_probability",
) -> DataFrame:
    """Append the Fellegi-Sunter match weight and posterior probability,
    at the prior :data:`FS_PRIOR`.

    ``pairs`` must already carry every field's ``level_col`` (int). The
    weight is the sum of per-level log2(m/u) literals in *field order*
    (fixed order => reproducible float sum); the posterior multiplies the
    raw m/u literals, so no pow/exp runs in the engine. Null levels
    propagate to null scores (callers decide whether absence of a
    comparison means "unknown" or should have been imputed upstream).
    """
    if not fields:
        raise ValueError("fs_score needs at least one FieldModel")
    weight = None
    bf_m = F.lit(FS_PRIOR)
    bf_u = F.lit(1.0 - FS_PRIOR)
    for f in fields:
        lvl = F.col(f.level_col)
        w = _pick(f.log2_weights(), lvl)
        weight = w if weight is None else weight + w
        bf_m = bf_m * _pick(list(f.m), lvl)
        bf_u = bf_u * _pick(list(f.u), lvl)
    return pairs.withColumn(weight_col, weight).withColumn(
        prob_col, bf_m / (bf_m + bf_u)
    )


# estimate_m_u: agreement levels per field and the Laplace pseudo-count
M_U_LEVELS = 3
M_U_SMOOTHING = 0.5


def estimate_m_u(
    labeled_pairs: DataFrame,
    level_cols: list[str],
    label_col: str = "is_match",
) -> DataFrame:
    """Estimate per-(field, level) m/u probabilities from labeled pairs.

    ``labeled_pairs`` carries one int level column per field plus a 0/1
    ``label_col``. Returns ``(field string, level int, m double, u double)``
    with add-0.5 (Laplace, :data:`M_U_SMOOTHING`) regularization over 3
    levels per field (:data:`M_U_LEVELS`, levels 0-2), so unseen levels
    never yield the zero probabilities :class:`FieldModel` rejects.

    One pass over the pairs: the level columns ride a single tagged explode
    (corpus scanned once however many fields there are), then one
    groupBy(field, level) with conditional counts -- all partial-aggregating
    equi-key shuffles. Supervised twin of the EM approach (Winkler 1988);
    with blocking in place, u can also be estimated from random non-matching
    pairs, which is just this function over a labeled random sample.
    """
    if not level_cols:
        raise ValueError("estimate_m_u needs at least one level column")
    tagged = labeled_pairs.select(
        F.col(label_col).cast("int").alias("_y"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("field"),
                        F.col(c).cast("int").alias("level"),
                    )
                    for c in level_cols
                ]
            )
        ).alias("_fl"),
    ).select("_y", "_fl.field", "_fl.level")

    counts = tagged.groupBy("field", "level").agg(
        F.sum("_y").alias("_cm"),
        F.sum(F.lit(1) - F.col("_y")).alias("_cu"),
    )
    universe = counts.groupBy("field").agg(
        F.sum("_cm").alias("_nm"), F.sum("_cu").alias("_nu")
    ).withColumn("_k", F.lit(M_U_LEVELS))
    # dense level grid so unseen levels get the smoothed floor
    grid = universe.select(
        "field", "_k", "_nm", "_nu", F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("level")
    )
    s = M_U_SMOOTHING
    out = (
        grid.join(counts, ["field", "level"], "left")
        .select(
            "field",
            "level",
            (
                (F.coalesce(F.col("_cm"), F.lit(0)) + F.lit(s))
                / (F.col("_nm") + F.lit(s) * F.col("_k"))
            ).alias("m"),
            (
                (F.coalesce(F.col("_cu"), F.lit(0)) + F.lit(s))
                / (F.col("_nu") + F.lit(s) * F.col("_k"))
            ).alias("u"),
        )
    )
    return out
