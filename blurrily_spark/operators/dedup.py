"""Deduplication operators for large-scale text corpora.

Beyond the reference's scope (blurrily only fuzzy-*finds*), these are the
dedup primitives a training-data pipeline needs, built on the same
normalize/shingle machinery:

* exact duplicates       -- hash-groupBy on normalized text;
* n-gram Jaccard         -- exact set similarity over word shingles;
* MinHash + LSH          -- the scale path: signature banding turns the
  quadratic all-pairs problem into an equi-join on band keys;
* SimHash                -- 62-bit fingerprints, near-dups via Hamming
  distance with chunk-exact-match blocking whose chunk count is derived
  from the Hamming threshold (lossless recall by pigeonhole).

All hot-path expressions are JVM-side (higher-order functions); ANSI mode
is respected -- MinHash permutations run in the Mersenne-prime modular
space (p = 2^31 - 1) so no multiplication can overflow int64. Sketch token
hashes default to the *portable* polynomial family
(:mod:`blurrily_spark.functions.hashing`) so every operator here is
bit-for-bit reproducible in the DuckDB oracle; pass ``hash_fn='fast'`` for
native ``xxhash64`` at production scale (identical semantics modulo the
hash family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from blurrily_spark.config import spread_small_input
from blurrily_spark.functions.hashing import (
    MERSENNE,
    POLY_BASE_A,
    POLY_BASE_B,
    hamming_chunks,
    poly_hash,
)
from blurrily_spark.functions.tokenizer import with_normalized
from blurrily_spark.operators.pairs import join_pair_ends, self_join_pairs

SIMHASH_BITS = 62  # 2 x 31-bit portable hashes; fits a positive int64
SHINGLE_WORDS = 3  # word n-gram of the exact Jaccard join and of MinHash
MINHASH_HASHES = 32  # signature length
MINHASH_BANDS = 8  # LSH bands of MINHASH_HASHES // MINHASH_BANDS rows each
NEAR_DUP_JACCARD = 0.5  # 3-gram Jaccard (exact, or MinHash-estimated) of a near-dup
SPAN_WORDS = 8  # rolling window of the span passes, in words
SIMHASH_MAX_HAMMING = 6  # fingerprint bits two SimHash near-dups may differ in


def _check_hash_fn(hash_fn: str, accepted: tuple[str, str]) -> None:
    """Refuse a ``hash_fn`` outside ``accepted`` (sites test only ``'fast'``)."""
    if hash_fn not in accepted:
        raise ValueError(f"hash_fn must be {accepted[0]!r} or {accepted[1]!r}, got {hash_fn!r}")


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized text: every row labeled with its canonical
    (minimum) id; ``is_dup`` marks rows that would be dropped.

    One shuffle (hash partition by normalized text); the window min is
    computed per normalized-text group. The partition key is prefixed
    with xxhash64(norm) so the shuffle's sort compares 8-byte hashes and
    falls back to the full string only on hash-equality -- same groups
    (hash AND text must match), far cheaper compares on long documents.
    """
    win = Window.partitionBy(F.xxhash64("_norm"), "_norm")
    return (
        with_normalized(spread_small_input(df), text_col, "_norm")
        .withColumn("canonical_id", F.min(id_col).over(win))
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
        .select(F.col(id_col), "canonical_id", "is_dup")
    )


def word_shingles(col, w: int = 3):
    """Sliding word w-grams over normalized text, as array<string>, in
    text order with repeats kept (callers dedupe where a set is meant).

    Pure SQL: split -> transform(sequence). Texts shorter than ``w`` words
    (NULL and empty included) yield the whole text as a single shingle.
    """
    words = F.split(col, " ")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - w, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, w)),
    )


def jaccard_join_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT threshold Jaccard self-join via prefix filtering: every pair
    whose sets of word 3-grams (:data:`SHINGLE_WORDS`) have Jaccard >=
    ``t`` = 0.5 (:data:`NEAR_DUP_JACCARD`), no misses, no approximation,
    without the all-pairs blowup (AllPairs / PPJoin family: Bayardo et
    al., WWW 2007; Xiao et al., WWW 2008).

    Why it is exact: ``J(A,B) >= t`` forces overlap ``o >= ceil(t*|A|)``
    (from ``o >= t(|A|+|B|-o)`` and ``|B| >= o``). Under any one global
    total order over shingles, two sets with overlap ``o`` must each
    contain a shared element among their first ``n - o + 1`` elements --
    so joining only each record's ``n - ceil(t*n) + 1``-element PREFIX
    finds a candidate for every qualifying pair. Prefixes are taken under
    ascending global document frequency (rarest shingles first, ties by
    shingle), which makes prefix postings lists short exactly where the
    corpus is dense -- the candidate count collapses on skewed corpora.
    A size filter (``t * max(n_a, n_b) <= min(n_a, n_b)``, necessary for
    ``J >= t``) prunes before the pair-dedup shuffle, and every candidate
    is verified with the exact jaccard (array_intersect on the full
    shingle arrays -- O(candidates), one JVM expression per pair).

    Float guards lean SOUND: the prefix-length ``ceil`` and the size
    filter both take an 1e-9 slack in the direction that only ADMITS more
    candidates; the final verification is the exact predicate.

    Scale shape: explode-prefix -> equi-join -> distinct pairs -> two
    array joins. The only data-dependent blowup is genuinely-similar
    mass; compare :func:`minhash_lsh_pairs` (approximate, constant-factor
    candidates). Equality with a brute all-pairs join is pinned in tests.

    Returns ``(id_a, id_b, inter, jaccard)``.
    """
    sh = (
        with_normalized(spread_small_input(df), text_col, "_norm")
        .select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col("_norm"), SHINGLE_WORDS)).alias("sh"),
        )
        .distinct()
    )
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    pos_win = Window.partitionBy("id").orderBy(F.col("_df").asc(), F.col("sh").asc())
    prefix_len = F.col("n_sh") - F.ceil(NEAR_DUP_JACCARD * F.col("n_sh") - 1e-9) + 1
    prefix = (
        sh.join(dfreq, "sh")
        .withColumn("_pos", F.row_number().over(pos_win))
        .join(counts, "id")
        .where(F.col("_pos") <= prefix_len)
        .select("id", "sh", "n_sh")
    )
    cand = (
        self_join_pairs(prefix, "sh", "id", ["n_sh"])
        # size filter: J >= t needs t*max <= min (slack admits, never drops)
        .where(
            F.least("n_sh_a", "n_sh_b") + F.lit(1e-9)
            >= NEAR_DUP_JACCARD * F.greatest("n_sh_a", "n_sh_b")
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    arrs = sh.groupBy("id").agg(F.sort_array(F.collect_set("sh")).alias("_arr"))
    return (
        join_pair_ends(cand, arrs, "id", ["_arr"])
        .withColumn("inter", F.size(F.array_intersect("_arr_a", "_arr_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("_arr_a") + F.size("_arr_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= NEAR_DUP_JACCARD)
        .select("id_a", "id_b", "inter", "jaccard")
    )


def _permutation_params() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs (seed 7) of the MINHASH_HASHES permutations."""
    import random

    rng = random.Random(7)
    return [
        (rng.randrange(1, MERSENNE - 1), rng.randrange(0, MERSENNE - 1))
        for _ in range(MINHASH_HASHES)
    ]


def _shingle_hash(s: Column, hash_fn: str) -> Column:
    """Hash of one shingle into [0, MERSENNE)."""
    _check_hash_fn(hash_fn, ("portable", "fast"))
    if hash_fn == "fast":
        return F.pmod(F.xxhash64(s), F.lit(MERSENNE))
    return poly_hash(s)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "portable",
) -> DataFrame:
    """MinHash signatures: (id, sig array<long> of length 32,
    :data:`MINHASH_HASHES`) over word 3-grams (:data:`SHINGLE_WORDS`).

    sig_j = min over shingles s of ((a_j * h(s) + b_j) mod p) with
    h(s) in [0, p) and (a_j, b_j) drawn with seed 7. Modular arithmetic
    keeps every product < 2^62 (ANSI-safe). All JVM-side: one hash per
    shingle, then one array_min(transform(...)) per signature position.
    """
    params = _permutation_params()
    base = with_normalized(spread_small_input(df), text_col, "_norm").select(
        F.col(id_col).alias("id"),
        F.transform(
            word_shingles(F.col("_norm"), SHINGLE_WORDS),
            lambda s: _shingle_hash(s, hash_fn),
        ).alias("_h"),
    )
    # One F.expr over a generated SQL string instead of MINHASH_HASHES * ~8
    # Column calls: each Column op is a py4j round-trip, and building the
    # 32-permutation array cost ~0.5s of DRIVER time per operator call --
    # paid per bench trial, not per row (guide §1.1: measure where the time
    # goes; here it was plan construction, not execution). Same expression
    # per element (pmod(a*h+b, p), a/b as bigint literals), identical values.
    sig = F.expr(
        "array(%s)"
        % ", ".join(
            f"array_min(transform(_h, h -> pmod({a}L * h + {b}L, {MERSENNE}L)))"
            for a, b in params
        )
    )
    return base.select("id", sig.alias("sig"))


def banded_signatures(sigs: DataFrame) -> DataFrame:
    """(id, sig) -> one row per band: (id, sig, band, bhash), 8 bands
    (:data:`MINHASH_BANDS`) of 4 signature positions.

    The band key is a 64-bit hash of the band's signature slice -- cheap to
    shuffle; joins must re-compare the actual slices afterwards (see
    :func:`_banded_candidates`).
    """
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            "_",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))


def _banded_candidates(joined: DataFrame) -> DataFrame:
    """The rows of a band-key join that really match: ``joined`` holds the
    matched ``band`` and the two signatures ``sig_a``/``sig_b``; a row is
    kept when the two slices of that band are equal, so a 64-bit band-hash
    collision can never fabricate a candidate (exact "some band equal"
    semantics, which is what the oracle checks). The join's other columns
    (the two ids) come out with ``est_jaccard``, the fraction of equal
    signature positions, in place of ``band``, ``bhash`` and the
    signatures -- computed BEFORE any downstream dedup, so dedup shuffles
    carry one double instead of two full signature arrays per row. One row
    per matching band occurrence: callers dedup or aggregate."""
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    band_start = F.col("band") * rows_per_band + 1
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    ) / F.lit(float(MINHASH_HASHES))
    return (
        joined.where(
            F.slice(F.col("sig_a"), band_start, F.lit(rows_per_band))
            == F.slice(F.col("sig_b"), band_start, F.lit(rows_per_band))
        )
        .select("*", est.alias("est_jaccard"))
        .drop("band", "bhash", "sig_a", "sig_b")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "portable",
) -> DataFrame:
    """Approximate near-dup candidate pairs via LSH banding (self-dedup).

    :func:`minhash_signatures` over word 3-grams (32 hashes) are cut into
    8 bands of 4 rows (:data:`MINHASH_BANDS`); a pair collides iff some
    band matches exactly. Returns
    ``(id_a, id_b, est_jaccard)`` where est_jaccard is the fraction of
    matching signature positions. The pair-generation join is a half-matrix
    self-join on (band, bhash) in the pair convention (``id_a < id_b``, so
    no document meets itself and a NULL id pairs with nothing) -- linear in
    colliding docs, never all-pairs; a pair sharing several bands is
    deduplicated after the band re-check.
    """
    banded = banded_signatures(minhash_signatures(df, id_col, text_col, hash_fn=hash_fn))
    return _banded_candidates(
        self_join_pairs(banded, ["band", "bhash"], "id", ["sig"])
    ).dropDuplicates(["id_a", "id_b"])


_INTEGRAL_ID_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_integral_id(df: DataFrame, id_col: str, op: str) -> None:
    """Keeper election / match painting run on long ids (the engine's ref
    type, SURVEY.md §7.2). A silent cast of e.g. UUID-string ids would
    turn every id NULL and let genuine duplicates pass unflagged, so
    non-integral id columns fail loudly here instead."""
    dtype = dict(df.dtypes).get(id_col)
    if dtype not in _INTEGRAL_ID_TYPES:
        raise ValueError(
            f"{op} requires an integral '{id_col}' column, got {dtype!r}; "
            "map string ids to longs first (e.g. F.xxhash64(id))"
        )


def near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "portable",
) -> DataFrame:
    """End-to-end near-duplicate corpus dedup -- the retained-corpus face
    of MinHash LSH: candidate pairs from banded signatures (32 hashes in
    8 bands, as in :func:`minhash_lsh_pairs`), filtered at ``est_jaccard
    >= 0.5`` (:data:`NEAR_DUP_JACCARD`), connected components over the
    resulting dup graph, smallest id per component elected canonical.

    Returns one row per input document: ``(id, keep_id, is_dup)``;
    ``WHERE is_dup = 0`` is the deduplicated corpus, ``keep_id`` maps every
    duplicate to its kept representative (transitively: a~b, b~c collapse
    into one cluster even if a~c never collided).

    Scale shape: the banding equi-join is linear in colliding docs (never
    all-pairs); CC iterates large-star/small-star over the dup graph only
    (tiny relative to the corpus); one final left join paints keepers back
    over the full corpus. Nothing is materialized on the driver.
    """
    from blurrily_spark.operators.cluster import assign_entities

    _require_integral_id(df, id_col, "near_dedup")
    pairs = minhash_lsh_pairs(df, id_col, text_col, hash_fn=hash_fn)
    edges = pairs.where(F.col("est_jaccard") >= NEAR_DUP_JACCARD).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return _keepers(assign_entities(df.select(id_col), edges, node_col=id_col))


def _keepers(entities: DataFrame) -> DataFrame:
    """``(id, keep_id, is_dup)`` of :func:`assign_entities` output: every
    record keeps its component's smallest id."""
    return entities.select(
        F.col("ref").alias("id"),
        F.col("entity_id").alias("keep_id"),
        (F.col("entity_id") != F.col("ref")).cast("int").alias("is_dup"),
    )


def near_dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "portable",
) -> DataFrame:
    """Cross-corpus near-dedup: flag documents of ``new_df`` that
    near-duplicate any document of ``ref_df`` (a fresh crawl against the
    retained training corpus), on the signatures of :func:`near_dedup`.

    Returns one row per new document:
    ``(id, matched_ref_id, est_jaccard, is_dup)`` where ``matched_ref_id``
    is the reference document with the highest estimated Jaccard >= 0.5
    (:data:`NEAR_DUP_JACCARD`; ties to the smallest ref id) and NULL /
    ``is_dup=0`` when nothing qualifies. The two corpora's id spaces are
    independent -- orientation is preserved, ids are never compared across
    sides.

    Scale shape: the banded equi-join new x ref is linear in band
    collisions, never |new| x |ref|; candidates are thresholded *before*
    any aggregation, and the best match is a single max(struct) aggregate
    -- duplicate band hits for one pair need no dedup shuffle, the max
    absorbs them.
    """
    def banded(df: DataFrame, name: str, s: str) -> DataFrame:
        _require_integral_id(df, id_col, "near_dedup_against")
        return banded_signatures(
            minhash_signatures(df, id_col, text_col, hash_fn=hash_fn)
        ).select(
            F.col("id").cast("long").alias(name), F.col("sig").alias(f"sig_{s}"), "band", "bhash"
        )

    joined = banded(new_df, "new_id", "a").join(
        banded(ref_df, "ref_id", "b"), ["band", "bhash"]
    )
    cand = _banded_candidates(joined).where(F.col("est_jaccard") >= NEAR_DUP_JACCARD)
    # min(struct(1-e, ref_id, e)): max est_jaccard, ties to the SMALLEST
    # ref id, via one partial-aggregating min -- no window (a row_number
    # would lose map-side combine) and no id negation (-ref_id raises
    # ARITHMETIC_OVERFLOW under ANSI mode when ref_id == Long.MIN_VALUE).
    # The inverted sort key 1-e is double arithmetic (never overflows);
    # the original est rides along as a payload field so the reported
    # value is exact, not a round-tripped 1-(1-e).
    best = (
        cand.groupBy("new_id")
        .agg(
            F.min(
                F.struct(
                    (F.lit(1.0) - F.col("est_jaccard")).alias("inv"),
                    F.col("ref_id").alias("rid"),
                    F.col("est_jaccard").alias("e"),
                )
            ).alias("b")
        )
        .select(
            F.col("new_id").alias("id"),
            F.col("b.rid").alias("matched_ref_id"),
            F.col("b.e").alias("est_jaccard"),
        )
    )
    ids = new_df.select(F.col(id_col).cast("long").alias("id"))
    return ids.join(best, "id", "left").select(
        "id",
        "matched_ref_id",
        "est_jaccard",
        F.col("matched_ref_id").isNotNull().cast("int").alias("is_dup"),
    )


def _span_occurrences(
    df: DataFrame, id_col: str, text_col: str, hash_fn: str, keep_win: bool
) -> DataFrame:
    """One row per window occurrence: ``(id, start_word[, win], _dup)``
    over rolling :data:`SPAN_WORDS`-word windows of the normalized text,
    one at every word. ``_dup`` is true iff the window occurs in two or more distinct
    documents (non-NULL ids, as ``count_distinct`` counts them).

    One pass: the windows are built once and the document count is a
    window over the window key -- ``dense_rank`` by id, then its ``max``
    per key -- so the occurrence stream is never re-read by a separate
    frequency aggregation and a join back; the plan stays lazy.
    """
    _check_hash_fn(hash_fn, ("exact", "fast"))
    d = with_normalized(spread_small_input(df), text_col, "_norm")
    # a short doc (fewer than SPAN_WORDS words) is one whole-text window
    occ = d.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(word_shingles(F.col("_norm"), SPAN_WORDS)).alias("start_word", "win"),
    )
    key = "win"
    if hash_fn == "fast":
        # a column, not a partitionBy expression: each of the two windows
        # would extract its own copy of the expression and shuffle again
        key = "_wk"
        occ = occ.withColumn(key, F.xxhash64("win"))
    by_key = Window.partitionBy(key)
    # NULL ids rank last and are left out, so max(_r) is the distinct
    # non-NULL id count of the key
    rank = F.dense_rank().over(by_key.orderBy(F.col("id").asc_nulls_last()))
    n_docs = F.coalesce(F.max("_r").over(by_key), F.lit(0))
    return occ.withColumn("_r", F.when(F.col("id").isNotNull(), rank)).select(
        "id",
        "start_word",
        *(["win"] if keep_win else []),
        (n_docs >= 2).alias("_dup"),
    )


def _one_null_id(op: str, doc_id: Column, n_docs: Column) -> Column:
    """Filter predicate that fails the query when two or more documents
    have a NULL id: the per-document rollups group by id, so they would be
    merged into one document."""
    return F.when(
        doc_id.isNull() & (n_docs > 1),
        F.raise_error(
            F.concat(
                F.lit(f"{op}: "),
                n_docs.cast("string"),
                F.lit(" documents have a NULL id; give each document its own id"),
            )
        ),
    ).otherwise(F.lit(True))


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "exact",
) -> DataFrame:
    """Span-level duplicate statistics: rolling 8-word windows
    (:data:`SPAN_WORDS`) over the normalized text; a window appearing
    verbatim in two or more distinct documents is a duplicated span.

    The DataFrame-expressible face of substring dedup (the suffix-array
    method of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022): fixed-length window fingerprints catch the
    same cross-document boilerplate/quotation spans that doc-level
    MinHash misses when the containing documents are otherwise different.
    Returns one row per document:
    ``(id, n_windows, n_dup_windows, dup_fraction)`` -- filter on
    ``dup_fraction`` to drop boilerplate-heavy docs, or feed spans to a
    cut-and-keep pass.

    Scale shape: the explode is ~n_words rows per document; one shuffle
    by window key flags duplicated windows (a window over the key, see
    :func:`_span_occurrences`) and one per-doc rollup counts them --
    equi-key shuffles over a single read of the input, never pairwise, and
    no job runs before the action. ``hash_fn='fast'`` shuffles 8-byte
    ``xxhash64`` window keys instead of the 8-word strings (the default
    'exact' keeps raw windows so the DuckDB oracle can reproduce the
    result bit-for-bit). Documents shorter than 8 words contribute
    their whole text as one window. At most one document may have a NULL
    id; with two or more the query fails.
    """
    occ = _span_occurrences(df, id_col, text_col, hash_fn, keep_win=False)
    return occ.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.col("_dup").cast("long")).alias("n_dup_windows"),
        # every document has exactly one window at word 0
        F.count_if(F.col("start_word") == 0).alias("_docs"),
    ).where(
        _one_null_id("duplicate_spans", F.col("id"), F.col("_docs"))
    ).select(
        "id",
        "n_windows",
        "n_dup_windows",
        F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias("dup_fraction"),
    )


def duplicate_span_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-span cut points for :func:`duplicate_spans` (round-3 verdict
    #7): one row per OCCURRENCE of a duplicated window --
    ``(id, start_word, win)`` with ``start_word`` the 0-based word offset
    of the window in the document's normalized text. This is the input a
    cut-and-keep pass needs to actually REMOVE duplicated spans
    (:func:`cut_duplicate_spans`), completing the Lee et al. ACL 2022
    substring-dedup story beyond per-doc statistics.

    Same scale shape as :func:`duplicate_spans`: explode (~n_words rows
    per doc), one shuffle by window key that flags duplicated windows,
    then a filter -- equi-key, never pairwise, lazy. The key is the raw
    window, so the DuckDB oracle reproduces rows bit-for-bit.
    """
    return (
        _span_occurrences(df, id_col, text_col, "exact", keep_win=True)
        .where("_dup")
        .drop("_dup")
    )


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "fast",
) -> DataFrame:
    """Cut-and-keep pass: remove every word covered by a duplicated
    8-word window (:data:`SPAN_WORDS`) and reassemble the remaining text
    in order.

    Returns one row per document id:
    ``(id, kept_text, n_words, n_kept_words)`` -- a fully-duplicated
    document keeps an empty string (the cross-doc boilerplate is gone;
    doc-level dedup would instead have dropped whole documents that also
    carried unique content). At most one document may have a NULL id;
    with two or more the query fails.

    Scale shape: duplicated occurrences (the one-pass flagging of
    :func:`duplicate_span_positions`, without the span text) -> covered
    word positions (explode of at most 8 per occurrence, deduped on
    (id, pos)) -> one outer join against the document's indexed words ->
    one per-doc aggregation that counts the words and rebuilds the text
    from the uncovered ones (sort_array over (pos, word) structs; bounded
    by the document length, which the input row already holds). No
    pairwise work anywhere, and no job before the action.
    """
    occ = _span_occurrences(df, id_col, text_col, hash_fn, keep_win=False)
    positions = occ.where("_dup")
    d = with_normalized(spread_small_input(df), text_col, "_norm")
    words = F.split(F.col("_norm"), " ")
    # outer: a NULL-text document keeps one row, with NULL pos and word
    wordpos = d.select(
        F.col(id_col).cast("long").alias("id"),
        F.size(words).cast("long").alias("_n_words"),
        F.posexplode_outer(words).alias("pos", "word"),
    )
    covered = positions.select(
        F.col("id").alias("_cid"),
        F.explode(
            F.sequence(F.col("start_word"), F.col("start_word") + F.lit(SPAN_WORDS - 1))
        ).alias("_cpos"),
    ).distinct()
    # null-safe id equality: a NULL-id document is still a document whose
    # words are cut and rebuilt (plain equality never matches NULL)
    marked = wordpos.join(
        covered,
        wordpos["id"].eqNullSafe(covered["_cid"]) & (wordpos["pos"] == covered["_cpos"]),
        "left",
    )
    kept = F.col("_cpos").isNull() & F.col("word").isNotNull()
    # every document has exactly one row at word 0, or one NULL-pos row
    first = F.coalesce(F.col("pos"), F.lit(0)) == 0
    return (
        # only kept words and one row per document reach the aggregation
        marked.where(kept | first)
        .groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.when(kept, F.struct("pos", "word")))),
                    lambda s: s["word"],
                ),
            ).alias("kept_text"),
            F.max("_n_words").alias("n_words"),
            F.count_if(kept).alias("n_kept_words"),
            F.count_if(first).alias("_docs"),
        )
        .where(_one_null_id("cut_duplicate_spans", F.col("id"), F.col("_docs")))
        .select("id", "kept_text", "n_words", "n_kept_words")
    )


def _token_hashes(df_tok: DataFrame, hash_fn: str) -> DataFrame:
    """Adds 62 bit sources: columns h1 (bits 0..30) and h2 (bits 31..61)."""
    _check_hash_fn(hash_fn, ("portable", "fast"))
    if hash_fn == "fast":
        h = F.xxhash64("tok")
        return df_tok.withColumn("h1", h.bitwiseAND(F.lit(MERSENNE))).withColumn(
            "h2", F.shiftright(h, 31).bitwiseAND(F.lit(MERSENNE))
        )
    return df_tok.withColumn("h1", poly_hash(F.col("tok"), POLY_BASE_A)).withColumn(
        "h2", poly_hash(F.col("tok"), POLY_BASE_B)
    )


SIMHASH_LANES = 3        # packed per-bit counters per int64 aggregate
SIMHASH_LANE_BITS = 21   # lane width; per-doc token count must be < 2^21


def simhash62(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "portable",
) -> DataFrame:
    """62-bit SimHash over normalized word tokens: (id, simhash long).

    bit_k(doc) = sign of sum over tokens of (+1 if bit k of hash(token)
    else -1), term-frequency weighted (duplicate tokens count again).
    62 bits = two independent 31-bit portable hashes, so the DuckDB oracle
    reproduces the fingerprint exactly.

    One aggregation pass, no Python -- and the 62 per-bit counters are
    PACKED three to an int64 lane (21 bits each), so the groupBy carries 22
    aggregate buffers instead of 62. The naive 62-sum formulation ran ~20x
    slower: Spark's aggregate-update path pays per-buffer overhead (and the
    62-buffer update is too wide for whole-stage codegen), so shrinking the
    buffer count is the whole win; the packed math is identical because
    sign(sum +-1) == (2 * count_of_ones > n). Lanes hold plain bit-counts
    (no sign), so a document overflows only past 2^21 - 1 = 2,097,151
    tokens; the fingerprint projection raises (F.raise_error, evaluated
    once per document) rather than silently corrupting past the bound.
    """
    toks = with_normalized(spread_small_input(df), text_col, "_norm").select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col("_norm"), " ")).alias("tok"),
    )
    toks = _token_hashes(toks, hash_fn)
    # The packed-lane aggregates and the 62-term fingerprint fold are built
    # as generated SQL strings (one F.expr each) instead of hundreds of
    # Column calls: every Column op is a py4j round-trip and the old
    # construction cost ~1.4s of driver time PER OPERATOR CALL -- larger
    # than the query's whole executor time at bench scale. Expressions are
    # term-for-term the same integer arithmetic, so fingerprints are
    # unchanged.
    n_packs = -(-SIMHASH_BITS // SIMHASH_LANES)
    aggs = []
    for j in range(n_packs):
        terms = []
        for i in range(SIMHASH_LANES):
            k = SIMHASH_LANES * j + i
            if k >= SIMHASH_BITS:
                break
            src, bit = ("h1", k) if k < 31 else ("h2", k - 31)
            terms.append(
                f"shiftleft(shiftright({src}, {bit}) & 1, {SIMHASH_LANE_BITS * i})"
            )
        aggs.append(F.expr("sum(%s)" % " + ".join(terms)).alias(f"p{j}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    agg = toks.groupBy("id").agg(*aggs)
    lane_mask = (1 << SIMHASH_LANE_BITS) - 1
    fp_terms = []
    for k in range(SIMHASH_BITS):
        j, i = divmod(k, SIMHASH_LANES)
        # bit = sign(sum over tokens of +-1) > 0  <=>  2 * ones > n
        fp_terms.append(
            f"shiftleft(CASE WHEN (shiftright(p{j}, {SIMHASH_LANE_BITS * i})"
            f" & {lane_mask}) * 2 > n THEN CAST(1 AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END, {k})"
        )
    fp = F.expr(" + ".join(fp_terms))  # disjoint bits: + == OR
    guard = F.when(
        F.col("n") >= F.lit(1 << SIMHASH_LANE_BITS),
        F.raise_error(
            F.lit(
                f"simhash62: document exceeds {(1 << SIMHASH_LANE_BITS) - 1} "
                "tokens (packed-lane counter bound)"
            )
        ).cast("long"),
    ).otherwise(fp)
    return agg.select("id", guard.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "portable",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= 6
    (:data:`SIMHASH_MAX_HAMMING`): exact recall.

    Blocking: the 62-bit fingerprint is split into 7 disjoint chunks; a
    pair within the threshold differs in at most 6 bits, so by pigeonhole
    at least one chunk matches exactly -- candidates come from 7
    equi-joins, never a cross join, with NO recall loss (the chunk count
    is derived from the threshold by :func:`hamming_chunks`).
    """
    chunks = simhash62(df, id_col, text_col, hash_fn).select(
        "id",
        "simhash",
        F.inline(hamming_chunks(F.col("simhash"), SIMHASH_MAX_HAMMING, SIMHASH_BITS)),
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("int")
    # Hamming filter BEFORE the pair dedup: bit_count is a pure function of
    # the joined row, and SimHash bits of same-language corpora are heavily
    # correlated, so chunk buckets are fat -- on the sf0.1 bench corpus the
    # chunk join emits 26.7M raw candidates that boil down to 100k
    # qualifying pairs. Deduplicating first shuffled all 26.7M (with both
    # fingerprints as payload) through the aggregate; filtering first cuts
    # that shuffle ~270x with an identical result set (measured 48s -> 10s).
    return (
        self_join_pairs(chunks, ["chunk", "ckey"], "id", ["simhash"])
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .dropDuplicates(["id_a", "id_b"])
    )
