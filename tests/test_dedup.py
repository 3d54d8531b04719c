"""near_dedup: end-to-end retained-corpus semantics (LSH -> CC -> keeper).

Exactness vs the DuckDB re-derivation is covered by the parametrized
entry-oracle gate (tests/test_entry_oracle.py::test_query_matches_oracle
[near_dedup]); this file pins the operator's semantics on crafted data."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from blurrily_spark.functions.hashing import hamming_chunks
from blurrily_spark.functions.tokenizer import with_normalized
from blurrily_spark.operators import dedup
from blurrily_spark.operators.corpus import ngram_contamination

BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong coffee behind the old stone bridge at dawn every single day"
)
UNIQUE = (
    "completely unrelated payload about spark physical plans adaptive "
    "execution shuffle partitions and broadcast joins in a columnar engine"
)


def _corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE[: int(len(BASE) * 0.9)]),   # near-dup of 1
        (3, BASE[: int(len(BASE) * 0.8)]),   # near-dup of 1 and 2
        (4, UNIQUE),                          # singleton
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dedup_clusters_and_keepers(spark):
    out = {r["id"]: r for r in dedup.near_dedup(_corpus(spark)).collect()}
    assert set(out) == {1, 2, 3, 4}
    # the whole near-dup chain collapses onto the smallest id
    assert out[1]["keep_id"] == 1 and out[1]["is_dup"] == 0
    assert out[2]["keep_id"] == 1 and out[2]["is_dup"] == 1
    assert out[3]["keep_id"] == 1 and out[3]["is_dup"] == 1
    # singletons keep themselves
    assert out[4]["keep_id"] == 4 and out[4]["is_dup"] == 0


def test_near_dedup_retained_corpus(spark):
    docs = _corpus(spark)
    flags = dedup.near_dedup(docs)
    kept = docs.join(
        flags.where("is_dup = 0").withColumnRenamed("id", "doc_id").select("doc_id"),
        "doc_id",
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4]


def test_near_dedup_cuts_candidates_at_the_near_dup_jaccard(spark):
    """Against a Python union-find over the operator's own LSH pairs: only
    candidates estimated at NEAR_DUP_JACCARD or above join a cluster, and
    the corpus holds a colliding pair below the cut, so the cut shows."""
    words = BASE.split(" ")
    rows = [
        (1, BASE),
        (2, BASE[: int(len(BASE) * 0.9)]),
        # BASE's first 15 words and UNIQUE's first 8: collides with 1 and 2
        # on a band, at estimates below the cut
        (3, " ".join(words[:15] + UNIQUE.split(" ")[:8])),
        (4, UNIQUE),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = [
        (r["id_a"], r["id_b"], r["est_jaccard"]) for r in dedup.minhash_lsh_pairs(df).collect()
    ]
    assert {(a, b) for a, b, e in pairs if e < dedup.NEAR_DUP_JACCARD} == {(1, 3), (2, 3)}
    keep = {i: i for i, _ in rows}
    for a, b, e in sorted(pairs):
        if e >= dedup.NEAR_DUP_JACCARD:
            ka, kb = keep[a], keep[b]
            keep = {i: min(ka, kb) if k in (ka, kb) else k for i, k in keep.items()}
    got = {r["id"]: (r["keep_id"], r["is_dup"]) for r in dedup.near_dedup(df).collect()}
    assert got == {i: (k, int(k != i)) for i, k in keep.items()}
    assert got[3] == (3, 0)  # its two candidates fall below the cut


def test_duplicate_spans_flags_shared_windows(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # exactly SPAN_WORDS
    rows = [
        (1, shared + " unique tail one here now"),
        (2, "different head words go here " + shared),
        (3, "totally disjoint text with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in dedup.duplicate_spans(df).collect()}
    # docs 1 and 2 share the 8-word window; doc 3 shares nothing
    assert out[1]["n_dup_windows"] >= 1 and out[2]["n_dup_windows"] >= 1
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_fraction"] == 0.0
    # window count: n_words - SPAN_WORDS + 1 (doc 3 has 9 words)
    assert out[3]["n_windows"] == 9 - dedup.SPAN_WORDS + 1


def test_duplicate_spans_short_doc_is_one_window(spark):
    rows = [(1, "tiny doc"), (2, "tiny doc"), (3, "other short")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in dedup.duplicate_spans(df).collect()}
    assert out[1]["n_windows"] == 1 and out[1]["dup_fraction"] == 1.0
    assert out[2]["dup_fraction"] == 1.0
    assert out[3]["n_dup_windows"] == 0


def test_duplicate_spans_fast_hash_matches_exact(spark):
    rows = [
        (i, f"prefix {i} the quick brown fox jumps over the lazy dog suffix {i}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = sorted(tuple(r) for r in dedup.duplicate_spans(df).collect())
    fast = sorted(tuple(r) for r in dedup.duplicate_spans(df, hash_fn="fast").collect())
    assert exact == fast
    assert any(r[2] for r in exact)  # some window is duplicated


def test_near_dedup_against_matches_and_orientation(spark):
    ref = spark.createDataFrame([(10, BASE), (11, UNIQUE)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (1, BASE[: int(len(BASE) * 0.9)]),  # near-dup of ref 10
            (2, "entirely fresh content about nothing previously retained ever"),
            (10, UNIQUE),                        # id collides with ref 10, text = ref 11
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in dedup.near_dedup_against(new, ref).collect()}
    assert out[1]["is_dup"] == 1 and out[1]["matched_ref_id"] == 10
    assert out[2]["is_dup"] == 0 and out[2]["matched_ref_id"] is None
    # id equality across corpora must not suppress a genuine text match
    assert out[10]["is_dup"] == 1 and out[10]["matched_ref_id"] == 11


def test_near_dedup_against_tie_breaks_to_smallest_ref(spark):
    # two identical reference docs: the match must pick the smaller id
    ref = spark.createDataFrame([(21, BASE), (20, BASE)], "doc_id long, text string")
    new = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    row = dedup.near_dedup_against(new, ref).collect()[0]
    assert row["matched_ref_id"] == 20 and row["est_jaccard"] == 1.0


def test_minhash_lsh_pairs_follow_the_pair_convention(spark):
    """Against a Python model over the operator's own signatures: every
    pair that matches on some band comes out once, ``id_a < id_b``, with
    the fraction of equal signature positions; identical documents share
    all 8 bands, and a NULL id pairs with nothing, not even its twin."""
    import itertools

    rows = [
        (3, BASE), (1, BASE), (2, BASE),              # identical
        (4, BASE[: int(len(BASE) * 0.9)]),
        (5, UNIQUE), (6, UNIQUE),
        (None, BASE), (7, "short unrelated words about nothing at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    num_hashes, bands = 32, 8
    sigs = {r["id"]: r["sig"] for r in dedup.minhash_signatures(df).collect()}
    rpb = num_hashes // bands
    expected = {}
    for a, b in itertools.combinations(sorted(i for i in sigs if i is not None), 2):
        sa, sb = sigs[a], sigs[b]
        if any(sa[k * rpb:(k + 1) * rpb] == sb[k * rpb:(k + 1) * rpb] for k in range(bands)):
            expected[(a, b)] = sum(x == y for x, y in zip(sa, sb)) / num_hashes
    got = [(r["id_a"], r["id_b"], r["est_jaccard"]) for r in dedup.minhash_lsh_pairs(df).collect()]
    assert len({(a, b) for a, b, _ in got}) == len(got)  # once per pair
    assert all(a is not None and b is not None and a < b for a, b, _ in got)
    assert {(a, b): e for a, b, e in got} == expected
    assert {(1, 2), (1, 3), (2, 3), (5, 6)} <= expected.keys()


def test_simhash_near_dups_refuses_max_hamming_outside_the_fingerprint(spark):
    # the chunker of simhash_near_dups, at the fingerprint's width
    with pytest.raises(ValueError, match=r"max_hamming must be in \[0, 62\), got 62"):
        hamming_chunks(F.col("simhash"), 62, dedup.SIMHASH_BITS)


@pytest.mark.parametrize(
    "op, accepted",
    [
        (lambda df: dedup.minhash_signatures(df, hash_fn="exact"), "'portable' or 'fast'"),
        (lambda df: dedup.simhash62(df, hash_fn="xxhash"), "'portable' or 'fast'"),
        (lambda df: dedup.duplicate_spans(df, hash_fn="xxhash"), "'exact' or 'fast'"),
        (lambda df: dedup.cut_duplicate_spans(df, hash_fn="portable"), "'exact' or 'fast'"),
        (lambda df: ngram_contamination(df, df, hash_fn="portable"), "'exact' or 'fast'"),
    ],
    ids=["minhash", "simhash", "duplicate_spans", "cut_duplicate_spans", "ngram_contamination"],
)
def test_unknown_hash_fn_is_refused(spark, op, accepted):
    """Each site tests ``hash_fn == 'fast'`` only, so any string outside
    the operator's two families is refused, naming the two."""
    with pytest.raises(ValueError, match=f"hash_fn must be {accepted}, got"):
        op(_corpus(spark))


def test_near_dedup_rejects_string_ids(spark):
    df = spark.createDataFrame([("a", BASE)], "doc_id string, text string")
    import pytest

    with pytest.raises(ValueError, match="integral 'doc_id'"):
        dedup.near_dedup(df)
    with pytest.raises(ValueError, match="integral 'doc_id'"):
        dedup.near_dedup_against(df, df)


def test_duplicate_spans_randomized_python_oracle(spark):
    """Seeded random corpora vs an independent pure-Python recomputation.

    Inputs are pre-normalized (lowercase ASCII words), so normalization is
    the identity and the Python oracle only has to replicate the window
    semantics: positional SPAN_WORDS-windows (whole text when shorter), a
    window is dup iff it appears verbatim in >= 2 distinct docs."""
    import random

    docs = _planted_span_docs(random.Random(99), range(40))
    w = dedup.SPAN_WORDS

    def windows(ws):
        if len(ws) < w:
            return [" ".join(ws)]
        return [" ".join(ws[i : i + w]) for i in range(len(ws) - w + 1)]

    per_doc = {i: windows(ws) for i, ws in docs.items()}
    from collections import Counter

    df_count = Counter()
    for i, wins in per_doc.items():
        for win in set(wins):
            df_count[win] += 1
    expected = {
        i: (len(wins), sum(1 for win in wins if df_count[win] >= 2))
        for i, wins in per_doc.items()
    }

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs.items()], "doc_id long, text string"
    )
    got = {
        r["id"]: (r["n_windows"], r["n_dup_windows"])
        for r in dedup.duplicate_spans(df, hash_fn="fast").collect()
    }
    assert got == expected
    assert sum(d for _, d in got.values()) > 0  # the planted phrases show


def _planted_span_docs(rng, ids) -> dict:
    """Seeded word lists, one per id: random words around, in most
    documents, one of three shared 10-word phrases, so windows of
    :data:`dedup.SPAN_WORDS` words repeat across documents. The vocabulary
    is alphabetic-only, as S1 normalization strips digits (base-28
    alphabet is a-z + space), which would collapse tok0/tok1/... to
    'tok'; some documents are shorter than a window."""
    vocab = [f"tok{chr(97 + i)}" for i in range(12)]  # toka..tokl
    phrases = [[rng.choice(vocab) for _ in range(10)] for _ in range(3)]
    docs = {}
    for i in ids:
        ws = [rng.choice(vocab) for _ in range(rng.randint(2, 14))]
        if rng.random() < 0.6:
            at = rng.randint(0, len(ws))
            ws[at:at] = rng.choice(phrases)
        docs[i] = ws
    return docs


def test_near_dedup_randomized_planted_groups(spark):
    """Planted duplicate groups vs a pure-Python expectation.

    Each base document draws from its OWN disjoint vocabulary slice, so
    documents of different groups share zero shingles (est_jaccard = 0)
    while exact copies share all of them (est_jaccard = 1) -- the expected
    clustering is exactly text-equality, independent of hash internals."""
    import random

    rng = random.Random(7)
    rows, next_id = [], 0
    expected_keeper = {}
    for g in range(8):
        vocab = [f"w{chr(97 + g)}{chr(97 + j)}" for j in range(8)]  # group-private
        text = " ".join(rng.choice(vocab) for _ in range(25))
        n_copies = rng.randint(1, 4)
        ids = list(range(next_id, next_id + n_copies))
        next_id += n_copies
        for i in ids:
            rows.append((i, text))
            expected_keeper[i] = min(ids)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in dedup.near_dedup(df).collect()}
    assert {i: r["keep_id"] for i, r in got.items()} == expected_keeper
    for i, r in got.items():
        assert r["is_dup"] == (1 if expected_keeper[i] != i else 0)


def _span_oracle(texts: dict[int, str]):
    """Pure-Python oracle: windows per doc (with offsets), dup-window set
    (windows in two or more documents),
    covered positions, kept text and per-doc ``(n_windows,
    n_dup_windows)`` -- mirrors normalize + clamp rules. A ``None`` id
    has windows but, as in ``count_distinct``, counts as no document."""
    from blurrily_spark.functions.tokenizer import normalize_py

    w = dedup.SPAN_WORDS
    wins: dict[int, list[tuple[int, str]]] = {}
    for i, t in texts.items():
        ws = normalize_py(t).split(" ")
        n = len(ws)
        starts = list(range(max(n - w, 0) + 1))
        wins[i] = [(s, " ".join(ws[s : s + w])) for s in starts]
    from collections import Counter

    docs_per_win = Counter()
    for i, lst in wins.items():
        for win in {win for _, win in lst} if i is not None else ():
            docs_per_win[win] += 1
    dup = {win for win, c in docs_per_win.items() if c >= 2}
    positions = {
        (i, s, win) for i, lst in wins.items() for (s, win) in lst if win in dup
    }
    kept = {}
    for i, t in texts.items():
        ws = normalize_py(t).split(" ")
        covered = set()
        for (j, s, win) in positions:
            if j == i:
                covered.update(range(s, min(s + w, len(ws))))
        kept_words = [wd for p, wd in enumerate(ws) if p not in covered]
        kept[i] = (" ".join(kept_words), len(ws), len(kept_words))
    stats = {i: (len(lst), sum(win in dup for _, win in lst)) for i, lst in wins.items()}
    return positions, kept, stats


def test_span_positions_and_cut_golden(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    texts = {
        1: f"one unique prefix here {shared} and a unique tail one",
        2: f"totally different opener {shared} closing words differ two",
        3: "no overlap with anyone at all in this document text",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    exp_pos, exp_kept, _ = _span_oracle(texts)
    got_pos = {
        (r["id"], r["start_word"], r["win"])
        for r in dedup.duplicate_span_positions(df).collect()
    }
    assert got_pos == exp_pos
    assert any(r[0] == 1 for r in got_pos) and any(r[0] == 2 for r in got_pos)
    got_kept = {
        r["id"]: (r["kept_text"], r["n_words"], r["n_kept_words"])
        for r in dedup.cut_duplicate_spans(df, hash_fn="exact").collect()
    }
    assert got_kept == exp_kept
    assert got_kept[3][2] == got_kept[3][1]  # doc 3 untouched: nothing cut


def test_span_cut_randomized_python_oracle(spark):
    import random

    rng = random.Random(41)
    for trial in range(3):
        docs = _planted_span_docs(rng, [*range(14), None])
        texts = {i: " ".join(ws) for i, ws in docs.items()}
        df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        exp_pos, exp_kept, exp_stats = _span_oracle(texts)
        assert exp_pos, f"trial {trial}: no duplicated span planted"
        got_stats = {
            r["id"]: (r["n_windows"], r["n_dup_windows"])
            for r in dedup.duplicate_spans(df).collect()
        }
        assert got_stats == exp_stats, f"stats mismatch (trial {trial})"
        got_pos = {
            (r["id"], r["start_word"], r["win"])
            for r in dedup.duplicate_span_positions(df).collect()
        }
        assert got_pos == exp_pos, f"positions mismatch (trial {trial})"
        got_kept = {
            r["id"]: (r["kept_text"], r["n_words"], r["n_kept_words"])
            for r in dedup.cut_duplicate_spans(df, hash_fn="fast").collect()
        }
        assert got_kept == exp_kept, f"kept-text mismatch (trial {trial})"

    # one NULL id is a document of its own (the None key above); two would
    # fall into one id group and merge, so both rollups fail instead
    two_null = spark.createDataFrame(
        [(None, "p q r"), (None, "s t u v")], "doc_id long, text string"
    )
    for op in (dedup.duplicate_spans, dedup.cut_duplicate_spans):
        with pytest.raises(SparkRuntimeException, match="2 documents have a NULL id"):
            op(two_null).collect()


def test_fully_duplicated_doc_cuts_to_empty(spark):
    same = "exact same words in both documents for the whole text body"
    df = spark.createDataFrame([(1, same), (2, same)], "doc_id long, text string")
    got = {r["id"]: r for r in dedup.cut_duplicate_spans(df).collect()}
    assert got[1]["kept_text"] == "" and got[1]["n_kept_words"] == 0
    assert got[2]["kept_text"] == "" and got[2]["n_words"] > 0


def _brute_jaccard_pairs(df):
    """All-pairs exact shingle-set Jaccard at or above
    :data:`dedup.NEAR_DUP_JACCARD`: explode distinct shingles,
    self-join on the shingle, count intersections, divide by the union.
    Quadratic; only a reference for :func:`dedup.jaccard_join_exact`."""
    sh = (
        with_normalized(df, "text", "_norm")
        .select(
            F.col("doc_id").alias("id"),
            F.explode(dedup.word_shingles(F.col("_norm"), dedup.SHINGLE_WORDS)).alias("sh"),
        )
        .distinct()
    )
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.select(F.col("id").alias("id_a"), "sh")
        .join(sh.select(F.col("id").alias("id_b"), "sh"), "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= dedup.NEAR_DUP_JACCARD)
        .select("id_a", "id_b", "inter", "jaccard")
    )


def test_jaccard_join_exact_equals_brute(spark):
    """Prefix filtering is an exact method: on a seeded random corpus
    (injected near-dups truncated to 30-90% of their source, so their
    Jaccard falls on both sides of the cut), the prefix-filtered join must
    return the IDENTICAL pair set, intersections, and jaccard values as
    the brute all-pairs baseline."""
    import random

    rng = random.Random(13)
    # alphabetic-only: normalization strips digits, so w0..w29 would all be "w"
    vocab = [f"w{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(30)]
    rows = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(2, 25))]
        rows.append((i, " ".join(words)))
        if i % 2 == 0:  # a truncated near-duplicate
            keep = max(2, int(len(words) * rng.uniform(0.3, 0.9)))
            rows.append((100 + i, " ".join(words[:keep])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    brute = sorted(
        (r["id_a"], r["id_b"], r["inter"], round(r["jaccard"], 9))
        for r in _brute_jaccard_pairs(df).collect()
    )
    fast = sorted(
        (r["id_a"], r["id_b"], r["inter"], round(r["jaccard"], 9))
        for r in dedup.jaccard_join_exact(df).collect()
    )
    assert fast == brute
    assert any(j < 1.0 for *_, j in brute), "degenerate test (no partial overlap kept)"
