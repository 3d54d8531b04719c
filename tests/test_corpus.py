"""Corpus-level analysis ops: decontamination, boilerplate n-grams, TF-IDF
(python-model equivalence + edge cases)."""

from __future__ import annotations

import math

import pytest

from blurrily_spark.functions.tokenizer import normalize_py
from blurrily_spark.operators.corpus import (
    CONTAMINATION_WORDS,
    frequent_ngrams,
    ngram_contamination,
    tfidf_top_terms,
)

TRAIN = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "pack my box with five dozen liquor jugs right now"),
    (3, "short doc"),  # < n words: whole text is the single gram
    (4, "the quick brown fox jumps over the lazy dog tonight again and again"),
]
# holdout leaks doc 1's text verbatim (prefix) and doc 3's whole text;
# doc 2 and the unique tail of doc 4 stay clean
HOLDOUT = [
    (100, "the quick brown fox jumps over the lazy dog"),
    (101, "short doc"),
    (102, "completely unrelated evaluation benchmark prompt text here okay"),
]


def _grams(text: str, n: int) -> set[str]:
    ws = normalize_py(text).split(" ")
    return {" ".join(ws[i : i + n]) for i in range(max(len(ws) - n, 0) + 1)}


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("hash_fn", ["exact", "fast"])
def test_contamination_matches_python_model(spark, hash_fn):
    n = CONTAMINATION_WORDS
    hold = set().union(*(_grams(t, n) for _, t in HOLDOUT))
    exp = {}
    for ref, t in TRAIN:
        g = _grams(t, n)
        hit = len(g & hold)
        exp[ref] = (len(g), hit, round(hit / len(g), 6), int(hit >= 1))
    got = {
        r["id"]: (
            r["n_grams"],
            r["n_contaminated"],
            r["contamination"],
            r["is_contaminated"],
        )
        for r in ngram_contamination(
            _df(spark, TRAIN), _df(spark, HOLDOUT), hash_fn=hash_fn
        ).collect()
    }
    assert got == exp
    # the crafted corpus exercises all three cases
    assert got[1][3] == 1 and got[3][3] == 1 and got[2][3] == 0


def test_frequent_ngrams_model(spark):
    n, k, min_df = 3, 50, 2  # FREQUENT_N, FREQUENT_K, FREQUENT_MIN_DF
    per_doc = [(ref, normalize_py(t).split(" ")) for ref, t in TRAIN]
    occ: dict[str, int] = {}
    docs: dict[str, set] = {}
    for ref, ws in per_doc:
        gl = [" ".join(ws[i : i + n]) for i in range(max(len(ws) - n, 0) + 1)]
        for g in gl:
            occ[g] = occ.get(g, 0) + 1
            docs.setdefault(g, set()).add(ref)
    exp = sorted(
        ((g, len(docs[g]), occ[g]) for g in occ if len(docs[g]) >= min_df),
        key=lambda x: (-x[1], -x[2], x[0]),
    )[:k]
    got = [
        (r["gram"], r["n_docs"], r["n_occurrences"])
        for r in frequent_ngrams(_df(spark, TRAIN)).collect()
    ]
    assert got == exp
    # the grams docs 1 and 4 share, in gram order at equal counts
    assert [g for g, _, _ in got] == sorted(_grams(TRAIN[0][1], n))


def test_tfidf_top_terms_model(spark):
    rows = [
        (1, "apple banana apple"),
        (2, "banana cherry"),
        (3, "cherry banana date"),
        (4, "banana fig grape kiwi"),
    ]
    got = tfidf_top_terms(_df(spark, rows)).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["id"], []).append(r)
    # doc 1: apple (tf=2, df=1) dominates; banana (df=4) scores ln(1)=0
    d1 = sorted(by_doc[1], key=lambda r: r["rank"])
    assert [r["term"] for r in d1] == ["apple", "banana"]
    assert d1[0]["tf"] == 2 and d1[0]["df_term"] == 1
    assert d1[0]["tfidf"] == pytest.approx(round(2 * math.log(4 / 1), 6))
    assert d1[1]["tfidf"] == 0.0
    # ties on tfidf break by term ASC -> deterministic ranks everywhere
    d2 = sorted(by_doc[2], key=lambda r: r["rank"])
    assert [r["term"] for r in d2] == ["cherry", "banana"]
    # doc 4 has four terms: the top 3 (TFIDF_K) keep the three ln(4) ties
    # in term order and cut banana
    d4 = sorted(by_doc[4], key=lambda r: r["rank"])
    assert [r["term"] for r in d4] == ["fig", "grape", "kiwi"]
    # every doc emits at most k rows with ranks 1..k
    assert all(len(v) <= 3 for v in by_doc.values())
    assert all([r["rank"] for r in sorted(v, key=lambda r: r["rank"])]
               == list(range(1, len(v) + 1)) for v in by_doc.values())


def test_tfidf_window_group_limit_plan(spark):
    """The per-doc top-k must push below the window sort
    (WindowGroupLimit), not rank the full term list and filter after."""
    rows = [(i, f"w{i} common word") for i in range(20)]
    plan = tfidf_top_terms(_df(spark, rows))._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


# -- deterministic sampling / splitting --------------------------------------

from blurrily_spark.operators.corpus import (  # noqa: E402
    _MINSTD,
    _MINSTD_MOD,
    SAMPLE_SEED,
    SPLIT_SEED,
    sample_corpus,
    split_corpus,
    split_thresholds,
)


def _lcg_py(key: int, seed: int) -> int:
    x = (key + seed) % _MINSTD_MOD
    x = x * _MINSTD % _MINSTD_MOD
    return x * _MINSTD % _MINSTD_MOD


def _keyed(spark, n=4000):
    return spark.range(n).selectExpr(
        "id AS doc_id", "concat('src', CAST(id % 4 AS STRING)) AS source"
    )


def test_sample_corpus_matches_python_model_exactly(spark):
    """The keep set is the EXACT pure-function set, not a statistical
    approximation -- and therefore identical across engines and runs."""
    df = _keyed(spark)
    every = {f"src{i}": 0.3 for i in range(4)}  # one rate over every stratum
    got = {r["doc_id"] for r in sample_corpus(df, every).collect()}
    thr = int(0.3 * _MINSTD_MOD)
    expected = {k for k in range(4000) if _lcg_py(k, SAMPLE_SEED) < thr}
    assert got == expected
    # unbiased enough at n=4000: rate within 2 points of the target
    assert abs(len(got) / 4000 - 0.3) < 0.02
    # the seed decorrelates the draw from the split's, which keys the same ids
    assert expected != {k for k in range(4000) if _lcg_py(k, SPLIT_SEED) < thr}


def test_sample_corpus_stratified_mixture(spark):
    df = _keyed(spark)
    mix = {"src0": 1.0, "src1": 0.5, "src2": 0.0}  # src3 absent -> dropped
    rows = sample_corpus(df, by=mix).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src.get("src0", ())) == 1000  # fraction 1.0 keeps all
    assert "src2" not in by_src and "src3" not in by_src
    thr = int(0.5 * _MINSTD_MOD)
    expected1 = {k for k in range(1, 4000, 4) if _lcg_py(k, SAMPLE_SEED) < thr}
    assert by_src["src1"] == expected1


def test_sample_corpus_validation(spark):
    df = _keyed(spark, 4)
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        sample_corpus(df, by={"src0": 1.5})
    with pytest.raises(ValueError, match="at least one stratum"):
        sample_corpus(df, by={})


def test_split_corpus_is_an_exact_disjoint_partition(spark):
    df = _keyed(spark)
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    rows = split_corpus(df, weights).collect()
    assert len(rows) == 4000  # exhaustive: every row labeled
    uppers, remainder = split_thresholds(weights)
    assert remainder == "test"

    def expected_label(k: int) -> str:
        u = _lcg_py(k, SPLIT_SEED)
        for name, upper in uppers:
            if u < upper:
                return name
        return remainder

    assert all(r["split"] == expected_label(r["doc_id"]) for r in rows)
    counts = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert abs(counts["train"] / 4000 - 0.8) < 0.02
    assert abs(counts["val"] / 4000 - 0.1) < 0.01
    # growth stability: the same keys keep their split in a larger corpus
    bigger = split_corpus(_keyed(spark, 8000), weights)
    small = {r["doc_id"]: r["split"] for r in rows}
    grown = {r["doc_id"]: r["split"] for r in bigger.collect() if r["doc_id"] < 4000}
    assert grown == small


def test_split_corpus_validation(spark):
    df = _keyed(spark, 4)
    with pytest.raises(ValueError, match="at least two"):
        split_corpus(df, {"train": 1.0})
    with pytest.raises(ValueError, match="non-negative"):
        split_corpus(df, {"a": -1.0, "b": 2.0})
    with pytest.raises(ValueError, match="positive sum"):
        split_corpus(df, {"a": 0.0, "b": 0.0})


def _lm_python(train_texts, doc_rows, k=1.0):
    """Reference add-k bigram LM: returns {id: (n_tokens, n_oov, avg_logp)}."""
    c1, c2 = {}, {}
    for t in train_texts:
        ws = [w for w in normalize_py(t).split(" ") if w]
        for i, w in enumerate(ws):
            c1[w] = c1.get(w, 0) + 1
            if i > 0:
                c2[(ws[i - 1], w)] = c2.get((ws[i - 1], w), 0) + 1
    n, v = sum(c1.values()), len(c1)
    out = {}
    for ref, t in doc_rows:
        ws = [w for w in normalize_py(t).split(" ") if w]
        if not ws:
            out[ref] = (0, 0, None)
            continue
        logps, oov = [], 0
        for i, w in enumerate(ws):
            if i == 0:
                cnum = c1.get(w, 0)
                logps.append(math.log((cnum + k) / (n + k * v)))
            else:
                cnum = c2.get((ws[i - 1], w), 0)
                logps.append(math.log((cnum + k) / (c1.get(ws[i - 1], 0) + k * v)))
            oov += cnum == 0
        out[ref] = (len(ws), oov, round(sum(logps) / len(logps), 6))
    return out


def test_lm_score_matches_python_model(spark):
    from blurrily_spark.operators.corpus import lm_score

    docs = TRAIN + [
        (5, "zzzqq unseen gibberish tokens xkcd florp"),  # OOV-dense
        (6, ""),  # empty -> n_tokens 0, NULL scores
        (7, "the quick brown fox"),  # fluent in-model prefix
    ]
    exp = _lm_python([t for _, t in TRAIN], docs)
    got = {
        r["id"]: (
            r["n_tokens"],
            r["n_oov"],
            None if r["avg_logp"] is None else round(r["avg_logp"], 6),
        )
        for r in lm_score(_df(spark, TRAIN), _df(spark, docs)).collect()
    }
    assert got == exp
    # sanity on the signal itself: fluent text scores above gibberish
    assert exp[7][2] > exp[5][2]
    # and perplexity is the documented monotone transform
    row = {
        r["id"]: r
        for r in lm_score(_df(spark, TRAIN), _df(spark, docs)).collect()
    }
    assert row[7]["perplexity"] == pytest.approx(math.exp(-row[7]["avg_logp"]))
    assert row[6]["perplexity"] is None
