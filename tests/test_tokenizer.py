"""Tokenizer goldens from the reference spec suite (FIXTURES.md §5).

Every expectation cites the reference file:line it pins.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blurrily_spark.functions.tokenizer import (
    add_trigrams,
    normalize,
    normalize_py,
    tokenize_py,
    trigram_to_string,
    trigrams_py,
)

# (input, expected normalized) -- lib/blurrily/map.rb:40-47 + README.md:104-105
NORMALIZE_CASES = [
    ("london", "london"),
    ("London", "london"),
    ("Puy-de-Dôme", "puy de dome"),
    ("@€%é", "e"),  # spec/blurrily/map_spec.rb:55-59
    ("", ""),
    ("  a   b  ", "a b"),
    ("New York", "new york"),
    ("lonXdon", "lonxdon"),
    ("a1b2", "a b"),  # digits -> space
]

# (input, expected unique-trigram count) -- spec/blurrily/map_spec.rb:32-59
COUNT_CASES = [
    ("foobar", 7),
    ("", 1),
    ("@€%é", 2),
    ("london", 7),
    ("paris", 6),
    ("New York", 9),  # README.md:117-119
]


def test_normalize_py():
    for raw, expected in NORMALIZE_CASES:
        assert normalize_py(raw) == expected, raw


def test_trigrams_py_counts():
    for raw, n in COUNT_CASES:
        assert len(tokenize_py(raw)) == n, raw


def test_trigrams_py_new_york_strings():
    # README.md:117-119: **n *ne new ew* w*y *yo yor ork rk*
    got = {trigram_to_string(c) for c in tokenize_py("New York")}
    assert got == {"**n", "*ne", "new", "ew*", "w*y", "*yo", "yor", "ork", "rk*"}


def test_empty_string_is_star_star_star():
    assert tokenize_py("") == [0]
    assert trigram_to_string(0) == "***"


def test_diacritics_equivalence():
    # README.md:104-105: 'Puy-de-Dôme' tokenizes like 'puy de dome'
    assert tokenize_py("Puy-de-Dôme") == tokenize_py("puy de dome")


def test_spark_normalize_matches_python(spark):
    df = spark.createDataFrame([(s,) for s, _ in NORMALIZE_CASES], "raw string")
    got = df.select("raw", normalize("raw").alias("norm")).collect()
    for row in got:
        assert row["norm"] == normalize_py(row["raw"]), row["raw"]


def test_spark_trigrams_match_python(spark):
    inputs = [s for s, _ in NORMALIZE_CASES] + [s for s, _ in COUNT_CASES]
    df = spark.createDataFrame([(s,) for s in set(inputs)], "raw string")
    got = (
        add_trigrams(df.withColumn("norm", normalize("raw")), "norm", "tg")
        .select("raw", "norm", F.array_sort("tg").alias("tg"))
        .collect()
    )
    for row in got:
        assert row["tg"] == trigrams_py(row["norm"]), row["raw"]
        assert row["tg"] == tokenize_py(row["raw"]), row["raw"]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_spark_matches_python_on_random_strings(spark, seed):
    """Property: the staged SQL-expression path every operator runs
    (normalize, then add_trigrams) == the pure-Python golden model."""
    import random

    rng = random.Random(seed)
    # exercise every normalize branch: clean, ASCII, ICU NFKD
    alphabet = "abcdefghijklmnopqrstuvwxyz ABCDEFGH-123éüßçøñāĳﬁµ€λЖ中\t"
    samples = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(s,) for s in samples], "raw string")
    got = (
        add_trigrams(df.withColumn("norm", normalize("raw")), "norm", "tg")
        .select("raw", "norm", F.array_sort("tg").alias("tg"))
        .collect()
    )
    for row in got:
        assert row["norm"] == normalize_py(row["raw"]), repr(row["raw"])
        assert row["tg"] == trigrams_py(row["norm"]), repr(row["raw"])
        assert row["tg"] == tokenize_py(row["raw"]), repr(row["raw"])


def test_trigrams_py_deduplicates():
    # 'aaaa' -> padded '**aaaa*': windows **a *aa aaa aaa aa* -> 5 windows, 4 unique...
    # verify against explicit set computation
    norm = "aaaa"
    padded = "**aaaa*"
    expected = sorted(
        {
            sum(
                (28**i) * (ord(ch) - 96)
                for i, ch in enumerate(padded[k : k + 3])
                if "a" <= ch <= "z"
            )
            for k in range(len(norm) + 1)
        }
    )
    assert trigrams_py(norm) == expected


def test_with_normalized_matches_python(spark):
    from blurrily_spark.functions.tokenizer import with_normalized

    samples = [s for s, _ in NORMALIZE_CASES] + [
        "λambda Жук 中文 mixed", "çökmüş ÄÖÜ", "ĳsberg ﬁne", None,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "raw string")
    got = {r["raw"]: r["norm"] for r in with_normalized(df, "raw", "norm").collect()}
    assert len(got) == len(set(samples))
    for s in samples:
        assert got[s] == normalize_py(s), repr(s)


def test_multiline_clean_line_divergence(spark):
    """Documented intentional divergence (ADVICE r1): Ruby's clean-path
    regex /^([a-z ])+$/ (map.rb:41) anchors per LINE, so 'abc\n12' keeps
    its digits in the reference ('abc 12'); we anchor over the whole
    string, so the strip branch runs and digits fold to spaces ('abc').
    Normalized output is therefore always pure [a-z ], which keeps the
    base-28 encoding total. This test pins OUR contract so any future
    change is deliberate."""
    s = "abc\n12"
    assert normalize_py(s) == "abc"
    got = (
        spark.createDataFrame([(s,)], "t string")
        .select(normalize(F.col("t")).alias("n"))
        .first()["n"]
    )
    assert got == "abc"
    # the strip branch must also keep treating \n as whitespace-folding
    assert normalize_py("ab\ncd") == "ab cd"


# Mixed-script rows, one per branch and script family: Greek, CJK, a
# ligature, fullwidth, an emoji, mathematical Fraktur (non-BMP), Latin
# diacritics, plain ASCII, clean text and NULL.
MIXED_ROWS = [
    "Ωμέγα λόγος", "中文 text", "ﬁne ĳsberg", "ＦＵＬＬ width", "emoji 😀 ok",
    "𝔘𝔫𝔦 code", "Puy-de-Dôme", "Hello, World 42", "plain text", None,
]
MIXED_SCHEMA = "conv_id string, turn_idx int, text string"


def _optimized_plan(df) -> str:
    """Optimized logical plan (Python eval nodes and unions show here); a
    streaming plan is optimized directly, since it cannot be planned as a
    batch query."""
    qe = df._jdf.queryExecution()
    if df.isStreaming:
        optimizer = df.sparkSession._jsparkSession.sessionState().optimizer()
        return optimizer.execute(qe.analyzed()).toString()
    return qe.optimizedPlan().toString()


@pytest.mark.parametrize("kind", ["file", "computed", "streaming"])
def test_with_normalized_is_one_lazy_jvm_projection(spark, tmp_path, kind):
    """S1 is one JVM expression: for file-backed, computed and streaming
    mixed-script inputs the plan has no Python eval node and no union,
    construction launches no job, and streaming input stays streaming."""
    from blurrily_spark.config import spread_small_input
    from blurrily_spark.functions.tokenizer import with_normalized
    from blurrily_spark.operators.dedup import exact_duplicates
    from blurrily_spark.plans.pipeline import build_turns

    rows = [("c", i, t) for i, t in enumerate(MIXED_ROWS)]
    computed = spark.createDataFrame(rows, MIXED_SCHEMA)
    path = str(tmp_path / "mixed")
    computed.write.parquet(path)
    df = {
        "file": lambda: spark.read.schema(MIXED_SCHEMA).parquet(path),
        "computed": lambda: computed,
        "streaming": lambda: spark.readStream.schema(MIXED_SCHEMA).parquet(path),
    }[kind]()

    sc = spark.sparkContext
    group = f"with-normalized-{kind}"
    sc.setJobGroup(group, "construction only")
    try:
        built = [
            with_normalized(df, "text", "norm"),
            with_normalized(spread_small_input(df), "text", "norm"),
            build_turns(df),
            exact_duplicates(df, id_col="turn_idx", text_col="text"),
        ]
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        for out in built:
            plan = _optimized_plan(out)
            for node in ("ArrowEvalPython", "BatchEvalPython", "Union"):
                assert node not in plan, (node, plan)
            assert out.isStreaming == (kind == "streaming")
        if kind == "streaming":
            q = (
                built[0].writeStream.format("memory").queryName("mixed_norm")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
            rows = spark.table("mixed_norm").collect()
        else:
            rows = built[0].collect()
        got = {r["turn_idx"]: r["norm"] for r in rows}
        assert got == {i: normalize_py(t) for i, t in enumerate(MIXED_ROWS)}
        if kind != "streaming":
            # control: the group does see the action's jobs
            assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def test_normalize_matches_python_on_every_code_point(spark):
    """Exhaustive S1 parity: every code point U+0000-U+10FFFF except
    surrogates, alone and wrapped as ``a<cp>b``, plus NULL and ``''``.

    Pins the Unicode-version guard too: ICU4J decomposes U+1CCD6-U+1CCF9
    (Unicode 16) to ASCII where Python's unicodedata does not know them, so
    dropping the guard in :func:`normalize` fails this test on 36 rows.
    Mismatches are counted in Spark; only a sample is collected."""
    import pyarrow as pa

    raws: list[str | None] = [None, ""]
    for cp in range(0x110000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        ch = chr(cp)
        raws += [ch, f"a{ch}b"]
    table = pa.table(
        {
            "raw": pa.array(raws, pa.string()),
            "expected": pa.array([normalize_py(r) for r in raws], pa.string()),
        }
    )
    bad = (
        spark.createDataFrame(table)
        .withColumn("got", normalize("raw"))
        .where(~F.col("got").eqNullSafe(F.col("expected")))
    )
    n_bad = bad.count()
    assert n_bad == 0, (
        n_bad,
        [(ascii(r["raw"]), r["got"], r["expected"]) for r in bad.limit(10).collect()],
    )
