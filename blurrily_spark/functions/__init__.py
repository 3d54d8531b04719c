from blurrily_spark.functions.tokenizer import (  # noqa: F401
    TRIGRAM_BASE,
    TRIGRAM_COUNT,
    normalize,
    normalize_py,
    padded,
    with_trigrams,
    tokenize_py,
    trigram_to_string,
    trigrams,
    trigrams_py,
)
