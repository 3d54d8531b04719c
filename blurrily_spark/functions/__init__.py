from blurrily_spark.functions.tokenizer import (  # noqa: F401
    TRIGRAM_BASE,
    TRIGRAM_COUNT,
    normalize,
    normalize_py,
    padded,
    tokenize_py,
    trigram_to_string,
    trigrams_py,
)
