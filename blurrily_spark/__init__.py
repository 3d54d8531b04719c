"""blurrily_spark -- a PySpark-native record-linkage / fuzzy-matching engine.

Re-creates the query semantics of mezis/blurrily (trigram fuzzy matching:
put/find/delete over an inverted trigram index) as an idiomatic Spark
DataFrame pipeline, extended with batch blocking (pair generation),
pairwise scoring, and transitive clustering for entity resolution at
cluster scale.
"""

from blurrily_spark.config import LIMIT_DEFAULT, get_spark
from blurrily_spark.functions.tokenizer import (
    normalize,
    normalize_py,
    tokenize_py,
    trigrams_py,
)

__all__ = [
    "LIMIT_DEFAULT",
    "get_spark",
    "normalize",
    "normalize_py",
    "tokenize_py",
    "trigrams_py",
]

__version__ = "0.2.0"
