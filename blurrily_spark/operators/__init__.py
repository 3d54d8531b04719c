from blurrily_spark.operators.find import (  # noqa: F401
    find,
    find_idf,
    find_one,
    knn_join,
    mutual_knn_pairs,
)
from blurrily_spark.operators.index import (  # noqa: F401
    build_postings,
    delete_refs,
    prepare_needles,
    stats,
)
