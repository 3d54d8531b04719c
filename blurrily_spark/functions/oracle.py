"""DuckDB oracle SQL fragments mirroring the Spark operators.

These templates re-express the engine's semantics in ANSI-ish SQL that
DuckDB runs over the same parquet tables, for the driver's side-by-side
correctness gate. The normalization fragment assumes ASCII input (true for
the driver's `documents` table); the NFKD branch is identity there, so the
SQL is exact. Non-ASCII corpora are covered by the pytest golden suite
instead.
"""

from __future__ import annotations

from blurrily_spark.functions.hashing import (
    MERSENNE,
    POLY_BASE_A,
    POLY_BASE_B,
    poly_hash_sql,
)

SIMHASH_BITS = 62

NORM = (
    "trim(regexp_replace(regexp_replace(lower({text}), '[^a-z]', ' ', 'g'),"
    " '[ ]+', ' ', 'g'))"
)


def norm_cte(alias: str, table_sql: str, ref: str, text: str) -> str:
    """CTE ``{alias}_norm(ref, norm)``."""
    norm = NORM.format(text=text)
    return (
        f"{alias}_norm AS (SELECT {ref} AS ref, {norm} AS norm FROM {table_sql})"
    )


def _enc(pos: str) -> str:
    c = f"ascii(substr(p, CAST({pos} AS INT), 1))"
    return f"(CASE WHEN {c} BETWEEN 97 AND 122 THEN {c} - 96 ELSE 0 END)"


def trigram_ctes(alias: str) -> str:
    """CTEs from ``{alias}_norm`` to ``{alias}_tg(ref, trigram, weight)``.

    Mirrors tokenizer S2-S5: pad ``**text*``, len+1 windows, base-28 encode,
    distinct. ``weight`` = normalized length (the reference's default).
    """
    return f"""{alias}_pad AS (
  SELECT ref, norm, '**' || replace(norm, ' ', '*') || '*' AS p,
         length(norm) AS n
  FROM {alias}_norm
),
{alias}_k AS (
  SELECT ref, norm, p, unnest(range(0, n + 1)) AS k FROM {alias}_pad
),
{alias}_tg AS (
  SELECT DISTINCT ref,
    CAST({_enc('k+1')} + 28 * {_enc('k+2')} + 784 * {_enc('k+3')} AS INTEGER) AS trigram,
    CAST(length(norm) AS INTEGER) AS weight
  FROM {alias}_k
)"""


def postings_sql(table_sql: str, ref: str, text: str) -> str:
    """Full postings query: (trigram, ref, weight)."""
    return f"""WITH {norm_cte('hay', table_sql, ref, text)},
{trigram_ctes('hay')}
SELECT trigram, ref, weight FROM hay_tg"""


def queries_values(needles: list[tuple[int, str]]) -> str:
    """VALUES literal ``q(query_id, needle)``."""
    rows = ", ".join(f"(CAST({qid} AS BIGINT), '{s}')" for qid, s in needles)
    return f"(VALUES {rows}) AS q(query_id, needle)"


def find_sql(
    table_sql: str,
    ref: str,
    text: str,
    needles: list[tuple[int, str]],
    limit: int = 10,
) -> str:
    """The FIND oracle: gather-join, group-count, rank, top-k."""
    return f"""WITH {norm_cte('hay', table_sql, ref, text)},
{trigram_ctes('hay')},
{norm_cte('qq', queries_values(needles), 'query_id', 'needle')},
{trigram_ctes('qq')},
scored AS (
  SELECT q.ref AS query_id, h.ref, count(*) AS matches, min(h.weight) AS weight
  FROM qq_tg q JOIN hay_tg h USING (trigram)
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, ref, matches, weight,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY matches DESC, weight ASC, ref ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, ref, matches, weight, rank FROM ranked WHERE rank <= {limit}"""


def pairs_ctes(alias: str = "hay") -> str:
    """CTEs from ``{alias}_tg`` to ``pairs(ref_a, ref_b, matches, jaccard)``."""
    return f"""tc AS (
  SELECT ref, count(*) AS n_tg FROM {alias}_tg GROUP BY ref
),
rawpairs AS (
  SELECT a.ref AS ref_a, b.ref AS ref_b, count(*) AS matches
  FROM {alias}_tg a JOIN {alias}_tg b
    ON a.trigram = b.trigram AND a.ref < b.ref
  GROUP BY 1, 2
),
pairs AS (
  SELECT ref_a, ref_b, matches,
         round(matches / CAST(ta.n_tg + tb.n_tg - matches AS DOUBLE), 6) AS jaccard
  FROM rawpairs
  JOIN tc ta ON ta.ref = ref_a
  JOIN tc tb ON tb.ref = ref_b
)"""


def simhash_ctes(alias: str) -> str:
    """CTEs from ``{alias}_norm`` to ``{alias}_fp(ref, simhash)``.

    Bit-for-bit twin of operators.dedup.simhash62 (portable hash family):
    tokens -> two 31-bit polynomial hashes -> 62 signed bit sums -> sign
    bits packed into one BIGINT.
    """
    h1 = poly_hash_sql("tok", POLY_BASE_A)
    h2 = poly_hash_sql("tok", POLY_BASE_B)
    bit_sums = []
    for k in range(SIMHASH_BITS):
        src, bit = ("h1", k) if k < 31 else ("h2", k - 31)
        bit_sums.append(
            f"SUM(CASE WHEN ({src} >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS b{k}"
        )
    fp = " + ".join(
        f"(CASE WHEN b{k} > 0 THEN (CAST(1 AS BIGINT) << {k}) ELSE CAST(0 AS BIGINT) END)"
        for k in range(SIMHASH_BITS)
    )
    return f"""{alias}_tok AS (
  SELECT ref, unnest(string_split(norm, ' ')) AS tok FROM {alias}_norm
),
{alias}_th AS (
  SELECT ref, {h1} AS h1, {h2} AS h2 FROM {alias}_tok
),
{alias}_bits AS (
  SELECT ref,
    {(',' + chr(10) + '    ').join(bit_sums)}
  FROM {alias}_th GROUP BY ref
),
{alias}_fp AS (
  SELECT ref, CAST({fp} AS BIGINT) AS simhash FROM {alias}_bits
)"""


def minhash_ctes(alias: str, params: list[tuple[int, int]]) -> str:
    """CTEs from ``{alias}_norm`` to ``{alias}_sig(ref, sig)``.

    Bit-for-bit twin of operators.dedup.minhash_signatures (portable hash,
    ``w=3``): word 3-shingles -> polynomial shingle hash -> per-permutation
    list_min.
    """
    hs = poly_hash_sql("s")
    sig_items = ",\n    ".join(
        f"list_min(list_transform(hl, h -> ({a} * h + {b}) % {MERSENNE}))"
        for a, b in params
    )
    return f"""{alias}_ws AS (
  SELECT ref, string_split(norm, ' ') AS w FROM {alias}_norm
),
{alias}_sh AS (
  SELECT ref, CASE WHEN len(w) >= 3 THEN
      list_distinct(list_transform(range(1, len(w) - 1),
        i -> array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')))
    ELSE [array_to_string(w, ' ')] END AS shingles
  FROM {alias}_ws
),
{alias}_hs AS (
  SELECT ref, list_transform(shingles, s -> {hs}) AS hl FROM {alias}_sh
),
{alias}_sig AS (
  SELECT ref, [{sig_items}] AS sig FROM {alias}_hs
)"""


def _band_match_exprs(num_hashes: int, bands: int) -> tuple[str, str]:
    """(band_eq, matches) SQL fragments over sig columns ``sa``/``sb`` --
    shared by the self-join and cross-corpus LSH oracles so the band
    re-check and the est formula can never diverge between them."""
    rpb = num_hashes // bands
    band_eq = " OR ".join(
        "("
        + " AND ".join(
            f"sa[{b * rpb + j}] = sb[{b * rpb + j}]" for j in range(1, rpb + 1)
        )
        + ")"
        for b in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN sa[{j}] = sb[{j}] THEN 1 ELSE 0 END)"
        for j in range(1, num_hashes + 1)
    )
    return band_eq, matches


def lsh_pairs_sql(alias: str, num_hashes: int, bands: int) -> str:
    """SELECT over ``{alias}_sig``: pairs where some band matches exactly,
    with est_jaccard = fraction of matching signature positions, rounded
    to 6 places."""
    band_eq, matches = _band_match_exprs(num_hashes, bands)
    return f"""SELECT id_a, id_b,
  round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard
FROM (
  SELECT a.ref AS id_a, b.ref AS id_b, a.sig AS sa, b.sig AS sb
  FROM {alias}_sig a JOIN {alias}_sig b ON a.ref < b.ref
)
WHERE {band_eq}"""


def lsh_cross_pairs_sql(new_alias: str, ref_alias: str, num_hashes: int, bands: int) -> str:
    """SELECT over ``{new_alias}_sig`` x ``{ref_alias}_sig``: oriented
    ``(new_id, ref_id, est_jaccard)`` pairs where some band matches exactly
    (the cross-corpus twin of :func:`lsh_pairs_sql` -- no id ordering, the
    two id spaces are independent)."""
    band_eq, matches = _band_match_exprs(num_hashes, bands)
    return f"""SELECT new_id, ref_id,
  round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard
FROM (
  SELECT a.ref AS new_id, b.ref AS ref_id, a.sig AS sa, b.sig AS sb
  FROM {new_alias}_sig a CROSS JOIN {ref_alias}_sig b
)
WHERE {band_eq}"""


def cc_walk_ctes(edges: str = "edges") -> str:
    """Recursive min-label-propagation CTEs over an ``{edges}(src, dst)``
    CTE. Aggregate ``walk`` with ``min(label) GROUP BY node`` to read the
    component labels (exact oracle at test scale)."""
    return f"""nodes AS (
  SELECT DISTINCT ref FROM (
    SELECT src AS ref FROM {edges} UNION ALL SELECT dst AS ref FROM {edges}
  )
),
undirected AS (
  SELECT src, dst FROM {edges} UNION SELECT dst AS src, src AS dst FROM {edges}
),
walk(node, label) AS (
  SELECT ref, ref FROM nodes
  UNION
  SELECT u.dst, w.label FROM walk w JOIN undirected u ON u.src = w.node
)"""


def cc_sql(table_sql: str, ref: str, text: str, threshold: float) -> str:
    """Connected components over thresholded match edges."""
    return f"""WITH RECURSIVE {norm_cte('hay', table_sql, ref, text)},
{trigram_ctes('hay')},
{pairs_ctes('hay')},
edges AS (
  SELECT ref_a AS src, ref_b AS dst FROM pairs WHERE jaccard >= {threshold}
),
{cc_walk_ctes('edges')}
SELECT node AS ref, CAST(min(label) AS BIGINT) AS entity_id
FROM walk GROUP BY node"""
