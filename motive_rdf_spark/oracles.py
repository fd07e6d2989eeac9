"""Generated DuckDB oracle SQL for the contract entries whose inputs
are synthesized fixtures (no parquet table to query).

Pattern: the fixture generators offer an engine-portable hash mode
(``hash_fn="md5"`` — data/generators.seeded_hash), so the oracle SQL
can *reconstruct the identical input* from ``generate_series`` +
``md5`` and then compute the expected output independently
(closed-form fixture semantics or plain SQL re-implementations —
never by calling this engine).

Every function here returns a complete DuckDB query string used by
contract.py as the driver's oracle.
"""

from __future__ import annotations

from motive_rdf_spark.data.generators import LANGS, MODULES


def hash_sql(*parts: str) -> str:
    """DuckDB mirror of ``seeded_hash("md5", ...)``: non-negative 60-bit
    long from the first 15 hex chars of md5(':'-joined parts)."""
    joined = ", ".join(parts)
    return f"(('0x' || substring(md5(concat_ws(':', {joined})), 1, 15))::BIGINT)"


def _pick(salt: int, modulus: int, seed: int = 42, key: str = "k") -> str:
    return f"({hash_sql(key, str(seed), str(salt))} % {modulus})"


def source_table_cte(rows: int, repos: int = 50, seed: int = 42) -> str:
    """CTE body reconstructing ``source_code_table(rows, hash_fn="md5")``
    (columns k, callee_k, repo, path, lang, module; content is implied
    by the closed-form triples below, FIXTURES.md §1)."""
    langs = ", ".join(f"'{x}'" for x in LANGS)
    mods = ", ".join(f"'{x}'" for x in MODULES)
    return f"""
p0 AS (
  SELECT k,
    CAST({_pick(1, len(LANGS), seed)} AS INT) AS lang_i,
    CAST({_pick(2, len(MODULES), seed)} AS INT) AS mod_i,
    CASE WHEN k % 5 = 0 THEN 0 ELSE {_pick(3, rows, seed)} END AS callee_k,
    {_pick(4, repos, seed)} AS repo_i,
    {_pick(5, 37, seed)} AS path_i
  FROM generate_series(0, {rows - 1}) t(k)
),
src AS (
  SELECT k, callee_k,
    ([{langs}])[lang_i + 1] AS lang,
    ([{mods}])[mod_i + 1] AS module,
    'org' || (repo_i % 10) || '/repo' || repo_i AS repo,
    'src/mod' || path_i || '/file' || k ||
      (CASE WHEN lang_i = 0 THEN '.py' WHEN lang_i = 1 THEN '.java'
            ELSE '.go' END) AS path
  FROM p0
)"""


def extract_triples_cte(rows: int) -> str:
    """CTE producing the closed-form expected extraction output
    (subj, pred, obj) for the reconstructed source table — one class /
    function / member_of / import / in_repo fact per row plus a calls
    fact when the callee is not defined in-file (pipeline/extract.py
    semantics over FIXTURES.md §1 content)."""
    return f"""WITH {source_table_cte(rows)},
st AS (
  SELECT repo || '/' || path AS subj, 'defines_class' AS pred,
         'C' || k || '_cls' AS obj FROM src
  UNION ALL SELECT repo || '/' || path, 'defines_function', 'f' || k || '_fn' FROM src
  UNION ALL SELECT 'f' || k || '_fn', 'member_of', 'C' || k || '_cls' FROM src
  UNION ALL SELECT repo || '/' || path, 'imports', module FROM src
  UNION ALL SELECT 'f' || k || '_fn', 'calls', 'f' || callee_k || '_fn'
    FROM src WHERE callee_k <> k
  UNION ALL SELECT repo || '/' || path, 'in_repo', repo FROM src
)"""


def pipeline_extract_sql(rows: int) -> str:
    return (
        extract_triples_cte(rows)
        + "\nSELECT pred, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY pred ORDER BY pred"
    )


def streaming_extract_sql(rows: int) -> str:
    return extract_triples_cte(rows) + "\nSELECT subj, pred, obj FROM st"


def pipeline_link_sql(rows: int) -> str:
    """Distinct call mentions linked against the reconstructed candidate
    dictionary (exact surface tier: score = 1 + 0.001*prior)."""
    prior_key = "'prior'"
    prior = f"(({hash_sql('i', prior_key)} % 1000) / 1000.0::DOUBLE)"
    return f"""WITH {source_table_cte(rows)},
mentions AS (
  SELECT DISTINCT 'f' || callee_k || '_fn' AS mention FROM src WHERE callee_k <> k
),
dict AS (
  SELECT 'f' || i || '_fn' AS surface, CAST(i AS BIGINT) AS entity_id,
         {prior} AS prior
  FROM generate_series(0, {rows - 1}) t(i)
)
SELECT mention, entity_id,
       ROUND(1.0::DOUBLE + 0.001::DOUBLE * prior, 6) AS score
FROM mentions JOIN dict ON mention = surface
ORDER BY mention"""


def pipeline_canonicalize_sql(n_edges: int = 400, n_nodes: int = 150) -> str:
    """Connected components of the reconstructed seeded edge list,
    re-computed independently with a recursive transitive closure."""
    return f"""WITH RECURSIVE base AS (
  SELECT ({hash_sql("id", "7")} % {n_nodes}) AS src,
         ({hash_sql("id", "8")} % {n_nodes}) AS dst
  FROM generate_series(0, {n_edges - 1}) t(id)
), sym AS (
  SELECT src AS a, dst AS b FROM base UNION SELECT dst AS a, src AS b FROM base
), edges AS (SELECT a, b FROM sym WHERE a <> b),
reach AS (
  SELECT DISTINCT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(comp) AS BIGINT) AS component
FROM reach GROUP BY node ORDER BY node"""


def pipeline_end_to_end_sql(rows: int) -> str:
    """Full pipeline expectation: closed-form extraction + same_as links
    (every call mention links exactly into the closed vocabulary, so its
    component is {{mention, entity}} and the canonical id is the
    lexicographic min — 'entity::c' < 'f...'), canonical rewrite, dedup,
    per-predicate rollup. Counts are invariant under the engine's dense
    id encoding (a bijection), so the oracle works on strings."""
    return (
        extract_triples_cte(rows)
        + f""",
sa AS (
  SELECT DISTINCT 'f' || callee_k || '_fn' AS m, 'entity::' || callee_k AS e
  FROM src WHERE callee_k <> k
),
cmap AS (
  SELECT m AS term, least(m, e) AS comp FROM sa
  UNION ALL SELECT e, least(m, e) FROM sa
),
rew AS (
  SELECT coalesce(ms.comp, t.subj) AS s, t.pred AS p,
         coalesce(mo.comp, t.obj) AS o
  FROM st t
  LEFT JOIN cmap ms ON t.subj = ms.term
  LEFT JOIN cmap mo ON t.obj = mo.term
),
ded AS (SELECT DISTINCT s, p, o FROM rew)
SELECT p AS pred, CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_subjects
FROM ded GROUP BY p ORDER BY p"""
    )


def query_log_sql(rows: int, seed: int = 42) -> str:
    """Histogram of triple-pattern counts in the synthesized query log:
    row ``id`` carries (hash % 3) + 1 patterns by construction."""
    return f"""
SELECT CAST(({hash_sql("id", str(seed))} % 3) + 1 AS BIGINT) AS n_triple_patterns,
       CAST(COUNT(*) AS BIGINT) AS n
FROM generate_series(0, {rows - 1}) t(id)
GROUP BY 1"""


def planted_graph_cte(n: int, m: int, r: int, k: int, seed: int) -> str:
    """CTE ``g`` reconstructing ``planted_graph(n, m, r, TRIANGLE, k,
    seed, hash_fn="md5")`` — the seeded random base (self-loops
    deflected) plus k disjoint planted triangle instances above the
    base id space, deduped."""

    def h(salt: int) -> str:
        return hash_sql("id", str(seed), str(salt))

    return f"""WITH base AS (
  SELECT ({h(0)} % {n}) AS s, ({h(1)} % {r}) AS p, ({h(2)} % {n}) AS o
  FROM generate_series(0, {m - 1}) t(id)
), base2 AS (
  SELECT s, p, CASE WHEN s = o THEN (o + 1) % {n} ELSE o END AS o FROM base
), planted AS (
  SELECT {n} + j * 3 AS s, 0 AS p, {n} + j * 3 + 1 AS o
  FROM generate_series(0, {k - 1}) t(j)
  UNION ALL SELECT {n} + j * 3, 1, {n} + j * 3 + 2 FROM generate_series(0, {k - 1}) t(j)
  UNION ALL SELECT {n} + j * 3 + 1, 2, {n} + j * 3 + 2 FROM generate_series(0, {k - 1}) t(j)
), g AS (
  SELECT DISTINCT s, p, o FROM (SELECT * FROM base2 UNION ALL SELECT * FROM planted)
)"""


def planted_support_sql(
    n: int, m: int, r: int, k: int, seed: int
) -> str:
    """Expected rows for the motif-induction contract entry over
    ``planted_graph(n, m, r, triangle, k, seed, hash_fn="md5")``:

    - ``planted_support`` — the exact match count of the planted
      triangle (?v1-[0]->?v2, ?v1-[1]->?v3, ?v2-[2]->?v3) under
      node-var injectivity, computed by an independent 3-way SQL
      self-join over the reconstructed (deduped) graph;
    - ``top_is_planted`` / ``top_frequency_ge_k`` — ground-truth
      booleans from the planting design (k disjoint instances exist,
      and the warm-started search must retain the planted motif as its
      best-scoring result).
    """

    return f"""{planted_graph_cte(n, m, r, k, seed)}, support AS (
  SELECT COUNT(*) AS cnt FROM g e1, g e2, g e3
  WHERE e1.p = 0 AND e2.p = 1 AND e3.p = 2
    AND e2.s = e1.s AND e3.s = e1.o AND e3.o = e2.o
    AND e1.s <> e1.o AND e1.s <> e2.o AND e1.o <> e2.o
)
SELECT metric, CAST(value AS BIGINT) AS value FROM (
  SELECT 'planted_support' AS metric, cnt AS value FROM support
  UNION ALL SELECT 'top_is_planted', 1
  UNION ALL SELECT 'top_frequency_ge_k', 1
)"""
