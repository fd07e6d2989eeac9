"""Line-level corpus operators for multi-line (source-code) documents:
cross-document line deduplication (the RefinedWeb/CCNet recipe — strip
lines shared by many documents: license banners, auto-generated
headers, import boilerplate) and within-document line-repetition
metrics (the Gopher repetition rules, at line granularity).

Reference parity note: the reference engine consumes already-clean RDF
and has no text-cleaning layer; these are beyond-reference
training-data operators the graft adds for its code payload
(north_star: "Iceberg table of source-code repositories"), sharing the
code_corpus_table fixture with operators/codequality.py.

Scale design (10^12 files):

- ``line_dedup``: posexplode (narrow) → line-key groupBy with
  COUNT(DISTINCT file) — partial-aggregatable, shuffle keyed on the
  line text whose cardinality is the distinct-line vocabulary, not the
  corpus; the duplicated-line set is the >= min_df HEAD of that
  distribution (small by construction, AQE broadcasts the anti-join
  build side). Reassembly groups by file — per-file work, never a
  global sort. A pathologically hot line ("", "}", "import os") skews
  only the count shuffle, which the map-side combine absorbs.
- ``line_repetition``: two chained partial-aggregatable groupBys
  ((file, line) then file) — the canonical skew-safe two-level
  aggregation; no joins at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def split_lines(
    files: DataFrame, id_col: str = "file_id", content_col: str = "content"
) -> DataFrame:
    """DataFrame[id_col, pos (1-based), line] — one row per line,
    preserving order and empty lines (split limit -1)."""
    return files.select(
        F.col(id_col),
        F.posexplode(F.split(content_col, "\n", -1)).alias("pos0", "line"),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "line")


def line_dedup(
    files: DataFrame,
    min_df: int = 2,
    id_col: str = "file_id",
    content_col: str = "content",
) -> DataFrame:
    """Remove every line whose exact text occurs in >= ``min_df``
    DISTINCT documents (within-document repeats alone do not qualify),
    and reassemble the surviving lines in their original order.

    Returns DataFrame[id_col, n_lines, n_kept, content_clean] — one row
    per input document, ``content_clean = ''`` when nothing survives.
    """
    lines = split_lines(files, id_col, content_col)
    dup = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("line")
    )
    kept = lines.join(dup, "line", "left_anti")
    # array_sort on struct(pos, line) orders by pos (field order);
    # collect_list per file is bounded by the file's own line count
    reasm = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("content_clean"),
    )
    base = files.select(
        F.col(id_col), F.size(F.split(content_col, "\n", -1)).cast("long").alias("n_lines")
    )
    return base.join(reasm, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("content_clean"), F.lit("")).alias("content_clean"),
    )


def line_dedup_sql(src_cte: str, min_df: int = 2, id_expr: str = "k") -> str:
    """DuckDB twin of :func:`line_dedup` over a reconstructed corpus
    (``src_cte`` must define ``src(k, content)``)."""
    return f"""WITH {src_cte},
lines AS (
  SELECT {id_expr} AS file_id, u.pos, u.line FROM (
    SELECT {id_expr}, unnest(list_transform(string_split(content, chr(10)),
                                            (x, i) -> {{'pos': i, 'line': x}})) AS u
    FROM src)
),
dup AS (
  SELECT line FROM (
    SELECT line, COUNT(DISTINCT file_id) AS df FROM lines GROUP BY line)
  WHERE df >= {min_df}
),
kept AS (
  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM dup)
),
reasm AS (
  SELECT file_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS content_clean
  FROM kept GROUP BY file_id
)
SELECT s.{id_expr} AS file_id,
       CAST(len(string_split(s.content, chr(10))) AS BIGINT) AS n_lines,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(r.content_clean, '') AS content_clean
FROM src s LEFT JOIN reasm r ON r.file_id = s.{id_expr}"""


def line_repetition(
    files: DataFrame,
    id_col: str = "file_id",
    content_col: str = "content",
    round_to: int = 4,
) -> DataFrame:
    """Gopher-style within-document repetition metrics at line
    granularity:

    - ``dup_line_frac``: fraction of lines that are repeats of an
      earlier line in the SAME document (= 1 - distinct/total);
    - ``dup_line_char_frac``: fraction of line characters belonging to
      lines that occur >= 2 times in the document (0.0 when the
      document's lines are all empty).

    Returns DataFrame[id_col, n_lines, dup_line_frac,
    dup_line_char_frac].
    """
    lines = split_lines(files, id_col, content_col)
    per = lines.groupBy(id_col, "line").agg(F.count("*").alias("c"))
    chars = F.col("c") * F.length("line")
    return (
        per.groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_lines"),
            F.count("*").alias("n_distinct"),
            F.sum(F.when(F.col("c") >= 2, chars).otherwise(0)).alias("dup_chars"),
            F.sum(chars).alias("tot_chars"),
        )
        .select(
            id_col,
            "n_lines",
            F.round(
                (F.col("n_lines") - F.col("n_distinct")).cast("double")
                / F.col("n_lines"),
                round_to,
            ).alias("dup_line_frac"),
            F.round(
                F.when(
                    F.col("tot_chars") > 0,
                    F.col("dup_chars").cast("double") / F.col("tot_chars"),
                ).otherwise(0.0),
                round_to,
            ).alias("dup_line_char_frac"),
        )
    )


def line_repetition_sql(src_cte: str, id_expr: str = "k", round_to: int = 4) -> str:
    """DuckDB twin of :func:`line_repetition` (``src_cte`` must define
    ``src(k, content)``)."""
    return f"""WITH {src_cte},
lines AS (
  SELECT {id_expr} AS file_id, unnest(string_split(content, chr(10))) AS line FROM src
),
per AS (
  SELECT file_id, line, COUNT(*) AS c FROM lines GROUP BY file_id, line
),
agg AS (
  SELECT file_id,
         SUM(c) AS n_lines,
         COUNT(*) AS n_distinct,
         SUM(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END) AS dup_chars,
         SUM(c * length(line)) AS tot_chars
  FROM per GROUP BY file_id
)
SELECT file_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       ROUND(CAST(n_lines - n_distinct AS DOUBLE) / n_lines, {round_to}) AS dup_line_frac,
       ROUND(CASE WHEN tot_chars > 0
                  THEN CAST(dup_chars AS DOUBLE) / tot_chars ELSE 0.0 END,
             {round_to}) AS dup_line_char_frac
FROM agg"""
