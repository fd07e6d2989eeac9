"""BM25 full-text retrieval scoring over the document corpus — the
ranking function a training-data pipeline uses for targeted corpus
queries (find documents about X for curation / eval-set mining) and
for quality-weighted subsetting against a topic seed query.

Formula (Robertson/Sparck-Jones BM25, the Lucene ``k1``/``b``
parametrization with the +1 idf floor):

    idf(t)      = ln( (N - df_t + 0.5) / (df_t + 0.5) + 1 )
    score(d, q) = SUM over t in q of
                  idf(t) * tf_td * (k1 + 1)
                  / (tf_td + k1 * (1 - b + b * dl_d / avgdl))

Tokenizer: single-space split, so the oracle stays portable.

Reference parity note: beyond-reference training-data operator (the
reference has no text/retrieval layer).

Scale design (100 TB corpus): one narrow explode filtered to the query
terms BEFORE any shuffle (the filter is a literal IN over a handful of
terms — predicate-pushable, so the tf table is tiny: only documents
containing a query term survive). Document length is a narrow
projection. df/N/avgdl are 1-row / |q|-row aggregates joined back by
broadcast. Zero corpus-wide shuffles; the only groupBys key on
(doc, term) restricted to matching docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """DataFrame[id_col, bm25] — one row per document containing at
    least one query term, scored per the module formula (rounded)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = docs.select(F.col(id_col), F.explode(F.split(text_col, " ", -1)).alias("tok"))
    tf = (
        toks.filter(F.col("tok").isin(list(query_terms)))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.countDistinct(id_col).alias("df"))
    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(F.split(text_col, " ", -1))).alias("avgdl"),
    )
    dl = docs.select(F.col(id_col), F.size(F.split(text_col, " ", -1)).cast("double").alias("dl"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term_score = (
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(term_score), round_to).alias("bm25"))
    )


def bm25_sql(
    query_terms: list[str],
    table: str = "documents",
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`bm25_scores`."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH toks AS (
  SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS tok FROM {table}
), tf AS (
  SELECT {id_col}, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY {id_col}, tok
), dfreq AS (
  SELECT tok, COUNT(DISTINCT {id_col}) AS df FROM tf GROUP BY tok
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         AVG(len(string_split({text_col}, ' '))) AS avgdl
  FROM {table}
), dl AS (
  SELECT {id_col}, CAST(len(string_split({text_col}, ' ')) AS DOUBLE) AS dl FROM {table}
)
SELECT tf.{id_col},
       ROUND(SUM(
         ln((n_docs - df + 0.5) / (df + 0.5) + 1)
         * (tf * ({k1} + 1))
         / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))
       ), {round_to}) AS bm25
FROM tf
JOIN dfreq USING (tok)
JOIN dl ON dl.{id_col} = tf.{id_col}
CROSS JOIN stats
GROUP BY tf.{id_col}"""
