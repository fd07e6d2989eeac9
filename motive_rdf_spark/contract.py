"""Contract catalog: the KG-construction and motif-induction operators,
each exposed as a (spark_query, duckdb_oracle_sql) pair over the
testdata tables (TESTDATA.md). Consumed by ``__spark_entry__.py``.

Each Spark query and its oracle alias every computed column to the same
name; value comparison is order-insensitive, so only names/values must
line up.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from motive_rdf_spark import kg_tpch, oracles as _orc
from motive_rdf_spark.kg_tpch import TRIPLES_CTE
from motive_rdf_spark.operators import degrees as deg
from motive_rdf_spark.operators.bgp import find
from motive_rdf_spark.patterns import Pattern

QueryFn = Callable[[SparkSession, str], DataFrame]

_REG: dict[str, tuple[QueryFn, str]] = {}


def q(name: str, sql: str):
    def deco(fn: QueryFn):
        _REG[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kg_tpch.prepared_triples(spark, sf_dir)


def _store(spark: SparkSession, sf_dir: str):
    """Pre-partitioned graph copies for the matcher queries (bucketed-
    storage analog; skips the graph-side exchange in non-broadcast
    plans — operators.bgp.GraphStore)."""
    return kg_tpch.prepared_store(spark, sf_dir)


# ---------------------------------------------------------------------------
# §2.3 BGP matcher queries (join-cascade engine vs plain SQL self-joins)
# ---------------------------------------------------------------------------

_VEE_SQL = TRIPLES_CTE + """
SELECT t1.s AS v1, t2.s AS v2, t1.o AS v3
FROM triples t1, triples t2
WHERE t1.p = 0 AND t2.p = 0 AND t1.o = t2.o
  AND t1.s <> t2.s AND t1.s <> t1.o AND t2.s <> t2.o
"""


@q("bgp_vee", _VEE_SQL)
def bgp_vee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """?n1-[in_nation]->?n3, ?n2-[in_nation]->?n3 — the vee pattern of
    FindTest.java:105-132 over the TPC-H KG (customers/suppliers
    co-located in a nation). Node-var injectivity gives v1<>v2 etc."""
    return find(_store(spark, sf_dir), Pattern([(-1, 0, -3), (-2, 0, -3)]))


_CHAIN_SQL = TRIPLES_CTE + """
SELECT t1.s AS v1, t1.o AS v2, t2.o AS v3, t3.o AS v4
FROM triples t1, triples t2, triples t3
WHERE t1.p = 1 AND t2.p = 2 AND t3.p = 3
  AND t1.o = t2.s AND t2.o = t3.s
  AND t1.s <> t1.o AND t1.s <> t2.o AND t1.s <> t3.o
  AND t1.o <> t2.o AND t1.o <> t3.o AND t2.o <> t3.o
"""


@q("bgp_chain", _CHAIN_SQL)
def bgp_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-node chain ?c-[placed]->?o-[contains]->?p-[supplied_by]->?s —
    the left-deep join-expansion path (Find.java:74-122 as joins)."""
    return find(
        _store(spark, sf_dir), Pattern([(-1, 1, -2), (-2, 2, -3), (-3, 3, -4)])
    )


@q(
    "bgp_pred_var",
    TRIPLES_CTE + "SELECT s AS v1, p AS v2 FROM triples WHERE o = 3",
)
def bgp_pred_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """?n1-[?p2]->3 : predicate-variable edge (FindTest.java:51-64 style)."""
    return find(_store(spark, sf_dir), Pattern([(-1, -2, 3)]))


@q(
    "bgp_support_by_nation",
    _VEE_SQL.replace(
        "SELECT t1.s AS v1, t2.s AS v2, t1.o AS v3",
        "SELECT t1.o AS nation, CAST(COUNT(*) AS BIGINT) AS support",
    )
    + " GROUP BY t1.o",
)
def bgp_support_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif support counting via groupBy aggregate (north_star: 'support
    counting via groupBy aggregates'; SimAnnealing.java:156,204)."""
    m = find(_store(spark, sf_dir), Pattern([(-1, 0, -3), (-2, 0, -3)]))
    return m.groupBy(F.col("v3").alias("nation")).agg(F.count("*").alias("support"))


# ---------------------------------------------------------------------------
# §2.2 lookups + §2.4 degree aggregations
# ---------------------------------------------------------------------------


@q(
    "triple_lookup",
    TRIPLES_CTE + "SELECT s, p, o FROM triples WHERE p = 0 AND o = 3",
)
def triple_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """find(null, 0, 3): bound-position dispatch becomes a pushed-down
    filter (KGraph.find, KGraph.java:154-190)."""
    t = _triples(spark, sf_dir)
    return t.filter((F.col("p") == 0) & (F.col("o") == 3)).select("s", "p", "o")


@q(
    "degrees_in",
    TRIPLES_CTE
    + "SELECT o AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM triples GROUP BY o",
)
def degrees_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree sequence (KGraph.degrees, KGraph.java:1455-1476)."""
    return deg.in_degrees(_triples(spark, sf_dir))


@q(
    "degrees_out",
    TRIPLES_CTE
    + "SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM triples GROUP BY s",
)
def degrees_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deg.out_degrees(_triples(spark, sf_dir))


@q(
    "degrees_rel",
    TRIPLES_CTE
    + "SELECT p AS rel, CAST(COUNT(*) AS BIGINT) AS deg FROM triples GROUP BY p",
)
def degrees_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deg.rel_degrees(_triples(spark, sf_dir))


@q(
    "topk_by_degree",
    TRIPLES_CTE
    + """SELECT o AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM triples
GROUP BY o ORDER BY deg DESC, node ASC LIMIT 10""",
)
def topk_by_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break (byScore/byFrequency,
    SimAnnealing.java:685-734)."""
    return (
        deg.in_degrees(_triples(spark, sf_dir))
        .orderBy(F.desc("deg"), F.asc("node"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------


@q(
    "set_intersect",
    TRIPLES_CTE
    + "SELECT DISTINCT s AS node FROM triples INTERSECT SELECT DISTINCT o AS node FROM triples",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-domain intersection (Find.java:706-723)."""
    t = _triples(spark, sf_dir)
    return t.select(F.col("s").alias("node")).distinct().intersect(
        t.select(F.col("o").alias("node")).distinct()
    )


@q(
    "set_minus",
    TRIPLES_CTE
    + "SELECT DISTINCT s AS node FROM triples EXCEPT SELECT DISTINCT o AS node FROM triples",
)
def set_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set minus (Find.java:725-730)."""
    t = _triples(spark, sf_dir)
    return t.select(F.col("s").alias("node")).distinct().subtract(
        t.select(F.col("o").alias("node")).distinct()
    )


# ---------------------------------------------------------------------------
# §2.1 dictionary encoding (first-seen order) + the content check
# ---------------------------------------------------------------------------


@q(
    "dict_encode",
    """SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY first_seen) - 1 AS BIGINT) AS id
FROM (SELECT source, MIN(doc_id) AS first_seen FROM documents GROUP BY source)""",
)
def dict_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen dictionary encoding (KGraph.java:1240-1283: dense ids
    in first-encounter order) over documents.source, with doc_id as the
    stable scan order."""
    docs = _t(spark, sf_dir, "documents")
    firsts = docs.groupBy("source").agg(F.min("doc_id").alias("first_seen"))
    return firsts.select(
        "source",
        (F.row_number().over(Window.orderBy("first_seen")) - 1).cast("long").alias("id"),
    )


@q(
    "sha256_invariant",
    "SELECT doc_id, sha256(text) AS content_sha FROM documents",
)
def sha256_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-row content sha256 invariant (BASELINE.json input_hint)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2("text", 256).alias("content_sha")
    )


@q(
    "connected_to",
    TRIPLES_CTE
    + """SELECT DISTINCT s AS node FROM triples t1
WHERE p = 0 AND EXISTS (SELECT 1 FROM triples t2 WHERE t2.s = t1.o AND t2.p = 4)""",
)
def connected_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connectedTo(node, tag) existence test (KGraph.java:545-566) as a
    semi join: entities in a nation that is itself in a region."""
    t = _triples(spark, sf_dir)
    inner = t.filter(F.col("p") == 4).select(F.col("s").alias("o"))
    return (
        t.filter(F.col("p") == 0)
        .join(inner, "o", "left_semi")
        .select(F.col("s").alias("node"))
        .distinct()
    )


# dense base (r=3) so the OLD graph has nonzero support — the entry
# must exercise old-only, delta-only, and mixed match classes, not a
# degenerate 0 + k split
_DELTA_DIMS = (80, 800, 3, 40, 3)  # n, m, r, k, seed


def _delta_support_sql() -> str:
    from motive_rdf_spark.oracles import planted_graph_cte

    n, m, r, k, seed = _DELTA_DIMS
    sup = """SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM {g} e1, {g} e2, {g} e3
  WHERE e1.p = 0 AND e2.p = 1 AND e3.p = 2
    AND e2.s = e1.s AND e3.s = e1.o AND e3.o = e2.o
    AND e1.s <> e1.o AND e1.s <> e2.o AND e1.o <> e2.o"""
    return f"""{planted_graph_cte(n, m, r, k, seed)},
old_g AS (SELECT DISTINCT s, p, o FROM base2),
sup_new AS ({sup.format(g="g")}),
sup_old AS ({sup.format(g="old_g")})
SELECT metric, CAST(value AS BIGINT) AS value FROM (
  SELECT 'old_support' AS metric, (SELECT cnt FROM sup_old) AS value
  UNION ALL SELECT 'delta_new', (SELECT cnt FROM sup_new) - (SELECT cnt FROM sup_old)
  UNION ALL SELECT 'total_support', (SELECT cnt FROM sup_new)
)"""


@q("delta_bgp_support", _delta_support_sql())
def delta_bgp_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental support maintenance (operators/delta.py):
    match the planted triangle on the base graph, then compute ONLY the
    delta matches the planted-instance append adds (semi-naive delta
    joins — each run driven by the Δ scan) and report
    old + delta = total. The oracle computes old/total supports
    independently with 3-way SQL self-joins over the reconstructed
    graphs; equality pins the semi-naive identity end-to-end."""
    from motive_rdf_spark.data.generators import plant_instances, random_graph
    from motive_rdf_spark.operators.bgp import find_count
    from motive_rdf_spark.operators.delta import delta_support
    from motive_rdf_spark.patterns import Pattern

    n, m, r, k, seed = _DELTA_DIMS
    pat = Pattern([(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)])
    old = random_graph(spark, n, m, r, seed=seed, hash_fn="md5").persist()
    delta = plant_instances(spark, pat.edges, k, node_offset=n, num_relations=r).drop(
        "instance_id"
    )
    old_sup = find_count(old, pat)
    d_sup = delta_support(old, delta, pat)
    old.unpersist()
    rows = [
        ("old_support", old_sup),
        ("delta_new", d_sup),
        ("total_support", old_sup + d_sup),
    ]
    return spark.createDataFrame(rows, "metric string, value long")


@q(
    "degree_codelength_terms",
    TRIPLES_CTE
    + """SELECT o AS node, ROUND(lgamma(cnt + 1) / ln(2), 6) AS bits
FROM (SELECT o, CAST(COUNT(*) AS BIGINT) AS cnt FROM triples GROUP BY o)
WHERE cnt > 1""",
)
def degree_codelength_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node log2(deg!) codelength terms via the Arrow pandas UDF
    (input_hint's lgamma_log2; functions/coders.lgamma_log2_udf) —
    value-checked against DuckDB's native lgamma."""
    from motive_rdf_spark.functions.coders import lgamma_log2_udf

    lg = lgamma_log2_udf()
    degs = (
        _triples(spark, sf_dir)
        .groupBy(F.col("o").alias("node"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
    return degs.select("node", F.round(lg(F.col("cnt")), 6).alias("bits"))


@q("query_log_bgps", _orc.query_log_sql(200))
def query_log_bgps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL query-log scan (exec/Queries.java:39-97): url_decode +
    regexp WHERE-body extraction over a seeded synthetic log. The
    oracle recomputes the pattern-count histogram analytically from the
    log generator's closed form (portable md5 hashing)."""
    from motive_rdf_spark.sources.querylog import extract_bgps, synthesize_query_log

    log = synthesize_query_log(spark, 200, hash_fn="md5").select(
        F.url_decode(F.col("value")).alias("query")
    )
    return extract_bgps(log).groupBy("n_triple_patterns").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# KG-construction pipeline (north_star): synthesized source-code table →
# extract → link → canonicalize. The contract entries use the generators'
# engine-portable md5 hash mode so the DuckDB oracle (oracles.py)
# reconstructs the identical input and computes the expected output
# independently (closed-form fixture semantics / recursive-SQL CC).
# ---------------------------------------------------------------------------

_PIPE_ROWS = 300


@q("pipeline_extract", _orc.pipeline_extract_sql(_PIPE_ROWS))
def pipeline_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas-UDF triple extraction over the synthesized
    source-code table (north_star; extract.py). Oracle: closed-form
    per-predicate counts over the reconstructed table."""
    from motive_rdf_spark.data.generators import source_code_table
    from motive_rdf_spark.pipeline.extract import extract_triples

    src = source_code_table(spark, _PIPE_ROWS, hash_fn="md5").drop("k")
    return extract_triples(src).groupBy("pred").agg(F.count("*").alias("n")).orderBy("pred")


@q("pipeline_link", _orc.pipeline_link_sql(_PIPE_ROWS))
def pipeline_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking vs broadcast candidate dictionary (link.py).
    Oracle: reconstructed mentions ⋈ reconstructed dictionary with the
    exact-tier score formula; score compared at 6dp."""
    from motive_rdf_spark.data.generators import candidate_dict, source_code_table
    from motive_rdf_spark.pipeline.extract import extract_triples
    from motive_rdf_spark.pipeline.link import link_mentions

    src = source_code_table(spark, _PIPE_ROWS, hash_fn="md5").drop("k")
    mentions = (
        extract_triples(src)
        .filter(F.col("pred") == "calls")
        .select(F.col("obj").alias("mention"))
    )
    linked = link_mentions(mentions, candidate_dict(spark, _PIPE_ROWS, hash_fn="md5"))
    return linked.select(
        "mention", "entity_id", F.round("score", 6).alias("score")
    ).orderBy("mention")


@q("pipeline_canonicalize", _orc.pipeline_canonicalize_sql())
def pipeline_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components canonicalization with salted min-aggregation
    (canonicalize.py) over a seeded same_as graph. Oracle: an
    independent recursive-SQL transitive closure over the same edges."""
    from motive_rdf_spark.data.generators import seeded_hash
    from motive_rdf_spark.pipeline.canonicalize import connected_components

    edges = spark.range(400).select(
        F.pmod(seeded_hash("md5", F.col("id"), F.lit(7)), F.lit(150)).alias("src"),
        F.pmod(seeded_hash("md5", F.col("id"), F.lit(8)), F.lit(150)).alias("dst"),
    )
    return connected_components(edges).orderBy("node")


@q("incremental_canonicalize", _orc.pipeline_canonicalize_sql())
def incremental_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC (canonicalize.extend_components): the same seeded
    same_as graph as pipeline_canonicalize, but folded in as two
    batches — CC over the first half, then the second half via
    contraction onto components. The oracle is the SAME recursive
    transitive closure over the full edge set: equality proves the
    incremental path reproduces from-scratch CC exactly."""
    from motive_rdf_spark.data.generators import seeded_hash
    from motive_rdf_spark.pipeline.canonicalize import (
        connected_components,
        extend_components,
    )

    def half(lo: int, hi: int) -> DataFrame:
        return spark.range(lo, hi).select(
            F.pmod(seeded_hash("md5", F.col("id"), F.lit(7)), F.lit(150)).alias("src"),
            F.pmod(seeded_hash("md5", F.col("id"), F.lit(8)), F.lit(150)).alias("dst"),
        )

    base = connected_components(half(0, 200))
    return extend_components(base, half(200, 400)).orderBy("node")


@q("pipeline_end_to_end", _orc.pipeline_end_to_end_sql(_PIPE_ROWS))
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full construction DAG in-memory (no writes): extract → link →
    encode → canonicalize → final triples rolled up per predicate
    (decoded, so the oracle compares on strings — counts are invariant
    under the dense-id bijection)."""
    from motive_rdf_spark.data.generators import candidate_dict, source_code_table
    from motive_rdf_spark.pipeline.canonicalize import canonical_entities, rewrite_triples
    from motive_rdf_spark.pipeline.encode import encode_triples
    from motive_rdf_spark.pipeline.materialize import SAME_AS, build_string_triples

    src = source_code_table(spark, _PIPE_ROWS, commits=2, hash_fn="md5").drop("k")
    strs = build_string_triples(
        src, candidate_dict(spark, _PIPE_ROWS, hash_fn="md5")
    ).persist()
    enc, _, pred_dict = encode_triples(strs.select("subj", "pred", "obj"))
    said = pred_dict.filter(F.col("term") == SAME_AS).collect()[0]["id"]
    sa = enc.filter(F.col("p") == said).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    final = rewrite_triples(enc.filter(F.col("p") != said), canonical_entities(sa))
    return (
        final.dropDuplicates()
        .join(F.broadcast(pred_dict.select(F.col("id").alias("p"), F.col("term").alias("pred"))), "p")
        .groupBy("pred")
        .agg(F.count("*").alias("n_triples"), F.countDistinct("s").alias("n_subjects"))
        .orderBy("pred")
    )


@q("streaming_extract", _orc.streaming_extract_sql(100))
def streaming_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KG extraction (streaming/construct.py): the synthesized
    source table staged as a drop directory, drained with
    Trigger.AvailableNow through the same Arrow-batched extractor as
    batch. Oracle: the closed-form expected triple set for the
    reconstructed source table — the streamed output must equal it
    exactly (exactly-once semantics; incremental==batch equality is
    additionally pinned by tests/test_streaming.py)."""
    import shutil
    import tempfile

    from motive_rdf_spark.data.generators import source_code_table
    from motive_rdf_spark.streaming.construct import (
        load_string_triples,
        run_extract_stream,
    )

    src_dir = tempfile.mkdtemp(prefix="swc_stream_src_")
    out_dir = tempfile.mkdtemp(prefix="swc_stream_out_")
    try:
        source_code_table(spark, 100, hash_fn="md5").drop("k").write.mode(
            "overwrite"
        ).parquet(src_dir)
        run_extract_stream(spark, src_dir, out_dir)
        rows = load_string_triples(spark, out_dir).select("subj", "pred", "obj")
        # materialize before the scratch dirs are removed (ADVICE r2:
        # don't leak a pair of mkdtemp dirs per invocation)
        out = spark.createDataFrame(
            rows.collect(), "subj string, pred string, obj string"
        )
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    return out


_STREAM_SUPPORT_ROWS = 80

_STREAM_SUPPORTS_SQL = (
    _orc.extract_triples_cte(_STREAM_SUPPORT_ROWS)
    + """, dst AS (SELECT DISTINCT subj, pred, obj FROM st)
SELECT motif, CAST(support AS BIGINT) AS support FROM (
  SELECT 'calls_vee' AS motif,
         (SELECT COUNT(*) FROM dst t1, dst t2
          WHERE t1.pred = 'calls' AND t2.pred = 'calls' AND t1.obj = t2.obj
            AND t1.subj <> t2.subj AND t1.subj <> t1.obj
            AND t2.subj <> t2.obj) AS support
  UNION ALL
  SELECT 'def_member',
         (SELECT COUNT(*) FROM dst d1, dst d2
          WHERE d1.pred = 'member_of' AND d2.pred = 'defines_class'
            AND d1.obj = d2.obj AND d1.subj <> d1.obj
            AND d1.subj <> d2.subj AND d1.obj <> d2.subj)
)"""
)


@q("streaming_motif_supports", _STREAM_SUPPORTS_SQL)
def streaming_motif_supports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental motif supports
    (streaming/construct.run_support_stream): the synthesized source
    table staged as TWO drop waves, each drained with AvailableNow —
    the second wave's supports are maintained from the first via
    find_delta per micro-batch, never a full re-match. The oracle
    computes the same supports from the closed-form extraction CTE
    with independent SQL self-joins; equality proves the maintained
    number equals a from-scratch match over everything streamed."""
    import shutil
    import tempfile

    from motive_rdf_spark.data.generators import source_code_table
    from motive_rdf_spark.patterns import Pattern
    from motive_rdf_spark.streaming.construct import (
        ground_term,
        load_stream_supports,
        run_support_stream,
    )

    calls, member, defc = (
        ground_term("calls"),
        ground_term("member_of"),
        ground_term("defines_class"),
    )
    motifs = {
        "calls_vee": Pattern([(-1, calls, -3), (-2, calls, -3)]),
        "def_member": Pattern([(-1, member, -2), (-3, defc, -2)]),
    }
    src_dir = tempfile.mkdtemp(prefix="swc_sup_src_")
    out_dir = tempfile.mkdtemp(prefix="swc_sup_out_")
    try:
        full = source_code_table(spark, _STREAM_SUPPORT_ROWS, hash_fn="md5").drop("k")
        # split the waves by a deterministic key predicate — limit()
        # without an order is not stable across re-evaluations, so the
        # two consumers (write of wave A, exceptAll for wave B) could
        # otherwise disagree on which rows wave A held (ADVICE r4)
        wave_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(8)) < 5
        full.filter(wave_a).write.mode("append").parquet(src_dir)
        run_support_stream(spark, src_dir, out_dir, motifs)
        full.filter(~wave_a).write.mode("append").parquet(src_dir)
        run_support_stream(spark, src_dir, out_dir, motifs)
        rows = load_stream_supports(spark, out_dir)
        out = spark.createDataFrame(rows.collect(), "motif string, support long")
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    return out


_DOGFOOD_GOLDENS_SQL = """
SELECT query, CAST(support AS BIGINT) AS support FROM (VALUES
  ('q1', 3307), ('q2', 3307), ('q3', 77897),
  ('supplement_top_motif', 10475)) AS t(query, support)
"""


@q("dogfood_goldens", _DOGFOOD_GOLDENS_SQL)
def dogfood_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own dataset goldens as one result table:
    q1/q2/q3 support counts (FindTest.java:304-364 asserts
    3307/3307/77897) and the supplement's top-motif frequency (10475).
    The oracle is a VALUES literal of the reference's own published
    expectations — independent ground truth (FindTest.java asserts +
    supplement.pdf p.1), not derived from this engine."""
    import os

    from motive_rdf_spark.operators.bgp import find
    from motive_rdf_spark.operators.prune import prune_matches
    from motive_rdf_spark.patterns import Pattern
    from motive_rdf_spark.sources.cache import cached_ntriples_graph
    from motive_rdf_spark.sources.ntriples import term_id

    path = "/root/reference/src/main/resources/data/swdf-2012-11-28.nt.gz"
    schema = "query string, support long"
    if not os.path.exists(path):
        return spark.createDataFrame([], schema)

    # disk-cached encoded graph (VERDICT r3 item 1): the .nt.gz parse +
    # encode runs once per machine; every later run — including the
    # driver's correctness gate — reads the spilled parquet in ~1 s
    t, nd, pd_ = cached_ntriples_graph(spark, path)
    t = t.persist()
    year = term_id(pd_, "<http://swrc.ontoware.org/ontology#year>")
    typ = term_id(pd_, "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>")
    inproc = term_id(nd, "<http://swrc.ontoware.org/ontology#InProceedings>")
    creator = term_id(pd_, "<http://purl.org/dc/elements/1.1/creator>")
    maker = term_id(pd_, "<http://xmlns.com/foaf/0.1/maker>")
    made = term_id(pd_, "<http://xmlns.com/foaf/0.1/made>")
    rows = [
        ("q1", find(t, Pattern([(-1, year, -2), (-1, typ, inproc)])).count()),
        ("q2", find(t, Pattern([(-1, year, -2), (-1, -3, inproc)])).count()),
        ("q3", find(t, Pattern([(-1, -3, -2), (-1, typ, inproc)])).count()),
    ]
    mp = Pattern([(-1, creator, -2), (-1, maker, -2), (-2, made, -1)])
    kept = prune_matches(mp, sorted([list(x) for x in find(t, mp).collect()]))
    rows.append(("supplement_top_motif", len(kept)))
    t.unpersist()
    return spark.createDataFrame(rows, schema)


_HDT_GOLDENS_SQL = """
SELECT query, CAST(support AS BIGINT) AS support FROM (VALUES
  ('aifb_triples', 29226), ('aifb_pub_anyback', 4154),
  ('aifb_pub_authback', 3965),
  ('mutag_triples', 74567), ('mutag_top_motif', 18634)
  ) AS t(query, support)
"""


@q("hdt_goldens", _HDT_GOLDENS_SQL)
def hdt_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIFB/Mutag golden supports loaded straight from the reference's
    own ``.hdt`` binaries (sources/hdt.py; KGraph.loadHDT parity,
    KGraph.java:1197-1317): graph dims (SynthRep.java:47-49) plus the
    supplement's graph-invariant motif supports (AIFB rows 2-3, Mutag
    top row). The oracle is a VALUES literal of the reference's own
    published numbers (SynthRep.java:47-49 + supplement tables) —
    independent ground truth."""
    import os

    from motive_rdf_spark.sources.cache import cached_hdt_graph
    from motive_rdf_spark.sources.ntriples import term_id

    data = "/root/reference/src/main/resources/data"
    schema = "query string, support long"
    if not os.path.exists(f"{data}/aifb.complete.hdt"):
        return spark.createDataFrame([], schema)
    swrs = "http://swrc.ontoware.org/ontology#"
    mtg = "http://dl-learner.org/carcinogenesis#"

    # disk-cached (VERDICT r3 item 1): HDT parses on the driver once
    # per machine; later runs read the spilled parquet
    a, _nd, apd = cached_hdt_graph(spark, f"{data}/aifb.complete.hdt")
    a = a.persist()
    pub = term_id(apd, f"{swrs}publication")
    auth = term_id(apd, f"{swrs}author")
    rows = [
        ("aifb_triples", a.count()),
        ("aifb_pub_anyback", find(a, Pattern([(-1, pub, -2), (-2, -3, -1)])).count()),
        ("aifb_pub_authback", find(a, Pattern([(-1, pub, -2), (-2, auth, -1)])).count()),
    ]
    a.unpersist()

    m, _nd2, mpd = cached_hdt_graph(spark, f"{data}/mutag.complete.hdt")
    m = m.persist()
    ha = term_id(mpd, f"{mtg}hasAtom")
    hb = term_id(mpd, f"{mtg}hasBond")
    ib = term_id(mpd, f"{mtg}inBond")
    rows += [
        ("mutag_triples", m.count()),
        (
            "mutag_top_motif",
            find(m, Pattern([(-1, ha, -3), (-1, hb, -2), (-2, ib, -3)])).count(),
        ),
    ]
    m.unpersist()
    return spark.createDataFrame(rows, schema)


@q("motif_induction", _orc.planted_support_sql(200, 600, 5, 40, 3))
def motif_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end motif induction (search.py): SA over a seeded planted
    graph (portable md5 hashing). The oracle reconstructs the graph in
    SQL and independently computes the planted triangle's exact support
    with a 3-way self-join; the search must (a) report that same raw
    support, (b) retain the planted motif as its best-scoring result,
    and (c) see its pruned frequency reach the k=60 disjoint planted
    instances. Retained-set semantics beyond these checks are pinned by
    tests/test_search.py."""
    from motive_rdf_spark.canon import canonical_key
    from motive_rdf_spark.data.generators import planted_graph
    from motive_rdf_spark.operators.bgp import find_count
    from motive_rdf_spark.patterns import Pattern
    from motive_rdf_spark.search import SAConfig, SimAnnealing, by_score

    # fixture shrunk from (300, 900, k=60, 8 iters) so this entry runs
    # in seconds and always lands inside the driver's correctness
    # budget (VERDICT r3 item 1); search-at-depth semantics are pinned
    # separately by tests/test_search.py and the PR harness
    pat = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]
    g = planted_graph(
        spark, n=200, m=600, r=5, pattern_edges=pat, k=40, seed=3, hash_fn="md5"
    ).persist()
    g.count()
    sa = SimAnnealing(g, SAConfig(iterations=4, seed=5), init_pattern=Pattern(pat))
    try:
        state = sa.run()
    finally:
        sa.close()  # release the persisted per-graph degree frames
    top = by_score(state, 1)[0]
    rows = [
        ("planted_support", find_count(g, Pattern(pat))),
        (
            "top_is_planted",
            int(canonical_key(top.pattern) == canonical_key(Pattern(pat))),
        ),
        ("top_frequency_ge_k", int(top.frequency >= 40)),
    ]
    g.unpersist()
    return spark.createDataFrame(rows, "metric string, value long")


def registry() -> dict[str, tuple[QueryFn, str]]:
    """All contract entries, in registration order."""
    return dict(_REG)
