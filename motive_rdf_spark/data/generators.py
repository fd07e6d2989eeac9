"""Deterministic fixture generators (FIXTURES.md; no external data).

RDF fixtures mirror the reference's test datasets:
- ``find1_graph``   — the 8-triple matcher fixture (FindTest.java:36-46)
- ``test_graph``    — hub generator ``Datasets.test`` (Datasets.java:87-112)
- ``test2_graph``   — chain generator ``Datasets.test2`` (Datasets.java:119-150)
- ``random_graph``  — seeded G(n,m) with uniform predicates
  (``KGraph.randomLabels`` semantics, KGraph.java:1553-1564)
- ``planted_graph`` — planted-motif recovery harness
  (FindTest.motifTest, FindTest.java:391-483; exec/SynthRep.java:167-242)

The graft input fixture (``source_code_table``, ``candidate_dict``)
implements FIXTURES.md §1/§8: a source-code table whose content is
assembled from seeded templates with known ground-truth entities, so
expected extraction output is computable exactly.

Everything is generated distributively (``spark.range`` + hash-derived
columns) — no driver-side materialization, so the same generators run
at bench scale (1M+ rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

TRIPLE_SCHEMA = "s long, p long, o long"


def seeded_hash(hash_fn: str, *parts: Column) -> Column:
    """Deterministic seeded hash column; call sites wrap with ``pmod``.

    ``hash_fn="xx"``   — xxhash64 (fast JVM path; default everywhere).
    ``hash_fn="md5"``  — engine-portable: first 15 hex chars of
    md5(':'-joined parts) as a non-negative 60-bit long. Any SQL engine
    with md5 computes the identical value
    (``('0x' || substring(md5(x), 1, 15))::BIGINT`` in DuckDB), which is
    what lets the driver's DuckDB oracle reconstruct these fixtures
    exactly (oracles.py). Slower than xxhash64 — used by the contract
    entries (hundreds of rows), not the bench-scale generators.
    """
    if hash_fn == "xx":
        return F.xxhash64(*parts)
    if hash_fn == "md5":
        key = F.concat_ws(":", *[p.cast("string") for p in parts])
        return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _as_triples(spark: SparkSession, rows: list[tuple[int, int, int]]) -> DataFrame:
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def find1_graph(spark: SparkSession) -> DataFrame:
    """The 8-triple fixture of FindTest.findTest1 (FindTest.java:36-46)."""
    return _as_triples(
        spark,
        [(0, 0, 1), (0, 0, 2), (0, 1, 3), (1, 0, 3), (2, 0, 3), (3, 1, 4), (4, 1, 5), (4, 0, 5)],
    )


def hub_graph(spark: SparkSession, middle: int) -> DataFrame:
    """Hub generator: for node in [2, middle+2): (node,0,0), (node,1,1)
    (Datasets.test, Datasets.java:87-112). Distributed via spark.range."""
    base = spark.range(2, middle + 2).withColumnRenamed("id", "n")
    t0 = base.select(F.col("n").alias("s"), F.lit(0).cast("long").alias("p"), F.lit(0).cast("long").alias("o"))
    t1 = base.select(F.col("n").alias("s"), F.lit(1).cast("long").alias("p"), F.lit(1).cast("long").alias("o"))
    return t0.unionAll(t1)


def chain_graph(spark: SparkSession, middle: int, seed: int = 42) -> DataFrame:
    """Chain generator: (node1,0,0), (node1,2,node2), (node2,1,1) with
    node2 a seeded permutation of [middle+2, 2*middle+2)
    (Datasets.test2, Datasets.java:119-150; seeded shuffle per FIXTURES.md §4).

    The permutation is a seeded sort of the id range — deterministic and
    distributed (no driver-side shuffle).
    """
    from pyspark.sql import Window

    lhs = (
        spark.range(2, middle + 2)
        .select(F.col("id").alias("n1"))
        .withColumn("i", F.row_number().over(Window.orderBy("n1")) - 1)
    )
    rhs = (
        spark.range(middle + 2, 2 * middle + 2)
        .select(F.col("id").alias("n2"))
        .withColumn("rk", F.xxhash64(F.col("n2"), F.lit(seed)))
        .withColumn("i", F.row_number().over(Window.orderBy("rk")) - 1)
        .drop("rk")
    )
    pairs = lhs.join(rhs, "i").select("n1", "n2")
    a = pairs.select(F.col("n1").alias("s"), F.lit(0).cast("long").alias("p"), F.lit(0).cast("long").alias("o"))
    b = pairs.select(F.col("n1").alias("s"), F.lit(2).cast("long").alias("p"), F.col("n2").alias("o"))
    c = pairs.select(F.col("n2").alias("s"), F.lit(1).cast("long").alias("p"), F.lit(1).cast("long").alias("o"))
    return a.unionAll(b).unionAll(c)


def random_graph(
    spark: SparkSession, n: int, m: int, r: int, seed: int = 42, hash_fn: str = "xx"
) -> DataFrame:
    """Seeded directed G(n, m) topology with uniform random predicate in
    [0, r) — ``KGraph.randomLabels`` semantics (KGraph.java:1553-1564).

    Self-loop-free, duplicate edges possible (as in the reference's
    RandomGraphs.random usage). Fully distributed: every column is a
    hash of the row id. ``hash_fn="md5"`` makes the graph
    reconstructible by the DuckDB oracle (seeded_hash).
    """
    df = spark.range(m).select(
        F.pmod(seeded_hash(hash_fn, F.col("id"), F.lit(seed), F.lit(0)), F.lit(n)).alias("s"),
        F.pmod(seeded_hash(hash_fn, F.col("id"), F.lit(seed), F.lit(1)), F.lit(r)).alias("p"),
        F.pmod(seeded_hash(hash_fn, F.col("id"), F.lit(seed), F.lit(2)), F.lit(n)).alias("o"),
    )
    # avoid self loops deterministically: shift o by 1 when s == o
    return df.withColumn(
        "o", F.when(F.col("s") == F.col("o"), F.pmod(F.col("o") + 1, F.lit(n))).otherwise(F.col("o"))
    )


def plant_instances(
    spark: SparkSession,
    pattern_edges: list[tuple[int, int, int]],
    k: int,
    node_offset: int,
    num_relations: int,
) -> DataFrame:
    """Instantiate a pattern ``k`` times on disjoint fresh node blocks
    (FindTest.java:444-466: instance j uses nodes j*size … j*size+size-1,
    here shifted by ``node_offset`` past the base graph's ids).

    Variables < 0 are assigned fresh node ids per instance; constants are
    kept. Cross-join shape: pattern edges (driver literals) × range(k).
    """
    node_vars = sorted({t for s, _, o in pattern_edges for t in (s, o) if t < 0}, reverse=True)
    var_index = {v: i for i, v in enumerate(node_vars)}
    size = len(node_vars)
    inst = spark.range(k).withColumnRenamed("id", "j")
    parts = []
    for s, p, o in pattern_edges:
        if p < 0:
            raise ValueError("planting requires constant predicates")

        def term(t):
            if t >= 0:
                return F.lit(t).cast("long")
            return (F.col("j") * size + var_index[t] + node_offset).cast("long")

        parts.append(
            inst.select(term(s).alias("s"), F.lit(p).cast("long").alias("p"), term(o).alias("o"), F.col("j").alias("instance_id"))
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionAll(q)
    return out


def planted_graph(
    spark: SparkSession,
    n: int,
    m: int,
    r: int,
    pattern_edges: list[tuple[int, int, int]],
    k: int,
    seed: int = 42,
    hash_fn: str = "xx",
) -> DataFrame:
    """Base G(n,m,r) + k disjoint planted instances (FIXTURES.md §5).
    Planted nodes live above the base id space so instances stay disjoint
    from base-graph structure."""
    base = random_graph(spark, n, m, r, seed, hash_fn)
    inst = plant_instances(spark, pattern_edges, k, node_offset=n, num_relations=r).drop("instance_id")
    return base.unionAll(inst)


# ---------------------------------------------------------------------------
# Graft input: source-code table + entity-linking dictionary (FIXTURES.md §1,§8)
# ---------------------------------------------------------------------------

LANGS = ["python", "java", "go"]
# Closed import vocabulary: linking ground truth is exact.
MODULES = ["core.util", "core.net", "lib.json", "lib.math", "app.model", "app.view"]

SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"


def source_code_table(
    spark: SparkSession,
    rows: int,
    repos: int = 50,
    commits: int = 4,
    seed: int = 42,
    hash_fn: str = "xx",
) -> DataFrame:
    """Deterministic source-code table per BASELINE.json input_hint:
    (repo, path, commit, lang, content).

    Row ``k`` carries entities ``C{k}_cls`` / ``f{k}_fn``, one import from
    the closed MODULES vocabulary, and one call edge to ``f{k2}_fn`` with
    k2 = hash-derived — so the exact (subj, pred, obj) extraction output
    is computable in closed form (tests do so). A deliberate hub: every
    ~5th row also calls ``f0_fn`` (20% of call mentions hit one entity),
    exercising the salted-key skew path required by the north_rule.

    Entirely native expressions (hash pickers + concat) → runs unchanged
    at bench scale.
    """
    df = spark.range(rows).withColumnRenamed("id", "k")

    def pick(salt: int, modulus) -> F.Column:
        return F.pmod(
            seeded_hash(hash_fn, F.col("k"), F.lit(seed), F.lit(salt)), F.lit(modulus)
        )

    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (pick(1, len(LANGS)) + 1).cast("int"))
    module = F.element_at(F.array(*[F.lit(x) for x in MODULES]), (pick(2, len(MODULES)) + 1).cast("int"))
    callee_k = pick(3, rows)
    # hub entity: rows with k % 5 == 0 call f0_fn instead
    callee_k = F.when(F.col("k") % 5 == 0, F.lit(0)).otherwise(callee_k)
    ext = F.when(lang == "python", F.lit(".py")).when(lang == "java", F.lit(".java")).otherwise(F.lit(".go"))

    k_s = F.col("k").cast("string")
    content = F.concat(
        F.lit("import "), module, F.lit("\n"),
        F.lit("class C"), k_s, F.lit("_cls:\n"),
        F.lit("    def f"), k_s, F.lit("_fn(self):\n"),
        F.lit("        return f"), callee_k.cast("string"), F.lit("_fn()\n"),
    )
    return df.select(
        F.concat(F.lit("org"), (pick(4, repos) % 10).cast("string"), F.lit("/repo"), pick(4, repos).cast("string")).alias("repo"),
        F.concat(F.lit("src/mod"), pick(5, 37).cast("string"), F.lit("/file"), k_s, ext).alias("path"),
        F.sha2(F.concat(F.lit("commit"), pick(6, commits)), 256).substr(1, 40).alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
        F.col("k"),
    )


def candidate_dict(spark: SparkSession, rows: int, hash_fn: str = "xx") -> DataFrame:
    """Entity-linking dictionary (FIXTURES.md §8): one canonical entity per
    function surface form, seeded popularity prior. Small & broadcastable."""
    h = (
        F.xxhash64("id")
        if hash_fn == "xx"
        else seeded_hash(hash_fn, F.col("id"), F.lit("prior"))
    )
    return spark.range(rows).select(
        F.concat(F.lit("f"), F.col("id").cast("string"), F.lit("_fn")).alias("surface"),
        F.col("id").alias("entity_id"),
        (F.pmod(h, F.lit(1000)) / 1000.0).alias("prior"),
    )
