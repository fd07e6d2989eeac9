"""Similarity search over an embedding column (``array<float>``) —
approximate-nearest-neighbor for the training-data pipeline.

- ``cosine_topk``      — brute-force exact top-k per query vector:
  block-wise join + native ``F.zip_with``/``F.aggregate`` dot product
  (JVM expressions, whole-stage codegen), window rank per query. The
  correctness baseline; O(|Q|·|C|·d), fine when |Q| is a batch of
  queries against a corpus, wrong tool for all-pairs at 1e9 corpus —
  that is what the LSH variant is for.
- ``lsh_ann_topk``     — random-hyperplane LSH: sign-bit sketch over
  ``num_planes`` seeded hyperplanes buckets the corpus; each query
  only scores its own bucket (plus optionally Hamming-adjacent probes,
  ``multi_probe``). Cost ~ bucket size instead of corpus size.
- ``ivf_ann_topk``     — inverted-file index (IVF): a tiny k-means
  coarse quantizer (trained driver-side on a bounded sample, shipped
  as a literal — nlist×dim floats) partitions the corpus into
  ``num_clusters`` cells; each query scores only its ``nprobe``
  nearest cells. The classic ANN scale path when bucket occupancy
  should follow data density rather than random hyperplanes.

Hyperplanes are generated deterministically from (seed, plane, dim)
via xxhash64 — the same plane matrix on every executor without
shipping one (a broadcast-free determinism trick that also makes the
sketch reproducible across runs and cluster sizes).

Scale notes: bucket skew (a dense region of embedding space) is the
hazard; ``multi_probe=0`` with more planes shrinks buckets
geometrically, and the bucket join is a plain shuffle hash join AQE
can split. Ties are broken by candidate id so ranks are deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def with_unit_vectors(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """L2-normalize once so cosine = dot (saves the per-pair norms).

    The norm is projected into a real column before the element-wise
    divide: expressions inside a higher-order-function lambda are not
    CSE'd across the lambda boundary, so referencing the norm
    aggregate directly would recompute it once per vector ELEMENT
    (O(dim^2) per row; measured 2.3x slower)."""
    v = F.col(vec_col).cast("array<double>")
    nn = F.col("__nrm")
    return (
        emb.withColumn("__nrm", _norm(v))
        .withColumn("_unit", F.when(nn > 0, F.transform(v, lambda x: x / nn)).otherwise(v))
        .drop("__nrm")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self excluded when ids
    collide). Returns [query_id, neighbor_id, sim(4dp), rank]."""
    q = with_unit_vectors(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_unit").alias("_qv")
    )
    c = with_unit_vectors(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("_cv")
    )
    pairs = q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(_dot(F.col("_qv"), F.col("_cv")), 4).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def _hyperplane(plane: int, dim: int, seed: int, hash_fn: str = "xx") -> Column:
    """Deterministic pseudo-random hyperplane as an array<double> column:
    component j = (hash(seed, plane, j) % 2001 - 1000) / 1000.
    ``hash_fn="md5"`` uses the engine-portable hash so the DuckDB oracle
    regenerates the identical plane matrix."""
    from motive_rdf_spark.data.generators import seeded_hash

    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.pmod(
                seeded_hash(hash_fn, F.lit(seed), F.lit(plane), j), F.lit(2001)
            )
            - 1000
        )
        / 1000.0,
    )


def lsh_sketch(
    emb: DataFrame,
    dim: int,
    num_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    hash_fn: str = "xx",
) -> DataFrame:
    """Add a ``bucket`` column: the sign-bit signature of the vector
    against ``num_planes`` deterministic hyperplanes.

    The plane matrix is a constant: it's evaluated ONCE (a single-row
    driver-side job over the same hash expressions, so the values are
    bit-identical to the per-row formula for either hash family) and
    embedded as literal arrays. The per-row work is then just
    ``num_planes`` dot products over codegen'd literals instead of
    ``num_planes * dim`` hash evaluations per vector. The evaluated
    matrix is memoized per (dim, planes, seed, hash family): it is a
    pure function of those four values, and a query like lsh_ann_topk
    sketches queries AND corpus — without the memo each invocation
    paid the one-row evaluation job (~0.9 s of codegen over 512 hash
    expressions) twice."""
    planes = _plane_matrix(emb.sparkSession, dim, num_planes, seed, hash_fn)
    v = F.col(vec_col).cast("array<double>")
    bucket = None
    for p in range(num_planes):
        # ONE py4j literal call per plane (F.lit on a list builds the
        # array literal server-side); element-wise F.lit would cost
        # dim round-trips per plane — measured ~1.4 s of pure driver
        # time per sketch at dim=64
        plane = F.lit(list(planes[p]))
        bit = F.when(_dot(v, plane) >= 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.withColumn("bucket", bucket.cast("long"))


_PLANE_CACHE: dict[tuple[int, int, int, str], tuple[tuple[float, ...], ...]] = {}


def _plane_matrix(
    spark, dim: int, num_planes: int, seed: int, hash_fn: str
) -> tuple[tuple[float, ...], ...]:
    key = (dim, num_planes, seed, hash_fn)
    if key not in _PLANE_CACHE:
        row = (
            spark.range(1)
            .select(
                *[
                    _hyperplane(p, dim, seed, hash_fn).alias(f"p{p}")
                    for p in range(num_planes)
                ]
            )
            .first()
        )
        _PLANE_CACHE[key] = tuple(
            tuple(float(x) for x in row[f"p{p}"]) for p in range(num_planes)
        )
    return _PLANE_CACHE[key]


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh: bool = False,
    dim: int | None = None,
    num_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate detection: all unordered pairs (a < b)
    with cosine >= ``threshold``. Returns [a, b, sim(4dp)].

    ``lsh=False`` (default): exact all-pairs — the oracle baseline;
    cap the input. ``lsh=True``: candidates from same-bucket plus
    Hamming-1 multi-probe of the sign-bit sketch, verified exactly —
    cost ~ Σ bucket², never |C|²; true near-dups (cosine ~1) agree on
    nearly every hyperplane so they share or neighbor a bucket whp.
    """
    c = with_unit_vectors(corpus, vec_col)
    if not lsh:
        a = c.select(F.col(id_col).alias("a"), F.col("_unit").alias("_av"))
        b = c.select(F.col(id_col).alias("b"), F.col("_unit").alias("_bv"))
        pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    else:
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        sk = lsh_sketch(c, dim, num_planes, seed, "_unit")
        a = sk.select(F.col(id_col).alias("a"), F.col("_unit").alias("_av"), "bucket")
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(2**p)) for p in range(num_planes)],
        )
        a = a.withColumn("bucket", F.explode(probes))
        b = sk.select(F.col(id_col).alias("b"), F.col("_unit").alias("_bv"), "bucket")
        # score in the bucket-join stage, THEN dedup: the dropDuplicates
        # exchange then carries (a, b, sim) — 24 bytes — instead of two
        # full unit vectors per candidate pair (same rationale as
        # lsh_ann_topk; sim is deterministic per pair so dedup-after is
        # value-identical)
        sim0 = F.round(_dot(F.col("_av"), F.col("_bv")), 4)
        return (
            a.join(b, "bucket")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", sim0.alias("sim"))
            .dropDuplicates(["a", "b"])
            .filter(F.col("sim") >= threshold)
        )
    # threshold the 4dp-ROUNDED similarity (same as the emitted value)
    # so the keep/drop decision is reproducible by any oracle computing
    # the rounded value — a pair within float noise of the threshold
    # would otherwise be included by one engine and excluded by the
    # other (ADVICE r2)
    sim = F.round(_dot(F.col("_av"), F.col("_bv")), 4)
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def kmeans_centroids(
    corpus: DataFrame,
    num_clusters: int = 16,
    iters: int = 5,
    seed: int = 42,
    sample: int = 50_000,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Train the IVF coarse quantizer: spherical k-means on a bounded
    driver-side sample (numpy). The model is nlist x dim floats — a few
    KB — so training on a sample and shipping it as a literal is the
    correct scale shape (the corpus itself is never collected)."""
    import numpy as np

    rows = with_unit_vectors(corpus, vec_col).select("_unit").limit(sample).collect()
    X = np.array([r["_unit"] for r in rows], dtype=float)
    if len(X) == 0:
        raise ValueError("empty corpus")
    rng = np.random.RandomState(seed)
    k = min(num_clusters, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    C[j] = m / nrm
    return [[float(x) for x in c] for c in C]


def _centroid_lit(centroids: list[list[float]]) -> Column:
    # one py4j call for the whole nlist x dim matrix (see lsh_sketch)
    return F.lit([[float(x) for x in c] for c in centroids])


def _cell_sims(unit_vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of dot(vec, centroid_j) for all j."""
    return F.transform(_centroid_lit(centroids), lambda c: _dot(unit_vec, c))


def ivf_assign(
    emb: DataFrame, centroids: list[list[float]], vec_col: str = "_unit"
) -> DataFrame:
    """Add ``cell`` = index of the nearest centroid (0-based; ties to
    the lowest index via array_position)."""
    sims = _cell_sims(F.col(vec_col), centroids)
    return emb.withColumn(
        "cell", (F.array_position(sims, F.array_max(sims)) - 1).cast("long")
    )


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_clusters: int = 16,
    nprobe: int = 2,
    iters: int = 5,
    seed: int = 42,
    sample: int = 50_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query scores only the candidates in
    its ``nprobe`` nearest centroid cells. Returns
    [query_id, neighbor_id, sim(4dp), rank].

    Pass ``centroids`` to reuse a trained quantizer (e.g. one training
    per corpus version); otherwise trained here on a sample.
    Cost ~ |Q| · nprobe/num_clusters · |C| · d; the cell join is a
    plain shuffle hash join AQE can split on skewed cells.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, num_clusters, iters, seed, sample, vec_col
        )
    c = ivf_assign(with_unit_vectors(corpus, vec_col), centroids).select(
        F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("_cv"), "cell"
    )
    qu = with_unit_vectors(queries, vec_col)
    # nprobe nearest cells per query: sort (−sim, idx) structs ascending
    sims = _cell_sims(F.col("_unit"), centroids)
    ranked_cells = F.slice(
        F.array_sort(
            F.transform(
                sims,
                lambda s, i: F.struct((-s).alias("neg"), i.cast("long").alias("cell")),
            )
        ),
        1,
        nprobe,
    )
    q = qu.select(
        F.col(id_col).alias("query_id"),
        F.col("_unit").alias("_qv"),
        F.explode(F.transform(ranked_cells, lambda x: x["cell"])).alias("cell"),
    )
    pairs = q.join(c, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(_dot(F.col("_qv"), F.col("_cv")), 4).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 0,
    hash_fn: str = "xx",
) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates.
    Returns [query_id, neighbor_id, sim(4dp), rank].

    ``multi_probe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's sketch (flip each plane bit): recall
    rises sharply for vectors near a hyperplane at the cost of
    (num_planes+1)x more candidate pairs — still a vanishing fraction
    of the corpus.
    """
    q = lsh_sketch(
        with_unit_vectors(queries, vec_col), dim, num_planes, seed, "_unit", hash_fn
    )
    c = lsh_sketch(
        with_unit_vectors(corpus, vec_col), dim, num_planes, seed, "_unit", hash_fn
    )
    qs = q.select(F.col(id_col).alias("query_id"), F.col("_unit").alias("_qv"), "bucket")
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(2**p)) for p in range(num_planes)],
        )
        qs = qs.withColumn("bucket", F.explode(probes))
    cs = c.select(F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("_cv"), "bucket")
    pairs = qs.join(cs, "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    # score BEFORE deduplicating: a multi-probe pair can surface from
    # several shared buckets, and dropDuplicates is a shuffle — scoring
    # first means the exchange carries (query_id, neighbor_id, sim)
    # instead of two full unit vectors per pair (2*dim*8 bytes -> 24).
    # The redundant dot products are map-side JVM work, strictly cheaper
    # than shipping the vectors; sim is identical per pair so the
    # surviving row is the same either way.
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(_dot(F.col("_qv"), F.col("_cv")), 4).alias("sim")
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


def centroid_cosine(
    emb: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    outlier_below: float = 0.0,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-cluster coherence / outlier filter: cosine of every
    vector to its group's centroid (elementwise mean) — the standard
    "distance to domain centroid" curation signal (drop or down-weight
    embeddings that do not belong to their labeled cluster).

    Returns DataFrame[id_col, group_col, cos_centroid,
    is_outlier = cos_centroid < outlier_below].

    Scale design: one posexplode (narrow, dim rows per vector) → the
    centroid is a partial-aggregatable groupBy on (group, dim) — at
    most |groups|·dim rows, so the join back is a broadcast; the
    per-vector reduction is a single groupBy on the vector id. No
    crossJoin, no window, no Python. The 4dp ROUND also absorbs
    double-summation order differences across partitionings.
    """
    pos = emb.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
    )
    cent = pos.groupBy(group_col, "dim").agg(F.avg("x").alias("c"))
    cnorm = cent.groupBy(group_col).agg(
        F.sum(F.col("c") * F.col("c")).alias("cc")
    )
    per = (
        pos.join(F.broadcast(cent), [group_col, "dim"])
        .groupBy(id_col, group_col)
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("xx"),
        )
    )
    cos = F.col("dot") / (F.sqrt(F.col("xx")) * F.sqrt(F.col("cc")))
    return (
        per.join(F.broadcast(cnorm), group_col)
        .select(
            id_col,
            group_col,
            F.round(cos, round_to).alias("cos_centroid"),
        )
        .withColumn("is_outlier", F.col("cos_centroid") < outlier_below)
    )


def centroid_cosine_sql(
    table: str = "embeddings",
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    outlier_below: float = 0.0,
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`centroid_cosine` (ordinality via the
    two-arg list_transform lambda)."""
    return f"""
WITH pos AS (
  SELECT {id_col}, {group_col}, u.dim, u.x FROM (
    SELECT {id_col}, {group_col},
           unnest(list_transform(CAST({vec_col} AS DOUBLE[]),
                                 (x, i) -> {{'dim': i, 'x': x}})) AS u
    FROM {table})
), cent AS (
  SELECT {group_col}, dim, AVG(x) AS c FROM pos GROUP BY {group_col}, dim
), cnorm AS (
  SELECT {group_col}, SUM(c * c) AS cc FROM cent GROUP BY {group_col}
), per AS (
  SELECT {id_col}, pos.{group_col}, SUM(x * c) AS dot, SUM(x * x) AS xx
  FROM pos JOIN cent ON cent.{group_col} = pos.{group_col} AND cent.dim = pos.dim
  GROUP BY {id_col}, pos.{group_col}
)
SELECT {id_col}, per.{group_col},
       ROUND(dot / (sqrt(xx) * sqrt(cc)), {round_to}) AS cos_centroid,
       ROUND(dot / (sqrt(xx) * sqrt(cc)), {round_to}) < {outlier_below} AS is_outlier
FROM per JOIN cnorm ON cnorm.{group_col} = per.{group_col}"""


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    lsh: bool = False,
    dim: int | None = None,
    num_planes: int = 8,
    seed: int = 42,
    hash_fn: str = "xx",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of the shingle-based ``dedup.decontaminate``: flag every
    corpus vector whose max cosine against ANY benchmark vector
    reaches ``threshold`` (a paraphrased eval question shares no
    5-gram but sits next to the original in embedding space).

    Returns [id_col, max_bench_sim(4dp), contaminated]. Self-pairs
    (same id on both sides) are excluded so a benchmark row inside the
    corpus is flagged only by OTHER benchmark rows.

    ``lsh=False``: exact bipartite scoring — corpus x benchmark, which
    at real scale is fine whenever the benchmark side is bounded (a
    few hundred k rows broadcast; the corpus never shuffles — the same
    zero-corpus-shuffle structure as the shingle path). ``lsh=True``:
    both sides sketched, benchmark exploded with Hamming-1 probes,
    same-bucket candidates only — for benchmark sets too large to
    broadcast; ``max_bench_sim`` is then the max over candidates (the
    contaminated flag agrees whp — near-dups agree on nearly every
    hyperplane), and corpus rows with no candidate report -1.0.
    """
    c = with_unit_vectors(corpus, vec_col).select(
        F.col(id_col), F.col("_unit").alias("_cv")
    )
    b = with_unit_vectors(benchmark, vec_col).select(
        F.col(id_col).alias("_bid"), F.col("_unit").alias("_bv")
    )
    if not lsh:
        pairs = c.join(F.broadcast(b), c[id_col] != b["_bid"])
    else:
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        cs = lsh_sketch(
            with_unit_vectors(corpus, vec_col), dim, num_planes, seed, "_unit", hash_fn
        ).select(F.col(id_col), F.col("_unit").alias("_cv"), "bucket")
        bs = lsh_sketch(
            with_unit_vectors(benchmark, vec_col), dim, num_planes, seed, "_unit", hash_fn
        ).select(F.col(id_col).alias("_bid"), F.col("_unit").alias("_bv"), "bucket")
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(2**p)) for p in range(num_planes)],
        )
        bs = bs.withColumn("bucket", F.explode(probes))
        pairs = cs.join(bs, "bucket").filter(F.col(id_col) != F.col("_bid"))
    sims = (
        pairs.select(id_col, F.round(_dot(F.col("_cv"), F.col("_bv")), 4).alias("sim"))
        .groupBy(id_col)
        .agg(F.max("sim").alias("max_bench_sim"))
    )
    return (
        c.select(id_col)
        .join(sims, id_col, "left")
        .select(
            id_col,
            F.coalesce("max_bench_sim", F.lit(-1.0)).alias("max_bench_sim"),
            (F.coalesce("max_bench_sim", F.lit(-1.0)) >= threshold).alias("contaminated"),
        )
    )
