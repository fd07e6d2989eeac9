"""Near-duplicate detection over the ``documents`` table — the
training-data-pipeline operators a 100 TB corpus needs. All native
Spark expressions (JVM-side, whole-stage-codegen); no Python in any
hot path.

- exact dedup            — hash-groupBy
- word n-grams           — shingling primitive
- n-gram Jaccard         — exact pairwise similarity via shingle
                           inverted index (explode → self-join →
                           count), never a full cross product: only
                           pairs sharing ≥1 shingle are generated
- MinHash + LSH          — xxhash64-seeded minhash signatures, banded
                           into buckets; candidate pairs come from
                           bucket joins (the scale path: cost ~
                           sum of bucket sizes², not n²)
- SimHash                — md5-derived bit votes (md5 so the DuckDB
                           oracle computes the identical fingerprint)

Scale notes: the shingle inverted index is the classic skew hazard —
a stop-shingle appearing in half the corpus creates a quadratic
bucket. ``max_shingle_df`` drops shingles with document frequency
above a cap (standard practice: such shingles carry no dedup signal),
which bounds every bucket; AQE skew-join covers the residue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_ngrams(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word n-grams per document: DataFrame[id_col, shingle].
    Native: split + sequence + transform + explode.

    The split is projected into a real column FIRST: expressions inside
    a higher-order-function lambda are not common-subexpression
    eliminated across the lambda boundary, so referencing the split
    directly would re-tokenize the document once per shingle position
    (measured 5x slower at sf0.1). ``element_at`` per word avoids the
    per-position array allocation ``slice`` would do."""
    w = F.col("__w")
    # documents with fewer than n words yield NO shingles (not one
    # truncated sub-n-gram — ADVICE r1), matching the Jaccard oracle's
    # len >= n contract
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(1, n + 1)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = (
        docs.select(F.col(id_col), F.split(F.col(text_col), r"\s+").alias("__w"))
        .select(F.col(id_col), F.explode(grams).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )
    return out.dropDuplicates([id_col, "shingle"])


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join — no cross product)
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag every corpus document sharing at
    least one word ``n``-gram with any benchmark document. Returns
    DataFrame[id_col, contaminated(long 0/1)] — one row per corpus doc.

    Scale path: the benchmark's distinct shingle set is tiny next to a
    100 TB corpus (eval suites are MBs), so it broadcasts and the
    corpus-side shingles stream through a left-semi broadcast join —
    no corpus shuffle at all. Set ``broadcast_benchmark=False`` for an
    unusually large benchmark; the semi join then shuffles on the
    shingle key (inverted-index shape, same as the Jaccard join). No
    ``max_shingle_df`` cap here: dropping frequent shingles would turn
    real contamination into silent false negatives."""
    doc_sh = word_ngrams(docs, n, id_col, text_col)
    bench_sh = word_ngrams(benchmark, n, id_col, text_col).select("shingle").distinct()
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    hits = (
        doc_sh.join(bench_sh, "shingle", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        docs.select(id_col)
        .distinct()
        .join(hits, id_col, "left")
        .select(
            id_col, F.coalesce("__hit", F.lit(0)).cast("long").alias("contaminated")
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All document pairs (a < b) with n-gram Jaccard >= threshold.
    Returns DataFrame[a, b, jaccard(double, 4dp)]."""
    sh = word_ngrams(docs, n, id_col, text_col)
    if max_shingle_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = sh.join(
            df_counts.filter(F.col("df") <= max_shingle_df).select("shingle"), "shingle"
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    return (
        common.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    shingles: DataFrame,
    num_hashes: int = 32,
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xx",
) -> DataFrame:
    """Per-doc minhash signature: DataFrame[id_col, sig array<long>].
    One groupBy computes all mins (partial-aggregatable — skew-safe).

    ``hash_fn="xx"``: h_i(x) = xxhash64(x, seed+i) (fast JVM default).
    ``hash_fn="md5"``: engine-portable *affine* family — ONE md5 per
    shingle split into two hex lanes a (15 chars, <2^60) and b
    (13 chars, <2^52), then h_i = a + (seed+i)*b. Any engine with md5
    computes identical signatures, and the
    md5 cost is per-shingle, not per-(shingle, i): overflow-free since
    (seed+i) < 100 keeps h_i under 2^61."""

    if hash_fn == "xx":
        prep = shingles

        def h(i: int) -> F.Column:
            return F.xxhash64("shingle", F.lit(seed + i))

    else:
        md = F.md5(F.col("shingle").cast("string"))
        prep = shingles.withColumn(
            "__a", F.conv(F.substring(md, 1, 15), 16, 10).cast("long")
        ).withColumn("__b", F.conv(F.substring(md, 16, 13), 16, 10).cast("long"))

        def h(i: int) -> F.Column:
            return F.col("__a") + F.lit(seed + i) * F.col("__b")

    mins = [F.min(h(i)).alias(f"h{i}") for i in range(num_hashes)]
    agg = prep.groupBy(id_col).agg(*mins)
    return agg.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """Band the signature into ``bands`` buckets; docs sharing any band
    bucket become a candidate pair. DataFrame[a, b] (a < b, distinct).

    Bucket key: xxhash64 of the band's signature slice (``"xx"``), or
    the raw comma-joined slice string (``"md5"`` portable mode — the
    oracle joins on the same string; at scale the hashed key is what
    you want, the string key only serves cross-engine verification)."""
    # band i = key of the slice sig[i*r : (i+1)*r]
    sig_len_expr = F.size("sig")

    def band_key(i) -> F.Column:
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(
                    "sig",
                    (i * (sig_len_expr / bands).cast("int")) + 1,
                    (sig_len_expr / bands).cast("int"),
                ),
                lambda x: x.cast("string"),
            ),
        )
        return F.xxhash64(joined) if hash_fn == "xx" else joined

    banded = signatures.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(i.alias("band"), band_key(i).alias("bucket")),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    l = banded.select(F.col(id_col).alias("a"), "band", "bucket")
    r = banded.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hash_fn: str = "xx",
) -> DataFrame:
    """Full MinHash-LSH dedup: shingle → minhash → band-bucket join →
    verify candidates with exact Jaccard. Returns [a, b, jaccard]."""
    sh = word_ngrams(docs, n, id_col, text_col)
    sig = minhash_signatures(sh, num_hashes, id_col, seed, hash_fn)
    cand = lsh_candidate_pairs(sig, bands, id_col, hash_fn)
    # exact verification only on candidates (semi-join reduction)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    common = (
        cand.join(a, "a")
        .join(b, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash (md5-based so DuckDB computes the identical fingerprint)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over distinct words: word hash = first 8 hex chars
    of md5(word); bit j of the fingerprint is set iff the sum of
    (±1) votes from word-hash bit j is positive. DataFrame[id_col, sh].

    md5 (not xxhash64) so the ANSI-SQL oracle reproduces fingerprints
    bit-for-bit (:func:`simhash_sql`)."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("w")
    ).filter(F.length("w") > 0).dropDuplicates([id_col, "w"])
    h = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = words.groupBy(id_col).agg(*votes)
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return agg.select(id_col, fp.alias("sh"))


def simhash_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    """The DuckDB oracle for :func:`simhash` — generated to mirror the
    Spark expression term by term."""
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(f"(CASE WHEN b{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(SIMHASH_BITS))
    return f"""
WITH words AS (
  SELECT DISTINCT {id_col}, w
  FROM (SELECT {id_col}, unnest(string_split_regex({text_col}, '\\s+')) AS w FROM {table})
  WHERE length(w) > 0
), hashed AS (
  SELECT {id_col}, ('0x' || substring(md5(w), 1, 8))::UBIGINT AS h FROM words
), voted AS (
  SELECT {id_col},
    {votes}
  FROM hashed GROUP BY {id_col}
)
SELECT {id_col}, CAST({fp} AS BIGINT) AS sh FROM voted
"""


# ---------------------------------------------------------------------------
# near-duplicate clustering: one canonical document per dup cluster
# ---------------------------------------------------------------------------


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse verified near-dup pairs into clusters and pick one
    canonical representative per cluster — the step after pair
    detection that an actual dedup pipeline ships: connected
    components over the pair graph (the salted min-label + pointer-
    jumping implementation from pipeline/canonicalize.py, so a viral
    boilerplate cluster spanning millions of documents converges in
    O(log diameter) rounds with no hot partition), then every document
    labeled [doc_id, cluster_id, is_canonical] where cluster_id = min
    doc id of its cluster and singletons are their own cluster.
    Training-set construction keeps `is_canonical` rows only.

    ``pairs`` is any [a, b, ...] near-dup pair frame (minhash_dedup_pairs,
    ngram_jaccard_pairs, cosine near-dup) with ids in ``docs``'s id space.
    """
    from motive_rdf_spark.pipeline.canonicalize import connected_components

    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(edges)
    did = F.col(id_col)
    return (
        docs.select(did.alias("doc_id"))
        .join(comp, F.col("doc_id") == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


# ---------------------------------------------------------------------------
# duplicated-span signal: longest run of cross-document n-grams
# ---------------------------------------------------------------------------


def max_dup_ngram_run(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring-dedup signal (the Lee et al. "deduplicating
    training data" span criterion, as a per-document score): the
    length, in n-gram positions, of the longest run of CONSECUTIVE
    n-grams that each also appear in some other document. A doc whose
    max run is r contains a duplicated substring of r+n-1 tokens; span
    removal thresholds on this. 0 = no cross-document n-gram at all.

    Scale shape: positional n-grams (explode) -> cross-doc gram set
    (distinct-doc DF >= 2: two partial-aggregatable groupBys) -> left-
    semi join back -> per-document gaps-and-islands window. The window
    partitions by doc_id — per-doc work, never a global sort; the
    gram join is the same inverted-index shape as ngram_jaccard.
    """
    w = F.col("__w")
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(1, n + 1)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos_grams = (
        docs.select(F.col(id_col), F.split(F.col(text_col), r"\s+").alias("__w"))
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "gram"))
    )
    # grams appearing in >= 2 distinct documents
    cross = (
        pos_grams.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gram")
    )
    flagged = pos_grams.join(cross, "gram", "left_semi")
    # gaps-and-islands: consecutive positions share (pos - row_number)
    win = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        flagged.withColumn("__grp", F.col("pos") - F.row_number().over(win))
        .groupBy(id_col, "__grp")
        .agg(F.count("*").alias("run"))
        .groupBy(id_col)
        .agg(F.max("run").alias("max_dup_run"))
    )
    return (
        docs.select(F.col(id_col))
        .join(runs, id_col, "left")
        .select(
            id_col, F.coalesce(F.col("max_dup_run"), F.lit(0)).cast("long").alias("max_dup_run")
        )
    )


def max_dup_ngram_run_sql(
    table: str = "documents",
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """ANSI-SQL twin of :func:`max_dup_ngram_run` (DuckDB list ops +
    window gaps-and-islands), regex tokenizer matching \\s+."""
    gram = " || ' ' || ".join(["x"] + [f"w[i+{j}]" for j in range(1, n)])
    return rf"""
WITH toks AS (
  SELECT {id_col}, string_split_regex({text_col}, '\s+') AS w FROM {table}
), pg AS (
  SELECT {id_col}, u['g'] AS gram, u['i'] AS pos FROM (
    SELECT {id_col},
           unnest(CASE WHEN len(w) >= {n}
                       THEN list_transform(w[1:len(w)-{n - 1}],
                            (x, i) -> {{'g': {gram}, 'i': i}})
                       ELSE CAST([] AS STRUCT(g VARCHAR, i BIGINT)[]) END) AS u
    FROM toks)
), cross_grams AS (
  SELECT gram FROM (
    SELECT gram, COUNT(*) AS df FROM (SELECT DISTINCT {id_col}, gram FROM pg)
    GROUP BY gram) WHERE df >= 2
), flagged AS (
  SELECT pg.{id_col}, pg.pos FROM pg JOIN cross_grams USING (gram)
), runs AS (
  SELECT {id_col}, MAX(run) AS max_dup_run FROM (
    SELECT {id_col}, COUNT(*) AS run FROM (
      SELECT {id_col}, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY pos) AS grp
      FROM flagged)
    GROUP BY {id_col}, grp)
  GROUP BY {id_col}
)
SELECT d.{id_col}, CAST(COALESCE(r.max_dup_run, 0) AS BIGINT) AS max_dup_run
FROM {table} d LEFT JOIN runs r ON d.{id_col} = r.{id_col}
"""
