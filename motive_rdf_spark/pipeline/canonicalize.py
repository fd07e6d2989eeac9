"""Entity canonicalization: connected components over ``same_as``
edges via iterative min-label propagation with salted, two-phase
aggregation (north_star: "connected-components-style iterative
self-joins with salted keys to defuse skew on hub entities").

Algorithm (label propagation, converges in O(component diameter)
rounds — same_as graphs are shallow: mention->entity stars plus a few
chains):

    label(v) := v
    repeat:  label(v) := min(label(v), min_{(v,u) in E} label(u))

Skew handling — the explicit part the north_rule asks for:

- **salted min-aggregation**: a hub entity (e.g. a function called
  from 20% of all files) contributes millions of (node, label)
  candidate rows. The min per node is computed in two phases:
  ``groupBy(node, salt)`` (fan-out S, map-side combinable) then
  ``groupBy(node)`` — no single reducer ever sees a hub's full row
  set.
- **AQE skew-join splitting** (session.py) covers the edges⋈labels
  propagation join.
- ``localCheckpoint`` every round cuts the growing lineage
  (SURVEY.md §4.3).

Determinism: the fixpoint is order-independent (min is idempotent,
commutative, associative), so the result is identical at any
parallelism — the property the resume/scaling tests assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

SALT_BUCKETS = 64


def _salted_min(df: DataFrame, key: str, val: str, buckets: int) -> DataFrame:
    """Two-phase min(val) per key with an explicit salt stage."""
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(val), F.lit(buckets)))
    phase1 = salted.groupBy(key, "_salt").agg(F.min(val).alias(val))
    return phase1.groupBy(key).agg(F.min(val).alias(val))


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    salt_buckets: int = SALT_BUCKETS,
) -> DataFrame:
    """edges: DataFrame[src: long, dst: long] (undirected semantics).

    Returns DataFrame[node: long, component: long] where component =
    min node id of the connected component — the canonical entity id
    rule (deterministic, stable under re-runs).
    """
    sym = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionAll(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
    sym = sym.filter(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=True)

    # convergence by monotonicity: every operation below is a min, so a
    # node's label never increases and the node set is fixed — any
    # change strictly decreases sum(component). The sum rides on each
    # round's checkpoint as an Observation (a partial aggregate the
    # checkpoint job computes in passing): no extra job, and no join
    # against the previous round's labels. decimal(38,0) keeps the sum
    # exact out to ~1e12 nodes x 1e12 ids.
    def _checkpoint_sum(df: DataFrame) -> tuple[DataFrame, object]:
        obs = Observation()
        df = df.observe(
            obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("sum")
        ).localCheckpoint(eager=True)
        return df, obs.get["sum"]

    labels, prev_sum = _checkpoint_sum(
        sym.select(F.col("a").alias("node")).distinct().withColumn("component", F.col("node"))
    )
    for it in range(max_iter):
        # propagate: each edge (a,b) offers label(a) to b. The labels
        # side is hinted shuffle-hash: at real scale it is far past any
        # broadcast threshold anyway, and at bench scale letting AQE
        # broadcast a ~1M-row label table costs a driver-serial
        # broadcast build per round — a fixed term that caps scaling
        offers = sym.join(
            labels.hint("shuffle_hash"), sym["a"] == labels["node"]
        ).select(F.col("b").alias("node"), F.col("component"))
        cand = offers.unionAll(labels.select("node", "component"))
        new_labels = _salted_min(cand, "node", "component", salt_buckets)
        # pointer jumping (path halving): component(v) := component(
        # component(v)). Edge propagation alone needs O(diameter)
        # rounds — a 1e3-long same_as chain would need 1e3 rounds;
        # with jumping the reachable-hop horizon doubles per round,
        # giving O(log diameter) total. Deferred past round 0: the
        # dominant same_as shape (mention→entity stars) settles in the
        # first min-propagation alone, and the jump there maps every
        # label through itself — a full self-join spent on a no-op.
        # Chains still finish in O(log d) (the horizon doubling merely
        # starts one round later); round count is label-sum-gated
        # either way, so correctness is untouched.
        if it > 0:
            jump = new_labels.select(
                F.col("node").alias("jnode"), F.col("component").alias("jcomp")
            ).hint("shuffle_hash")
            new_labels = new_labels.join(
                jump, new_labels["component"] == jump["jnode"], "left"
            ).select(
                "node",
                F.coalesce(F.least("component", "jcomp"), F.col("component")).alias(
                    "component"
                ),
            )
        labels, new_sum = _checkpoint_sum(new_labels)
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def canonical_entities(same_as: DataFrame, all_nodes: DataFrame | None = None) -> DataFrame:
    """Map every node to its canonical id (component min). Nodes never
    mentioned in a same_as edge map to themselves; pass ``all_nodes``
    (DataFrame[node]) to include them explicitly, or leave None and
    apply the mapping with a left join + coalesce downstream."""
    cc = connected_components(same_as)
    if all_nodes is None:
        return cc
    return (
        all_nodes.select("node")
        .distinct()
        .join(cc, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def extend_components(mapping: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental CC: fold a batch of NEW ``same_as`` edges into an
    existing node -> component mapping without re-running CC over the
    accumulated edge set.

    Components only merge under edge additions, so CC factors through
    contraction: map each new edge's endpoints to their current
    components (unmapped endpoints are their own component), drop the
    loops, and run :func:`connected_components` on that CONTRACTED
    edge set — its size is bounded by |Δ|, never by the history. The
    composed mapping equals a from-scratch CC over old ∪ Δ (pinned by
    tests) because the old labels are component minima, and the min
    over a merged set of components is the min of their labels.

    Scale: one broadcast-or-shuffle join to contract Δ, a CC over a
    Δ-bounded graph, and one join to re-label the old mapping — the
    per-snapshot cost a 1e12-edge accumulated graph demands.
    """
    m_src = mapping.select(F.col("node").alias("src"), F.col("component").alias("_cs"))
    m_dst = mapping.select(F.col("node").alias("dst"), F.col("component").alias("_cd"))
    contracted = (
        new_edges.join(m_src, "src", "left")
        .join(m_dst, "dst", "left")
        .select(
            F.coalesce("_cs", F.col("src")).alias("src"),
            F.coalesce("_cd", F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    merges = connected_components(contracted)  # tiny: <= 2|Δ| nodes
    relabel = merges.select(
        F.col("node").alias("component"), F.col("component").alias("_new")
    )
    # old rows re-labeled where their component merged; new endpoints
    # (not previously mapped) enter as their own component, re-labeled
    # the same way
    new_nodes = (
        new_edges.select(F.col("src").alias("node"))
        .unionAll(new_edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(mapping.select("node"), "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return (
        mapping.unionByName(new_nodes)
        .join(relabel, "component", "left")
        .select("node", F.coalesce("_new", F.col("component")).alias("component"))
    )


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite (s,p,o) through the canonical mapping (s and o only —
    predicates live in their own id space). Two hash joins; the mapping
    is usually much smaller than the triples table, so Spark broadcasts
    it when it fits (autoBroadcastJoinThreshold in session.py)."""
    ms = mapping.select(F.col("node").alias("s"), F.col("component").alias("_cs"))
    mo = mapping.select(F.col("node").alias("o"), F.col("component").alias("_co"))
    return (
        triples.join(ms, "s", "left")
        .join(mo, "o", "left")
        .select(
            F.coalesce("_cs", F.col("s")).alias("s"),
            F.col("p"),
            F.coalesce("_co", F.col("o")).alias("o"),
        )
    )
