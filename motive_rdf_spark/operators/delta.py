"""Incremental (delta) BGP matching: the matches a snapshot append
adds, WITHOUT re-matching the full graph — semi-naive delta-join
evaluation, the incremental-view-maintenance rule specialized to the
matcher's join cascade.

Motivation (north_star: "checkpoint-resumable per Iceberg snapshot"):
after materializing snapshot t, a new snapshot appends a (usually
small) set of triples Δ. The supports the engine maintains per motif
(operators/motifset.py, SAState) then need the match count of
G ∪ Δ — re-running ``find`` scans |G|+|Δ| k times. The delta rule
computes only the NEW matches:

    Δmatch(P, G, Δ) = ⋃_{i=1..k} match(e_1..e_{i-1} over G,
                                        e_i          over Δ,
                                        e_{i+1}..e_k over G ∪ Δ)

Each match that uses at least one Δ triple is produced EXACTLY once —
classified by the first pattern-edge position (in the pattern's own
edge order) bound to a Δ triple: earlier edges are restricted to old
triples, that edge to Δ, later edges unrestricted. Matches using only
old triples never appear (run i forces edge i into Δ). Hence

    match(G ∪ Δ) = match(G)  ⊎  Δmatch(P, G, Δ)      (disjoint)
    support(G ∪ Δ) = support(G) + |Δmatch|

Scale: each of the k runs is driven by the Δ scan of its pinned edge —
the cascade starts AT that edge, so every run's leading relation is
|Δ|-sized and the expansion joins stream the big graph against a
small embedding. Total work ~ k * (Δ-selective cascade), independent
of |G| beyond the per-edge hash joins — the whole point versus the
O(|G|^k-shaped) full re-match. Edge ids (__tid = xxhash64(s,p,o)) are
content hashes, identical across the old / delta / union views, so
the per-edge distinctness filters compose across sources unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from motive_rdf_spark.operators.bgp import GraphStore, TID, _edge_scan, prepare_triples
from motive_rdf_spark.patterns import Pattern, var_col


def _order_from(pattern: Pattern, start: int) -> list[int]:
    """Left-deep order pinned to start at edge ``start``, then greedy
    connected (shares a variable with the bound set), most-constant
    first — the static heuristic of bgp._order_edges with a forced
    head (the Δ edge is the most selective relation by construction)."""
    edges = list(pattern.edges)

    def cost(e) -> float:
        return sum((t < 0) * (2.0 if pos != 1 else 1.0) for pos, t in enumerate(e))

    def edge_vars(e) -> set[int]:
        return {t for t in e if t < 0}

    order = [start]
    bound = edge_vars(edges[start])
    remaining = set(range(len(edges))) - {start}
    while remaining:
        connected = [i for i in remaining if edge_vars(edges[i]) & bound]
        pool = connected or sorted(remaining)
        best = min(pool, key=lambda i: (cost(edges[i]), i))
        order.append(best)
        bound |= edge_vars(edges[best])
        remaining.discard(best)
    return order


#: broadcast the Δ-driven leading embedding into its first expansion
#: join below this Δ row count: the big graph-side scan then streams
#: unshuffled (BroadcastHashJoin) instead of paying a full shuffle per
#: run. Only the FIRST join per run — the embedding is exactly |Δ|
#: rows there; after an expansion its size is data-dependent and AQE
#: decides from runtime stats.
BROADCAST_MAX_DELTA = 1_000_000


def find_delta(
    old: DataFrame | GraphStore,
    delta: DataFrame,
    pattern: Pattern,
    assume_new: bool = False,
    distinct_edges: bool = True,
    adaptive: bool = True,
) -> DataFrame:
    """All matches of ``pattern`` in ``old ∪ delta`` that use at least
    one ``delta`` triple — disjoint from ``find(old, pattern)``, and
    their union is exactly ``find(old ∪ delta, pattern)`` (pinned by
    tests). Columns ``v1..vk`` like ``find``.

    ``old`` may be a ``GraphStore``: old-graph edge scans then read the
    pre-partitioned cached copies (exchange elision exactly as in
    ``find``), which matters because the old graph is the BIG side of
    every run — the delta is small by assumption.

    ``assume_new=True`` skips the anti-join that strips delta triples
    already present in ``old`` (pass it when the caller guarantees
    disjointness, e.g. a ledgered snapshot append).

    ``adaptive=True`` (default) materializes each run's INTERMEDIATE
    embedding (``localCheckpoint`` + count) while it is provably
    broadcast-small, so every expansion join broadcasts the embedding
    and streams the big graph scan exchange-free; set False to keep
    the whole result fully lazy (identical rows either way).

    The (small) prepared delta is persisted and counted up front: the
    count funds the per-run EMPTY-Δ SHORT-CIRCUIT — run *i* is skipped
    outright when edge *i*'s filtered Δ scan has no rows (a cheap
    cached probe), so a delta that touches only some relations costs
    only those cascades (VERDICT r4 item 4) — and the cache is read k
    times instead of re-deriving the anti-join per run. The returned
    DataFrame exposes the cached delta as ``._delta_cached``; whoever
    consumes the result owns it and must unpersist it, or every call
    leaves one cached frame behind. Callers that only need the count
    use ``delta_support``, which does."""
    if not pattern.edges:
        raise ValueError("empty pattern")
    store = old if isinstance(old, GraphStore) else None
    old_p = store.plain if store is not None else prepare_triples(old)
    delta_p = prepare_triples(delta)
    if not assume_new:
        delta_p = delta_p.join(old_p.select("s", "p", "o"), ["s", "p", "o"], "left_anti")
    delta_p = delta_p.persist()
    delta_n = delta_p.count()
    # Δ predicate stats for the short-circuit below: ONE tiny job over
    # the cached delta instead of k isEmpty probes (per-job latency is
    # the delta path's main overhead at small |Δ|)
    delta_preds: set[int] = (
        {r["p"] for r in delta_p.select("p").distinct().collect()}
        if delta_n
        else set()
    )
    full_p = old_p.select("s", "p", "o", TID).unionByName(
        delta_p.select("s", "p", "o", TID)
    )

    def _delta_maybe_empty(edge: tuple[int, int, int], i: int) -> bool:
        """True iff edge i's filtered Δ scan is provably or actually
        empty. A constant predicate misses the collected Δ predicate
        set → provably empty, no job; a constant s/o needs one cached
        probe (rare edge shape)."""
        if delta_n == 0:
            return True
        s, p, o = edge
        if p >= 0 and p not in delta_preds:
            return True
        if s >= 0 or o >= 0 or (s < 0 and s == o):
            # node constants / self-loop equality: one cached probe
            return _edge_scan(delta_p, edge, i).isEmpty()
        return False  # predicate satisfied (var or in Δ), nodes free

    node_var_cols = [var_col(v) for v in pattern.node_vars]
    k = len(pattern.edges)

    def _build_run(i: int) -> DataFrame | None:
        # empty-Δ short-circuit: run i cannot produce a match when the
        # delta holds no triple matching edge i's constants
        if _delta_maybe_empty(pattern.edges[i], i):
            return None
        emb: DataFrame | None = None
        # known row count of the current embedding (None = unknown/big).
        # Seeded with |Δ| for the leading scan (constants only shrink
        # it); refreshed by the adaptive checkpoints below.
        emb_count: int | None = None
        present: set[str] = set()
        injected: set[frozenset[str]] = set()
        order = _order_from(pattern, i)
        for pos, idx in enumerate(order):
            if idx < i:
                src = (
                    store.for_edge(pattern.edges[idx], present)
                    if store is not None
                    else old_p
                )
            elif idx == i:
                src = delta_p
            else:
                src = full_p
            scan = _edge_scan(src, pattern.edges[idx], idx)
            evars = [c for c in scan.columns if not c.startswith(TID)]
            if emb is None:
                emb = scan
                emb_count = delta_n
                small = emb_count <= BROADCAST_MAX_DELTA
            else:
                shared = [c for c in evars if c in present]
                # a Δ-bounded embedding broadcasts into the expansion
                # join so the big graph-side scan STREAMS (cached,
                # exchange-free) instead of shuffling per run — the
                # whole point of Δ-driven cascades
                small = emb_count is not None and emb_count <= BROADCAST_MAX_DELTA
                left_side = F.broadcast(emb) if small else emb
                emb = (
                    left_side.join(scan, on=shared, how="inner")
                    if shared
                    else left_side.crossJoin(scan)
                )
                emb_count = None
            present.update(evars)
            for a_i, a in enumerate(node_var_cols):
                for b in node_var_cols[a_i + 1 :]:
                    key = frozenset((a, b))
                    if a in present and b in present and key not in injected:
                        emb = emb.filter(F.col(a) != F.col(b))
                        injected.add(key)
            # adaptive step materialization (VERDICT r4 item 4): while
            # the embedding provably stayed broadcast-small, checkpoint
            # and count it so the NEXT expansion can broadcast it too —
            # k-1 exchange-free streamed scans per run instead of k-1
            # shuffles of the big graph. Never materialize the final
            # embedding (it is the run's output and may be huge); once
            # a count comes back big, later joins fall back to the
            # lazy shuffled plan.
            if adaptive and small and pos > 0 and pos < len(order) - 1:
                emb = emb.localCheckpoint(eager=True)
                emb_count = emb.count()
        assert emb is not None
        if distinct_edges and k > 1:
            tids = [f"{TID}_{n}" for n in range(k)]
            for a_i in range(k):
                for b_i in range(a_i + 1, k):
                    pi, pj = pattern.edges[a_i][1], pattern.edges[b_i][1]
                    if pi >= 0 and pj >= 0 and pi != pj:
                        continue
                    emb = emb.filter(F.col(tids[a_i]) != F.col(tids[b_i]))
        out_cols = [var_col(v) for v in pattern.variables]
        return (
            emb.limit(1).select(F.lit(True).alias("matched"))
            if not out_cols
            else emb.select(*out_cols)
        )

    # build the k runs on driver THREADS: each run's adaptive
    # checkpoint+count jobs are independent, so submitting them
    # concurrently overlaps their cluster work (the per-run jobs were
    # the delta path's serialized overhead) — the same pattern
    # encode_triples uses for its two dictionary builds. Spark job
    # submission is thread-safe; result order stays by run index.
    from concurrent.futures import ThreadPoolExecutor

    if adaptive and k > 1:
        with ThreadPoolExecutor(max_workers=min(k, 4)) as pool:
            built = list(pool.map(_build_run, range(k)))
    else:
        built = [_build_run(i) for i in range(k)]
    runs = [r for r in built if r is not None]
    if not runs:  # every edge's Δ scan was empty — no new match possible
        node_t = delta_p.schema["s"].dataType.simpleString()
        pred_t = delta_p.schema["p"].dataType.simpleString()
        fields = [
            f"{var_col(v)} {node_t if v in pattern.node_vars else pred_t}"
            for v in pattern.variables
        ]
        out = delta_p.sparkSession.createDataFrame(
            [], ", ".join(fields) or "matched boolean"
        )
    else:
        out = runs[0]
        for r_df in runs[1:]:
            out = out.unionAll(r_df)
    out._delta_cached = delta_p
    return out


def delta_support(old: DataFrame, delta: DataFrame, pattern: Pattern, **kw) -> int:
    """|Δmatch| — add to the maintained support instead of re-counting
    the union graph."""
    df = find_delta(old, delta, pattern, **kw)
    n = df.count()
    df._delta_cached.unpersist()
    return n
