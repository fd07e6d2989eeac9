"""Motif search: simulated-annealing hill climb over BGP patterns —
the reference's control plane (SimAnnealing.java:117-218) re-expressed
as a driver loop where each candidate evaluation is one short Spark
job pipeline (match → prune → MDL score).

Per iteration: pick one of seven transitions by uniform weight
(SimAnnealing.java:90-98), canonicalize, score with a per-canonical-
pattern memo (SimAnnealing.java:103,166-178), accept if strictly
better or with probability ``alpha`` (the unconditional-accept rule at
SimAnnealing.java:206).

Transitions (SimAnnealing.java:226-618): EXTEND (grow by a random
graph edge incident to a sampled instance), COUPLE (merge two
predicate variables observed equal in a sampled match),
MAKE_LINK_CONST / MAKE_NODE_CONST (ground a variable to a sampled
binding), MAKE_NODE_VAR / MAKE_LINK_VAR (lift a constant to a fresh
variable), RM_EDGE (drop a non-bridging edge, renumber). Sampling
needs only a handful of rows (`limit(sample_rows).collect()`), never a
full materialization.

Parallel chains (SAParallel.java:45-127): ``sa_parallel`` runs N
independent chains in driver threads sharing one SparkSession — Spark
schedules their jobs concurrently across executors (the cluster-
friendly replacement for the reference's shared-heap thread pool) —
and merges per-chain results keeping the min score per canonical
pattern (SAParallel.register, SAParallel.java:111-127).

Scale: every scoring job is bounded by ``max_matches`` (the analog of
the reference's wall-clock match budget, Find.java:59-69) so a
hub-exploding candidate cannot stall the search; the triples DataFrame
should be ``persist()``-ed by the caller once and is only read.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, functions as F

from motive_rdf_spark.canon import canonical_key
from motive_rdf_spark.operators import degrees as deg
from motive_rdf_spark.operators.bgp import find, find_budgeted
from motive_rdf_spark.operators.localgraph import LOCAL_GRAPH_LIMIT, LocalGraph
from motive_rdf_spark.operators.mdl_ops import (
    GraphDegrees,
    null_bits,
    null_bits_arrays,
    score_motif,
    score_motif_rows,
)
from motive_rdf_spark.operators.prune import prune_matches, prune_matches_df
from motive_rdf_spark.patterns import Pattern, renumber

MAX_PATTERN_SIZE = 10  # edges (SimAnnealing.java:58)

TRANSITIONS = (
    "extend",
    "couple",
    "make_link_const",
    "make_node_const",
    "make_node_var",
    "make_link_var",
    "rm_edge",
)


@dataclass
class MotifResult:
    pattern: Pattern
    score: float
    frequency: int


@dataclass
class SAConfig:
    iterations: int = 100
    alpha: float = 0.5
    max_matches: int = 200_000
    # wall-clock budget per candidate match job (Find.java:59-69);
    # None = row budget only. When set, a candidate whose matcher
    # exceeds it yields partial (still-correct) matches and bumps
    # SAState.timed_out_count.
    max_time_s: float | None = None
    driver_prune_threshold: int = 50_000
    sample_rows: int = 20
    retain: int = 100  # MaxObserver RETAIN (MultiParallel.java:25)
    seed: int | None = None
    # collect graphs up to LOCAL_GRAPH_LIMIT triples into an indexed
    # driver-side table so each candidate evaluation is Spark-free
    # (operators/localgraph.py); False forces the distributed matcher
    local_graph: bool = True
    # deterministic work budget for the LocalGraph matcher: the
    # candidate rows of each visited node of the depth-first match
    # enumeration, summed in depth-first order; enumeration stops at
    # the first node past it (operators/localgraph.py). Plays the same
    # role as max_time_s (the reference's Find.java:59-69 budget) but
    # is load-independent, so fixed-seed searches reproduce exactly;
    # with it set and max_time_s unset no wall clock touches a chain.
    max_steps: int | None = None
    # True = Prior.COMPLETE_FAST template coder; False = the exact
    # Pitman-Yor COMPLETE coder the reference's experiments default to
    # (Run.java:120 fastPY=false) — slower, used for ranking-fidelity
    # measurements
    fast_py: bool = True


@dataclass
class SAState:
    null_bits: float
    n: int
    m: int
    r: int
    results: dict[tuple, MotifResult] = field(default_factory=dict)
    score_cache: dict[tuple, tuple[float, int]] = field(default_factory=dict)
    num_pos: int = 0  # patterns beating the null model (SimAnnealing numPos)
    timed_out_count: int = 0  # candidates whose matcher hit max_time_s


class SimAnnealing:
    def __init__(
        self,
        triples: DataFrame | LocalGraph,
        config: SAConfig | None = None,
        init_pattern: Pattern | None = None,
    ):
        from motive_rdf_spark.operators.bgp import GraphStore

        self.cfg = config or SAConfig()
        self.rng = random.Random(self.cfg.seed)
        # per-run caches: sampled match/incident rows are memoized per
        # exact pattern / anchor node — re-collecting the same
        # deterministic plan re-ran the same job every revisit
        self._sample_cache: dict[tuple, list] = {}
        self._inc_cache: dict[int, list] = {}
        # driver tier: small graphs are collected once into an indexed
        # in-memory table (zero Spark jobs per candidate); above the cap
        # the distributed matcher + persisted degree frames serve every
        # candidate (operators/localgraph.py module docstring). A
        # pre-built LocalGraph may be passed directly — the whole search
        # then runs Spark-free (process-parallel via sa_parallel_local).
        self._local: LocalGraph | None = None
        self._degs: GraphDegrees | None = None
        if isinstance(triples, LocalGraph):
            self._local = triples
            self.triples = None
            self._match_src = None
            n, m, r = triples.dims()
        else:
            # a GraphStore (pre-partitioned copies) speeds every match
            # job in the hot loop; .triples stays the plain DataFrame
            # for degree aggregations and sampling filters
            self._match_src: DataFrame | GraphStore
            if isinstance(triples, GraphStore):
                self._match_src = triples
                triples = triples.plain
            else:
                self._match_src = triples
            self.triples = triples
            n, m, r = deg.graph_dims(triples)
            if self.cfg.local_graph and m <= LOCAL_GRAPH_LIMIT:
                self._local = LocalGraph.from_df(triples)
        if self._local is not None:
            self._local_degs = self._local.degree_arrays(n, r)
            nb = null_bits_arrays(self._local_degs)
        else:
            self._degs = GraphDegrees(triples)
            nb = null_bits(triples, degs=self._degs)
        self.state = SAState(null_bits=nb, n=n, m=m, r=r)
        # default start: a random triple with its object made a variable
        # (SimAnnealing.java:146-152); callers may seed a warm start
        self.pattern = init_pattern or self._init_pattern()
        self.score, self.freq = self._score(self.pattern)

    # -- scoring ---------------------------------------------------------

    def _score(self, pattern: Pattern) -> tuple[float, int]:
        key = canonical_key(pattern)
        st = self.state
        if key in st.score_cache:
            return st.score_cache[key]
        if self._local is not None:
            result = self._score_local(pattern)
            return self._record(key, pattern, result)
        if self.cfg.max_time_s is not None:
            bm = find_budgeted(
                self._match_src, pattern, self.cfg.max_time_s, self.cfg.max_matches
            )
            if bm.timed_out:
                st.timed_out_count += 1
            matched = bm.matches
        else:
            matched = find(self._match_src, pattern)
        # persist the bounded match set so the join cascade runs once and
        # is reused by count / collect / the prune fixpoint / MDL scoring
        # (it was previously re-executed per action — VERDICT r1 item 5)
        matches = matched.limit(self.cfg.max_matches).persist()
        try:
            # probe the driver tier first: one collect of at most
            # threshold+1 rows decides the path AND delivers the rows,
            # eliding the separate count job for the (common) small case
            probe = matches.limit(self.cfg.driver_prune_threshold + 1).collect()
            if not probe:
                result = (float("inf"), 0)
            elif len(probe) <= self.cfg.driver_prune_threshold:
                rows = [list(r) for r in probe]
                rows.sort()
                kept = prune_matches(pattern, rows)
                degs_np = self._degs.driver_arrays(st.n, st.r)
                if degs_np is not None:
                    # driver-exact scoring: zero Spark jobs per candidate
                    sc = score_motif_rows(
                        pattern, kept, st.n, st.m, st.r, degs_np
                    )
                else:
                    spark = self.triples.sparkSession
                    cols = [f"v{i + 1}" for i in range(pattern.num_vars)]
                    pruned = spark.createDataFrame(
                        [tuple(x) for x in kept], ", ".join(f"{c} long" for c in cols)
                    )
                    sc = score_motif(
                        self.triples, pattern, pruned, st.n, st.m, st.r,
                        fast_py=self.cfg.fast_py, degs=self._degs,
                    )
                result = (sc.total, len(kept))
            else:
                pruned = prune_matches_df(pattern, matches)
                sc = score_motif(
                    self.triples, pattern, pruned, st.n, st.m, st.r,
                    fast_py=self.cfg.fast_py, degs=self._degs,
                )
                result = (sc.total, pruned.count())
        finally:
            matches.unpersist()
        return self._record(key, pattern, result)

    def _record(self, key: tuple, pattern: Pattern, result: tuple[float, int]):
        st = self.state
        st.score_cache[key] = result
        if result[0] < st.null_bits:
            st.num_pos += 1
            st.results[key] = MotifResult(pattern, result[0], result[1])
            if len(st.results) > self.cfg.retain:
                worst = max(st.results, key=lambda k2: st.results[k2].score)
                del st.results[worst]
        return result

    def _score_local(self, pattern: Pattern) -> tuple[float, int]:
        """Driver-tier candidate evaluation: LocalGraph match ->
        prune_matches -> score_motif_rows, no Spark involvement. Same
        row budget (max_matches) and wall-clock budget (max_time_s ->
        partial matches + timed_out metric) as the distributed path;
        with max_steps set, the step budget bounds the match and the
        deadline is checked only before it starts (LocalGraph.find_rows)."""
        import time as _time

        st = self.state
        deadline = (
            _time.monotonic() + self.cfg.max_time_s
            if self.cfg.max_time_s is not None
            else None
        )
        rows, timed_out = self._local.find_rows(
            pattern,
            max_rows=self.cfg.max_matches,
            deadline=deadline,
            max_steps=self.cfg.max_steps,
        )
        if timed_out:
            st.timed_out_count += 1
        if not rows:
            return (float("inf"), 0)
        rows.sort()
        kept = prune_matches(pattern, rows)
        sc = score_motif_rows(
            pattern, kept, st.n, st.m, st.r, self._local_degs,
            fast_py=self.cfg.fast_py,
        )
        return (sc.total, len(kept))

    # -- initialization (SimAnnealing.java:146-152) ----------------------

    def _init_pattern(self) -> Pattern:
        if self.triples is None:  # pure-local mode: no Spark session
            g = self._local
            i = self.rng.randrange(g.m)
            return Pattern([(int(g.S[i]), int(g.P[i]), -1)])
        row = (
            self.triples.orderBy(F.xxhash64("s", "p", "o", F.lit(self.rng.getrandbits(31))))
            .limit(1)
            .collect()[0]
        )
        return Pattern([(int(row["s"]), int(row["p"]), -1)])

    # -- sampling helpers -------------------------------------------------

    def _sample_match(self, pattern: Pattern) -> list[int] | None:
        # exact edge tuple, NOT canonical_key: an isomorphic pattern with
        # different variable numbering binds columns in a different order
        key = tuple(pattern.edges)
        rows = self._sample_cache.get(key)
        if rows is None:
            if self._local is not None:
                # budget the sampling enumeration too: a pathological
                # accepted pattern (alpha accepts regardless of score)
                # must not stall the loop hunting for its 20th match.
                # A step budget already does that deterministically; a
                # wall-clock deadline on top would let a slow host change
                # a fixed-seed trajectory, so it applies only when asked
                # for (max_time_s) or when no step budget is set.
                import time as _time

                deadline = None
                if self.cfg.max_time_s is not None or self.cfg.max_steps is None:
                    deadline = _time.monotonic() + (self.cfg.max_time_s or 5.0)
                rows, _ = self._local.find_rows(
                    pattern,
                    max_rows=self.cfg.sample_rows,
                    deadline=deadline,
                    max_steps=self.cfg.max_steps,
                )
            else:
                rows = (
                    find(self._match_src, pattern)
                    .limit(self.cfg.sample_rows)
                    .collect()
                )
            # memoizing is behavior-preserving: both the limit() plan
            # and the local enumeration order are deterministic per
            # pattern, so a revisit re-collected the same rows anyway;
            # only the rng.choice varies per call
            self._sample_cache[key] = rows
        if not rows:
            return None
        return list(self.rng.choice(rows))

    # -- transitions (SimAnnealing.java:226-618) --------------------------

    def _t_extend(self, p: Pattern) -> Pattern | None:
        if p.size >= MAX_PATTERN_SIZE:
            return None
        vals = self._sample_match(p)
        if vals is None:
            return None
        inst = p.triples(vals)
        nodes = {t for s, _, o in inst for t in (s, o)}
        node = self.rng.choice(sorted(nodes))
        inc = self._inc_cache.get(node)
        if inc is None:
            if self._local is not None:
                inc = self._local.incident(node, self.cfg.sample_rows)
            else:
                inc = [
                    (int(t["s"]), int(t["p"]), int(t["o"]))
                    for t in self.triples.filter(
                        (F.col("s") == node) | (F.col("o") == node)
                    )
                    .limit(self.cfg.sample_rows)
                    .collect()
                ]
            if len(self._inc_cache) < 100_000:  # bound driver memory
                self._inc_cache[node] = inc
        inc = [t for t in inc if t not in inst]
        if not inc:
            return None
        s_, p_, o_ = self.rng.choice(inc)
        # map the anchor node back to its pattern term; fresh var for the
        # other endpoint (the reference's EXTEND keeps the anchor term —
        # constant or variable — and only the new endpoint becomes a
        # variable, SimAnnealing.java EXTEND). Node constants map to
        # themselves so a constant-anchored edge stays anchored; variable
        # bindings take precedence on value collision.
        val_to_var = {v: -(i + 1) for i, v in enumerate(vals[: len(p.node_vars)])}
        for s0, _, o0 in p.edges:
            for t0 in (s0, o0):
                if t0 >= 0:
                    val_to_var.setdefault(t0, t0)
        new_var = -(len(p.node_vars) + 1)

        def back(x: int) -> int:
            return val_to_var.get(x, new_var)

        edges = list(p.edges) + [(back(s_), p_, back(o_))]
        return renumber(edges)

    def _t_couple(self, p: Pattern) -> Pattern | None:
        pv = p.pred_vars
        if len(pv) < 2:
            return None
        vals = self._sample_match(p)
        if vals is None:
            return None
        bound = {v: vals[-v - 1] for v in pv}
        pairs = [
            (a, b)
            for i, a in enumerate(pv)
            for b in pv[i + 1 :]
            if bound[a] == bound[b]
        ]
        if not pairs:
            return None
        a, b = self.rng.choice(pairs)
        edges = [(s, a if x == b else x, o) for s, x, o in p.edges]
        return renumber(edges)

    def _ground_var(self, p: Pattern, var: int) -> Pattern | None:
        vals = self._sample_match(p)
        if vals is None:
            return None
        val = vals[-var - 1]
        # substitute only in the variable's own position class (node and
        # predicate variables live in disjoint id spaces)
        if var in p.pred_vars:
            edges = [(s, val if x == var else x, o) for s, x, o in p.edges]
        else:
            edges = [(val if s == var else s, x, val if o == var else o) for s, x, o in p.edges]
        return renumber(edges)

    def _t_make_link_const(self, p: Pattern) -> Pattern | None:
        if not p.pred_vars:
            return None
        return self._ground_var(p, self.rng.choice(p.pred_vars))

    def _t_make_node_const(self, p: Pattern) -> Pattern | None:
        if len(p.node_vars) < 2:  # keep at least one variable
            return None
        return self._ground_var(p, self.rng.choice(p.node_vars))

    def _t_make_node_var(self, p: Pattern) -> Pattern | None:
        consts = sorted({t for s, _, o in p.edges for t in (s, o) if t >= 0})
        if not consts:
            return None
        c = self.rng.choice(consts)
        v = min(p.node_vars, default=0) - 1
        edges = [(v if s == c else s, x, v if o == c else o) for s, x, o in p.edges]
        return renumber(edges)

    def _t_make_link_var(self, p: Pattern) -> Pattern | None:
        consts = sorted({x for _, x, _ in p.edges if x >= 0})
        if not consts:
            return None
        c = self.rng.choice(consts)
        v = -10**6  # placeholder; renumber fixes ids
        edges = [(s, v if x == c else x, o) for s, x, o in p.edges]
        return renumber(edges)

    def _t_rm_edge(self, p: Pattern) -> Pattern | None:
        if p.size < 2:
            return None
        for i in self.rng.sample(range(p.size), p.size):
            edges = [e for j, e in enumerate(p.edges) if j != i]
            cand = renumber(edges)
            if cand.valid() and cand.variables:
                return cand
        return None

    # -- main loop (SimAnnealing.iterate, SimAnnealing.java:181-218) ------

    def iterate(self) -> None:
        name = self.rng.choice(TRANSITIONS)
        cand = getattr(self, f"_t_{name}")(self.pattern)
        if cand is None or not cand.valid() or not cand.variables:
            return
        sc, freq = self._score(cand)
        if sc < self.score or self.rng.random() < self.cfg.alpha:
            self.pattern, self.score, self.freq = cand, sc, freq

    def run(self) -> SAState:
        for _ in range(self.cfg.iterations):
            self.iterate()
        return self.state

    def close(self) -> None:
        """Release the persisted degree frames (distributed tier only;
        the LocalGraph tier holds no Spark state). Not called from
        run(): parallel chains share one cached copy (same plan), so
        the owner of the last chain must close — sa_parallel does."""
        if self._degs is not None:
            self._degs.unpersist()


def by_score(state: SAState, k: int) -> list[MotifResult]:
    """Top-k motifs by codelength ascending (SimAnnealing.byScore)."""
    return sorted(state.results.values(), key=lambda r: (r.score, str(r.pattern)))[:k]


def by_frequency(state: SAState, k: int) -> list[MotifResult]:
    return sorted(state.results.values(), key=lambda r: (-r.frequency, str(r.pattern)))[:k]


def sa_parallel(
    triples: DataFrame,
    chains: int = 4,
    config: SAConfig | None = None,
    init_pattern: Pattern | None = None,
) -> SAState:
    """N independent chains in driver threads (SAParallel.java:45-127);
    results merged with min-score-wins per canonical pattern.
    ``init_pattern`` warm-starts every chain (the reference's SAParallel
    constructor takes the same seed pattern — Synthetic.java:205).

    The graph is wrapped in ONE shared GraphStore (pre-partitioned
    copies) so all chains' match jobs reuse it; released on return."""
    from concurrent.futures import ThreadPoolExecutor

    from motive_rdf_spark.operators.bgp import GraphStore

    base = config or SAConfig()
    own_store = not isinstance(triples, GraphStore)
    src = GraphStore(triples) if own_store else triples

    sas: list[SimAnnealing] = []

    def run_chain(i: int) -> SAState:
        cfg = replace(base, seed=None if base.seed is None else base.seed + i)
        sa = SimAnnealing(src, cfg, init_pattern=init_pattern)
        sas.append(sa)
        return sa.run()

    try:
        with ThreadPoolExecutor(max_workers=chains) as pool:
            states = list(pool.map(run_chain, range(chains)))
    finally:
        # all chains done: the degree-frame cache entry is shared (same
        # plan), so closing once after the barrier is safe
        for sa in sas[:1]:
            sa.close()
        if own_store:
            src.unpersist()

    return _merge_states(states)


def _merge_states(states: list[SAState]) -> SAState:
    """Min-score-wins merge per canonical pattern (SAParallel.register,
    SAParallel.java:111-127)."""
    merged = states[0]
    for st in states[1:]:
        merged.num_pos += st.num_pos
        merged.timed_out_count += st.timed_out_count
        for key, res in st.results.items():
            if key not in merged.results or res.score < merged.results[key].score:
                merged.results[key] = res
    return merged


# -- process-parallel chains over a LocalGraph -------------------------

_LOCAL_CHAIN_ARGS: tuple | None = None


def _local_chain_worker(i: int) -> SAState:
    graph, base, init_pattern = _LOCAL_CHAIN_ARGS
    cfg = replace(base, seed=None if base.seed is None else base.seed + i)
    sa = SimAnnealing(graph, cfg, init_pattern=init_pattern)
    state = sa.run()
    # the score memo can hold tens of thousands of entries; the merge
    # only needs results/num_pos/timed_out — don't pickle it back
    state.score_cache = {}
    return state


def sa_parallel_local(
    graph: "LocalGraph",
    chains: int = 8,
    config: SAConfig | None = None,
    init_pattern: Pattern | None = None,
) -> SAState:
    """N independent chains as forked processes over one shared
    in-memory graph (copy-on-write: the arrays and sorted-key indexes
    are built once and never copied). A chain's matcher, prune and
    scorer are numpy array code, but the loop around them — transitions,
    canonicalization, the score memo — is Python and holds the GIL;
    ``sa_parallel``'s driver THREADS parallelize Spark jobs, not Python
    loops, so pure-local chains need processes. Chains never touch
    Spark (SimAnnealing in LocalGraph mode runs Spark-free), making
    the fork safe with an active session. Chain ``i`` runs with seed
    ``config.seed + i``; with ``max_steps`` set (and no ``max_time_s``)
    the merged result depends on the arguments alone, whatever the
    host's load."""
    import multiprocessing as mp

    global _LOCAL_CHAIN_ARGS
    base = config or SAConfig()
    _LOCAL_CHAIN_ARGS = (graph, base, init_pattern)
    try:
        ctx = mp.get_context("fork")
        with ctx.Pool(chains) as pool:
            states = pool.map(_local_chain_worker, range(chains))
    finally:
        _LOCAL_CHAIN_ARGS = None
    return _merge_states(states)


# -- final exact re-ranking -------------------------------------------

_RESCORE_ARGS: tuple | None = None


def _det_score_one(res: MotifResult) -> MotifResult:
    graph, n, m, r, degs, max_rows = _RESCORE_ARGS
    rows, _ = graph.find_rows(res.pattern, max_rows=max_rows)
    if max_rows is not None and len(rows) >= max_rows:
        # enumeration truncated: the exact score is not computable
        # within the row ceiling, so the motif is excluded from the
        # exact ranking (score inf) rather than ranked on a partial
        # match set. Degenerate all-variable monsters on a dense graph
        # can exceed 1e8 raw rows — one such motif cost 30+ min and
        # ~40 GB before this guard existed.
        return MotifResult(res.pattern, float("inf"), len(rows))
    if not rows:
        return MotifResult(res.pattern, float("inf"), 0)
    rows.sort()
    kept = prune_matches(res.pattern, rows)
    sc = score_motif_rows(res.pattern, kept, n, m, r, degs)
    return MotifResult(res.pattern, sc.total, len(kept))


def rescore_exact(
    graph: "LocalGraph",
    state: SAState,
    pool: int = 100,
    processes: int | None = None,
    max_rows: int | None = 2_000_000,
) -> list[MotifResult]:
    """Final exact re-ranking of the retained motif set: full
    LocalGraph match, overlap prune, exact MDL total — no step or
    wall-clock budget. SA explores under a per-candidate budget
    (mirroring the reference's --max-time matcher contract,
    Find.java:59-69), so retained scores are computed on truncated
    match sets and can misrank near-peers; this one-shot pass restores
    the deterministic ordering at the cost of ``pool`` full matches.
    Returns the re-ranked results (ascending codelength = best first).

    ``pool`` bounds the work to the top-``pool`` retained motifs by
    budgeted score — the exact top-k is drawn from a pool that already
    over-covers it. ``processes`` forks a copy-on-write worker pool
    (the graph's arrays are shared, never pickled), like
    ``sa_parallel_local``; Spark is never touched.

    ``max_rows`` is the one remaining safety ceiling: a motif whose
    RAW enumeration exceeds it (degenerate all-variable shapes reach
    1e8+ rows even on a 74k-triple graph) is excluded from the exact
    ranking (score inf, frequency = rows seen at truncation) instead
    of stalling the pass; every meaningful motif on the reference
    fixtures enumerates orders of magnitude below the default.
    ``None`` removes the ceiling."""
    global _RESCORE_ARGS
    cand = by_score(state, min(pool, len(state.results)))
    degs = graph.degree_arrays(state.n, state.r)
    _RESCORE_ARGS = (graph, state.n, state.m, state.r, degs, max_rows)
    try:
        if processes and processes > 1 and len(cand) > 1:
            import multiprocessing as mp

            ctx = mp.get_context("fork")
            with ctx.Pool(min(processes, len(cand))) as p:
                out = p.map(_det_score_one, cand)
        else:
            out = [_det_score_one(c) for c in cand]
    finally:
        _RESCORE_ARGS = None
    return sorted(out, key=lambda r: (r.score, str(r.pattern)))
