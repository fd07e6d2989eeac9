"""Canonicalization + SA search tests, mirroring the reference's
NautyTest (relabeling invariance) and SimAnnealingTest (search smoke +
planted-motif discovery)."""

from __future__ import annotations

import random

import pytest

from motive_rdf_spark.canon import canonical_form, canonical_key
from motive_rdf_spark.data.generators import hub_graph, planted_graph
from motive_rdf_spark.patterns import Pattern
from motive_rdf_spark.search import SAConfig, SimAnnealing, by_frequency, by_score, sa_parallel


def _relabel(pattern: Pattern, rng: random.Random) -> Pattern:
    """Random valid relabeling: permute node-var ids and pred-var ids."""
    nv, pv = pattern.node_vars, pattern.pred_vars
    nperm = dict(zip(nv, rng.sample(nv, len(nv))))
    pperm = dict(zip(pv, rng.sample(pv, len(pv))))

    def m(t, is_pred):
        if t >= 0:
            return t
        return pperm[t] if is_pred else nperm[t]

    return Pattern([(m(s, False), m(p, True), m(o, False)) for s, p, o in pattern.edges])


CANON_CASES = [
    Pattern([(-1, 0, -2), (-2, 0, -1)]),
    Pattern([(-1, -4, -2), (-1, -5, -3), (-2, -6, -3)]),  # all-var triangle
    Pattern([(-1, 0, -3), (-2, 0, -3)]),  # vee
    Pattern([(-1, 1, -2), (-2, 2, -3), (-3, 3, -4)]),  # chain
    Pattern([(0, -1, 3), (5, -2, 3)]),  # pred vars only
]


@pytest.mark.parametrize("pat", CANON_CASES, ids=[str(p) for p in CANON_CASES])
def test_canonical_relabeling_invariance(pat):
    rng = random.Random(7)
    base = canonical_key(pat)
    for _ in range(20):
        assert canonical_key(_relabel(pat, rng)) == base


def test_canonical_distinguishes_nonisomorphic():
    vee = Pattern([(-1, 0, -3), (-2, 0, -3)])
    fan = Pattern([(-3, 0, -1), (-3, 0, -2)])  # reversed orientation
    assert canonical_key(vee) != canonical_key(fan)
    chain3 = Pattern([(-1, 0, -2), (-2, 0, -3)])
    assert canonical_key(vee) != canonical_key(chain3)


def test_canonical_output_is_valid():
    for pat in CANON_CASES:
        cf = canonical_form(pat)
        assert cf.valid(), (pat, cf)
        assert cf.size == pat.size


def test_sa_smoke_hub_graph(spark):
    """1000-iteration smoke on Datasets.test(100)-equivalent
    (SimAnnealingTest.java:19-56) — scaled to 25 iterations for CI
    (with the fixed EXTEND every proposal is a real candidate, so the
    hub motif is found well within this budget)."""
    g = hub_graph(spark, 100).persist()
    g.count()
    sa = SimAnnealing(g, SAConfig(iterations=25, seed=11, sample_rows=10))
    state = sa.run()
    assert state.num_pos >= 1  # the hub motif compresses
    top = by_score(state, 5)
    assert top and top[0].score < state.null_bits
    g.unpersist()


def test_sa_retains_planted_motif(spark):
    """Warm-started SA retains the planted triangle with frequency >= k
    and a score beating the null model, and does not drift away from it
    (exploring transitions never evicts a better motif). Cold-start
    discovery needs the reference's default 10M-iteration budget
    (Run.java:107) — its own unit tests are smoke-only
    (SimAnnealingTest.java:19-56), and recovery-from-scratch is pinned
    by the find→prune property tests instead (test_mdl)."""
    pat = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]
    g = planted_graph(spark, n=300, m=900, r=5, pattern_edges=pat, k=60, seed=3).persist()
    g.count()
    sa = SimAnnealing(g, SAConfig(iterations=8, seed=5), init_pattern=Pattern(pat))
    state = sa.run()
    assert state.results, "planted motif not retained"
    best = by_score(state, 10)
    assert best[0].score < state.null_bits
    freqs = by_frequency(state, 10)
    assert freqs[0].frequency >= 60
    g.unpersist()


def test_sa_distributed_tier_equals_local(spark, monkeypatch):
    """The distributed scoring tier gives the LocalGraph tier's
    frequency and score on every branch of ``SimAnnealing._score``:
    ``find``; ``find_budgeted`` (``max_time_s``); the distributed prune
    (``prune_matches_df`` + ``score_motif``); and the driver prune with
    the Spark degree-histogram score (no driver degree arrays)."""
    from motive_rdf_spark import search
    from motive_rdf_spark.operators import mdl_ops
    from motive_rdf_spark.operators.localgraph import LocalGraph

    tri = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]
    g = planted_graph(spark, n=300, m=900, r=5, pattern_edges=tri, k=60, seed=3).persist()
    g.count()
    pats = [
        Pattern(tri),
        Pattern([(-1, 0, -2)]),
        Pattern([(-1, -4, -2), (-2, -5, -3)]),  # predicate-variable chain
    ]
    local = SimAnnealing(LocalGraph.from_df(g), SAConfig(), init_pattern=pats[0])
    want = [local._score(p) for p in pats]

    monkeypatch.setattr(search, "LOCAL_GRAPH_LIMIT", -1)
    branches = [
        ("find", SAConfig()),
        ("find_budgeted", SAConfig(max_time_s=600.0)),
        ("prune_matches_df", SAConfig(driver_prune_threshold=0)),
        ("spark_histogram", SAConfig()),
    ]
    for name, cfg in branches:
        if name == "spark_histogram":
            monkeypatch.setattr(mdl_ops, "DRIVER_DEGREE_LIMIT", -1)
        sa = SimAnnealing(g, cfg, init_pattern=pats[0])
        try:
            assert sa._local is None
            for p, (score, freq) in zip(pats, want):
                got_score, got_freq = sa._score(p)
                assert got_freq == freq, (name, p)
                assert got_score == pytest.approx(score, rel=1e-9), (name, p)
        finally:
            sa.close()
    g.unpersist()


def test_extend_preserves_constant_anchor(spark):
    """EXTEND from a constant-anchored pattern must keep the constant as
    the new edge's anchor term (reference EXTEND keeps the anchor and
    only the new endpoint becomes a variable) — it must NOT collapse
    both endpoints into one fresh variable producing a degenerate
    self-loop (?vK p ?vK) (ADVICE r1)."""
    from motive_rdf_spark.search_multi import _TransitionHelper

    rows = [(5, 0, 10), (5, 1, 11), (10, 2, 12), (11, 3, 13)]
    g = spark.createDataFrame(rows, "s long, p long, o long").persist()
    g.count()
    pat = Pattern([(5, 0, -1)])  # s and p grounded, as after _init_pattern
    cands = []
    for seed in range(8):
        helper = _TransitionHelper(g, SAConfig(sample_rows=10), random.Random(seed))
        cand = helper._t_extend(pat)
        if cand is not None:
            cands.append(cand)
            # the graph has no self-loops, so no extension may create one
            for s_, p_, o_ in cand.edges:
                assert not (s_ < 0 and s_ == o_), (seed, cand)
    assert cands, "no EXTEND proposal succeeded"
    # anchoring at the constant 5 via edge (5,1,11) must keep the 5
    assert any(
        any(p_ == 1 and s_ == 5 for s_, p_, o_ in c.edges) for c in cands
    ), cands
    g.unpersist()


def test_sa_parallel_merges_chains(spark):
    g = hub_graph(spark, 80).persist()
    g.count()
    state = sa_parallel(g, chains=2, config=SAConfig(iterations=12, seed=9))
    assert state.results  # hub motif compresses; chains merged min-score
    g.unpersist()


def test_sa_parallel_distributed_shares_graph_stats(spark, monkeypatch):
    """Above ``LOCAL_GRAPH_LIMIT`` ``sa_parallel`` runs ``graph_dims``
    once per search and hands every chain the same dims, degree frames
    and null bits; the merged result equals that of chains which each
    compute their own."""
    from dataclasses import replace

    from motive_rdf_spark import search
    from motive_rdf_spark.operators import degrees
    from motive_rdf_spark.operators.bgp import GraphStore

    def summary(state):
        res = sorted(
            (str(r.pattern), r.score, r.frequency) for r in state.results.values()
        )
        return res, state.num_pos, state.timed_out_count

    tri = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]
    g = planted_graph(spark, n=300, m=900, r=5, pattern_edges=tri, k=60, seed=3).persist()
    g.count()
    monkeypatch.setattr(search, "LOCAL_GRAPH_LIMIT", -1)
    cfg = SAConfig(iterations=3, seed=7, sample_rows=10)
    store = GraphStore(g)
    chains = [
        SimAnnealing(store, replace(cfg, seed=cfg.seed + i), init_pattern=Pattern(tri))
        for i in range(2)
    ]
    try:
        want = summary(search._merge_states([sa.run() for sa in chains]))
    finally:
        chains[0].close()
        store.unpersist()

    calls = []
    real = degrees.graph_dims
    monkeypatch.setattr(degrees, "graph_dims", lambda t: calls.append(t) or real(t))
    got = sa_parallel(g, chains=2, config=cfg, init_pattern=Pattern(tri))
    assert len(calls) == 1
    assert summary(got) == want
    g.unpersist()


def test_sa_dataframe_tier_equals_localgraph(spark):
    """Below LOCAL_GRAPH_LIMIT a DataFrame input takes the LocalGraph
    search path end to end: a cold-started chain picks its first triple
    with its own rng, so ``SimAnnealing(df)`` and
    ``SimAnnealing(LocalGraph.from_df(df))`` run the same trajectory,
    and ``sa_parallel(df)`` merges the same chains as
    ``sa_parallel_local``."""
    from motive_rdf_spark.operators.bgp import prepare_triples
    from motive_rdf_spark.operators.localgraph import LocalGraph
    from motive_rdf_spark.search import sa_parallel_local

    def summary(state):
        res = sorted(
            (str(r.pattern), r.score, r.frequency) for r in state.results.values()
        )
        return res, state.num_pos, state.timed_out_count

    pat = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]
    # prepared like the CLI's load_dataset: deduped, with triple ids
    df = prepare_triples(
        planted_graph(spark, n=300, m=900, r=5, pattern_edges=pat, k=60, seed=3)
    ).persist()
    df.count()
    lg = LocalGraph.from_df(df)
    cfg = SAConfig(iterations=200, seed=7, sample_rows=10, max_steps=2000)

    a, b = SimAnnealing(df, cfg), SimAnnealing(lg, cfg)
    assert summary(a.run()) == summary(b.run())
    # the whole trajectory, not just what beat the null model
    assert a.state.score_cache == b.state.score_cache
    assert (a.pattern, a.score) == (b.pattern, b.score)
    assert summary(sa_parallel(df, 3, cfg)) == summary(sa_parallel_local(lg, 3, cfg))
    df.unpersist()


def test_rescore_exact_restores_det_ranking(spark):
    """SA under a harsh per-candidate step budget retains truncated
    scores; rescore_exact must (a) emit ascending deterministic-exact
    scores that match an independent uncapped recompute, and (b) give
    identical output serial vs process-pool."""
    from motive_rdf_spark.operators.localgraph import LocalGraph
    from motive_rdf_spark.operators.mdl_ops import score_motif_rows
    from motive_rdf_spark.operators.prune import prune_matches
    from motive_rdf_spark.search import rescore_exact

    pat = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]
    g = planted_graph(spark, n=300, m=900, r=5, pattern_edges=pat, k=60, seed=3)
    lg = LocalGraph.from_df(g)

    # max_steps=1000 admits the planted triangle but truncates pricier
    # transition candidates (timed_out_count > 0 below), so retained
    # scores can be budget-distorted — what rescore must repair
    sa = SimAnnealing(
        lg,
        SAConfig(iterations=60, seed=3, sample_rows=10, max_steps=1000),
        init_pattern=Pattern(pat),
    )
    state = sa.run()
    assert state.results
    assert state.timed_out_count > 0  # the budget did bite somewhere

    out = rescore_exact(lg, state, pool=20)
    scores = [x.score for x in out]
    assert scores == sorted(scores)

    gn, gm, gr = lg.dims()
    degs = lg.degree_arrays(gn, gr)
    for x in out[:5]:
        rows, timed = lg.find_rows(x.pattern)
        assert not timed
        rows = sorted(rows.tolist())
        kept = prune_matches(x.pattern, rows)
        expect = score_motif_rows(x.pattern, kept, state.n, state.m, state.r, degs)
        assert x.score == expect.total
        assert x.frequency == len(kept)

    out2 = rescore_exact(lg, state, pool=20, processes=2)
    assert [(str(x.pattern), x.score, x.frequency) for x in out2] == [
        (str(x.pattern), x.score, x.frequency) for x in out
    ]
