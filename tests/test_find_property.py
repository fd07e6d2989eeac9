"""Differential property test for the matcher: ``find``, the per-step
checkpointed ``find_budgeted`` and ``find(old) ⊎ find_delta(old, Δ)``
vs an independent in-Python brute-force enumerator on random small
graphs and random patterns.

The brute force reimplements the reference's match semantics from the
spec (Find.java:40-500 / SURVEY.md §1.2) with none of the engine's
code: node-variable injectivity (Find.java:135-148), per-edge triple
distinctness for collidable edge pairs (Find.java:286-316), constants
as filters, and one emitted row per distinct triple combination — so a
bug in the join cascade, the injectivity injection, or the
distinctness filter cannot hide in both implementations.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from motive_rdf_spark.operators import bgp
from motive_rdf_spark.operators.bgp import find, find_budgeted, prepare_triples
from motive_rdf_spark.operators.delta import find_delta
from motive_rdf_spark.patterns import renumber


@st.composite
def patterns(draw):
    """Random patterns over node constants 0..3 / pred constants 0..2
    (overlapping the generated graphs' id ranges) with up to 3 node
    vars and optional predicate vars; ``renumber`` makes ids valid."""
    n_edges = draw(st.integers(1, 3))
    n_nodevars = draw(st.integers(1, 3))
    edges = []
    for _ in range(n_edges):
        s = draw(st.integers(-n_nodevars, 3))
        o = draw(st.integers(-n_nodevars, 3))
        p = draw(st.one_of(st.integers(0, 2), st.sampled_from([-1000, -1001])))
        edges.append((s, p, o))
    return renumber(edges)


def _brute_find(triples: list[tuple[int, int, int]], pattern):
    """All matches by backtracking enumeration over triple indices."""
    edges = pattern.edges
    node_vars = pattern.node_vars
    out: list[tuple[int, ...]] = []
    used: list[int] = []

    def rec(ei: int, binding: dict[int, int]) -> None:
        if ei == len(edges):
            vals = [binding[v] for v in node_vars]
            if len(set(vals)) == len(vals):  # injectivity
                out.append(tuple(binding[v] for v in pattern.variables))
            return
        s, p, o = edges[ei]
        for ti, (ts, tp, to) in enumerate(triples):
            collide = False
            for ej in range(ei):
                pj = edges[ej][1]
                if p >= 0 and pj >= 0 and p != pj:
                    continue  # constant preds differ: cannot collide
                if used[ej] == ti:
                    collide = True
                    break
            if collide:
                continue
            nb = dict(binding)
            ok = True
            for term, val in ((s, ts), (p, tp), (o, to)):
                if term >= 0:
                    if term != val:
                        ok = False
                        break
                elif nb.setdefault(term, val) != val:
                    ok = False
                    break
            if not ok:
                continue
            used.append(ti)
            rec(ei + 1, nb)
            used.pop()

    rec(0, {})
    return sorted(out)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(pat=patterns(), seed=st.integers(0, 10**6))
def test_find_matches_bruteforce(spark, pat, seed):
    rng = random.Random(seed)
    raw = [
        (rng.randrange(6), rng.randrange(3), rng.randrange(6))
        for _ in range(rng.randint(8, 25))
    ]
    # the graph is a set of triples (KGraph.java:94-106): dedupe the
    # fixture the same way prepare_triples does
    triples = sorted(set(raw))
    df = prepare_triples(
        spark.createDataFrame(triples, "s long, p long, o long")
    )
    expected = _brute_find(triples, pat)
    # SOFT_FRAC=0 materializes every round under the deadline watchdog:
    # the per-step checkpoint path, not find()'s single lazy plan
    # (a context, since hypothesis reuses function-scoped fixtures)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bgp, "SOFT_FRAC", 0.0)
        budgeted = find_budgeted(df, pat, timeout_s=1e9, max_matches=10**6)
    assert not budgeted.timed_out
    # find(old) ⊎ find_delta(old, Δ) = find(old ∪ Δ), split at a
    # seed-chosen index (either side may be empty)
    cut = rng.randrange(len(triples) + 1)
    old = prepare_triples(
        spark.createDataFrame(triples[:cut], "s long, p long, o long")
    )
    new = find_delta(
        old, spark.createDataFrame(triples[cut:], "s long, p long, o long"), pat
    )
    try:
        if not pat.variables:  # fully grounded: a `matched` row per hit
            assert (find(df, pat).count() == 1) == bool(expected)
            assert (budgeted.matches.count() == 1) == bool(expected)
            assert (find(old, pat).count() + new.count() > 0) == bool(expected)
            return
        assert sorted(tuple(r) for r in find(df, pat).collect()) == expected
        assert sorted(tuple(r) for r in budgeted.matches.collect()) == expected
        split = find(old, pat).collect() + new.collect()
        assert sorted(tuple(r) for r in split) == expected
    finally:
        new._delta_cached.unpersist()


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(pat=patterns(), seed=st.integers(0, 10**6))
def test_localgraph_matches_bruteforce(pat, seed):
    """The driver-tier matcher (operators/localgraph.py, used by the
    search hot loop on small graphs) must satisfy the same
    brute-force-validated contract as the distributed matcher —
    including the tid-multiset duplicates from distinct triple
    combinations. No Spark needed, so this runs many more examples."""
    import numpy as np

    from motive_rdf_spark.operators.localgraph import LocalGraph

    rng = random.Random(seed)
    raw = [
        (rng.randrange(6), rng.randrange(3), rng.randrange(6))
        for _ in range(rng.randint(8, 25))
    ]
    triples = sorted(set(raw))
    lg = LocalGraph(
        np.array([t[0] for t in triples]),
        np.array([t[1] for t in triples]),
        np.array([t[2] for t in triples]),
    )
    expected = _brute_find(triples, pat)
    if not pat.variables:
        return  # the search loop never scores fully grounded patterns
    rows, timed_out = lg.find_rows(pat)
    assert not timed_out
    assert rows.dtype == np.int64 and rows.shape == (len(rows), pat.num_vars)
    assert sorted(tuple(r) for r in rows.tolist()) == expected


def test_localgraph_budget_and_cap():
    import numpy as np

    from motive_rdf_spark.operators.localgraph import LocalGraph
    from motive_rdf_spark.patterns import Pattern

    triples = [(i, 0, (i + 1) % 50) for i in range(50)]
    lg = LocalGraph(
        np.array([t[0] for t in triples]),
        np.array([t[1] for t in triples]),
        np.array([t[2] for t in triples]),
    )
    pat = Pattern([(-1, 0, -2)])
    full, _ = lg.find_rows(pat)
    assert full.shape == (50, 2)
    capped, timed_out = lg.find_rows(pat, max_rows=7)
    assert capped.shape == (7, 2) and not timed_out
    assert capped.tolist() == full[:7].tolist()
    partial, timed_out = lg.find_rows(pat, deadline=0.0)
    assert timed_out and partial.shape == (0, 2)
    # incident pool: every triple touching node 3 (as s or o)
    inc = lg.incident(3, cap=10)
    assert set(inc) == {(3, 0, 4), (2, 0, 3)}
