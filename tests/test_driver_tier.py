"""Differential tests of the driver tier against its test-only oracles
(tests/driver_oracles.py): the level-wise ``LocalGraph.find_rows``
against the recursive depth-first matcher — rows, row order and
``timed_out`` under every step and row budget — and
``prune_matches`` over numpy triple ids against the sequential greedy
loop over ``Pattern.triples`` tuples. Plus a fixed-seed
search pinned bit for bit: the literals below were recorded with the
recursive matcher and the sequential prune, so any change to the match
order, the truncation or the prune shows up as a different trajectory.
"""

from __future__ import annotations

import random
import tracemalloc

import numpy as np
from driver_oracles import dfs_find_rows, sequential_prune

from motive_rdf_spark.operators.localgraph import LocalGraph
from motive_rdf_spark.operators.prune import prune_matches
from motive_rdf_spark.patterns import Pattern, renumber

MAX_STEPS = (None, 0, 1, 5, 20, 50, 200)
MAX_ROWS = (None, 1, 3, 10, 40)


def _graph(triples) -> LocalGraph:
    return LocalGraph(*(np.array(c, dtype=np.int64) for c in zip(*triples)))


def _find(g: LocalGraph, pat: Pattern, **kw):
    """``find_rows`` with its match matrix as the oracles' list of rows;
    the matrix must be int64, one column per variable."""
    rows, timed_out = g.find_rows(pat, **kw)
    assert rows.dtype == np.int64 and rows.shape == (len(rows), pat.num_vars)
    return rows.tolist(), timed_out


def _random_case(rng: random.Random):
    """A random multigraph in shuffled row order (duplicates kept half
    the time) and a random pattern: node constants, predicate
    constants and variables, variables repeated within and across
    edges."""
    n = rng.randint(3, 8)
    raw = [(rng.randrange(n), rng.randrange(3), rng.randrange(n)) for _ in range(rng.randint(5, 60))]
    if rng.random() < 0.5:
        raw = list(set(raw))
    rng.shuffle(raw)
    n_vars = rng.randint(1, 4)
    edges = [
        (
            rng.randint(-n_vars, 3),
            rng.choice([0, 1, 2, -1000, -1001]),
            rng.randint(-n_vars, 3),
        )
        for _ in range(rng.randint(1, 5))
    ]
    return _graph(raw), renumber(edges)


def test_find_rows_equals_depth_first_oracle():
    rng = random.Random(20_231)
    truncated = 0
    for _ in range(250):
        g, pat = _random_case(rng)
        for max_steps in MAX_STEPS:
            for max_rows in MAX_ROWS:
                want = dfs_find_rows(g, pat, max_rows=max_rows, max_steps=max_steps)
                got = _find(g, pat, max_rows=max_rows, max_steps=max_steps)
                assert got == want, (pat.edges, max_steps, max_rows)
                truncated += want[1]
    assert truncated > 500  # the budgets did bite


def test_find_rows_small_blocks_equal_oracle(monkeypatch):
    """Without a step budget the matcher walks frontier blocks depth
    first, each next block of a node twice the last up to the cap;
    blocks of one, three or up to 64 candidates must not change a row."""
    import motive_rdf_spark.operators.localgraph as lg_mod

    rng = random.Random(7)
    for block in (1, 3, 64):
        monkeypatch.setattr(lg_mod, "BLOCK_ROWS", block)
        for _ in range(120):
            g, pat = _random_case(rng)
            for max_rows in MAX_ROWS:
                assert _find(g, pat, max_rows=max_rows) == dfs_find_rows(
                    g, pat, max_rows=max_rows
                ), (pat.edges, block, max_rows)


def test_find_rows_hub_does_not_materialize_level():
    """An all-variable 2-edge pattern on a node with 10^4 in-edges has
    a level-2 frontier of 10^8 rows; the first 10 rows must come out
    without building it."""
    hub = [(i, i % 3, 0) for i in range(1, 10_001)]
    g = _graph(hub)
    pat = Pattern([(-1, -4, -2), (-3, -5, -2)])
    want = dfs_find_rows(g, pat, max_rows=10)
    tracemalloc.start()
    try:
        got = _find(g, pat, max_rows=10)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert got == want and len(got[0]) == 10 and not got[1]
    assert peak < 64 * 2**20, peak  # the full level would take >= 3.2 GB
    # a step budget bounds every level by itself
    assert _find(g, pat, max_rows=10, max_steps=50_000) == dfs_find_rows(
        g, pat, max_rows=10, max_steps=50_000
    )


class _Clock:
    """A fake ``time.monotonic`` that advances one unit per reading."""

    def __init__(self):
        self.now = 0

    def monotonic(self):
        self.now += 1
        return self.now


def test_find_rows_deadline(monkeypatch):
    """A deadline stops an unbudgeted match with the depth-first prefix
    of its rows found so far; with a step budget it is read only before
    the match starts, and a passed deadline returns no rows."""
    import motive_rdf_spark.operators.localgraph as lg_mod

    g = _graph([(i, i % 3, 0) for i in range(1, 200)])
    pat = Pattern([(-1, -4, -2), (-3, -5, -2)])
    full = dfs_find_rows(g, pat)[0]
    monkeypatch.setattr(lg_mod, "BLOCK_ROWS", 7)
    for reads in (2, 3, 10):
        monkeypatch.setattr(lg_mod, "time", _Clock())
        rows, timed_out = _find(g, pat, deadline=reads + 0.5)
        assert timed_out and rows == full[: len(rows)] and len(rows) < len(full)
        monkeypatch.setattr(lg_mod, "time", _Clock())
        budgeted = _find(g, pat, deadline=1.5, max_steps=5_000)
        assert budgeted == dfs_find_rows(g, pat, max_steps=5_000)
    for max_steps in (None, 5_000):
        monkeypatch.setattr(lg_mod, "time", _Clock())
        assert _find(g, pat, deadline=0.5, max_steps=max_steps) == ([], True)


def _prune_both(pat: Pattern, rows: list, seen: set | None = None) -> list:
    """``prune_matches`` on a list (must return a list) and on the same
    rows as a matrix (must return a matrix) with equal results; with
    ``seen``, both runs must leave it equally updated."""
    seen_mat = None if seen is None else set(seen)
    listed = prune_matches(pat, rows, seen=seen)
    mat = prune_matches(pat, np.array(rows, dtype=np.int64).reshape(len(rows), -1), seen=seen_mat)
    assert isinstance(listed, list) and all(isinstance(r, list) for r in listed)
    assert isinstance(mat, np.ndarray) and mat.dtype == np.int64
    assert mat.tolist() == listed and seen_mat == seen
    return listed


def test_prune_matches_equals_sequential_oracle(monkeypatch):
    """Random match sets, shuffled with duplicates; vectorized rounds
    only, the sequential scan only, and the default mix of both."""
    import motive_rdf_spark.operators.prune as prune_mod

    rng = random.Random(5)
    for rounds in (prune_mod.ROUNDS, 0, 1, 10_000):
        monkeypatch.setattr(prune_mod, "ROUNDS", rounds)
        for _ in range(400):
            g, pat = _random_case(rng)
            rows, _ = _find(g, pat)
            if not rows or not pat.variables:
                continue
            # duplicate rows and arbitrary order: the greedy is list-order
            rows = rows + rng.sample(rows, min(len(rows), 3))
            rng.shuffle(rows)
            assert _prune_both(pat, rows) == sequential_prune(pat, rows)
            # a shared ``seen`` set drops touching instances and is updated
            graph_triples = list(zip(g.S.tolist(), g.P.tolist(), g.O.tolist()))
            seen0 = set(rng.sample(graph_triples, 3))
            got_seen, want_seen = set(seen0), set(seen0)
            assert _prune_both(pat, rows, seen=got_seen) == sequential_prune(
                pat, rows, seen=want_seen
            )
            assert got_seen == want_seen


def test_prune_matches_long_conflict_chain():
    """A chain of instances each overlapping the next: every decision
    depends on the one before it. A round settles two instances of it,
    so the sequential scan finishes the chain after ``ROUNDS`` rounds,
    also with triples taken beforehand in a shared ``seen``. Then a
    star, every instance sharing one triple, and empty input."""
    import motive_rdf_spark.operators.prune as prune_mod

    pat = Pattern([(-1, 0, -2), (-2, 0, -3)])
    rows = [[i, i + 1, i + 2] for i in range(300)]
    assert 4 * prune_mod.ROUNDS < len(rows)
    assert _prune_both(pat, rows) == sequential_prune(pat, rows)
    got_seen, want_seen = {(40, 0, 41), (3, 0, 4)}, {(40, 0, 41), (3, 0, 4)}
    assert _prune_both(pat, rows, seen=got_seen) == sequential_prune(pat, rows, seen=want_seen)
    assert got_seen == want_seen

    star = Pattern([(-1, 0, -2), (-2, 1, -3)])
    rows = [[7, 8, i] for i in range(50, 10, -1)]
    assert _prune_both(star, rows) == sequential_prune(star, rows) == rows[:1]
    assert _prune_both(star, rows, seen={(7, 0, 8)}) == []

    assert prune_matches(pat, []) == []
    empty = prune_matches(pat, np.zeros((0, 3), dtype=np.int64))
    assert isinstance(empty, np.ndarray) and empty.shape == (0, 3)


# -- fixed-seed search, pinned ----------------------------------------

TRIANGLE = [(-1, 0, -2), (-2, 1, -3), (-3, 2, -1)]


def _planted(seed=3, n=200, m=600, r=5, k=100) -> LocalGraph:
    rng = random.Random(seed)
    triples = {(rng.randrange(n), rng.randrange(r), rng.randrange(n)) for _ in range(m)}
    for i in range(k):
        a, b, c = n + 3 * i, n + 3 * i + 1, n + 3 * i + 2
        triples |= {(a, 0, b), (b, 1, c), (c, 2, a)}
    return _graph(sorted(triples))


def _summary(state):
    from motive_rdf_spark.canon import canonical_key

    return (
        state.num_pos,
        state.timed_out_count,
        sorted(
            (canonical_key(r.pattern), r.score, r.frequency)
            for r in state.results.values()
        ),
    )


def test_fixed_seed_search_pinned():
    from motive_rdf_spark.search import SAConfig, SimAnnealing, sa_parallel_local

    g = _planted()
    cfg = SAConfig(iterations=200, seed=11, max_matches=400, max_steps=600)
    single = SimAnnealing(g, cfg, init_pattern=Pattern(TRIANGLE)).run()
    assert _summary(single) == (
        1, 1, [(((-3, 2, -1), (-2, 1, -3), (-1, 0, -2)), 9292.527223312374, 101)]
    )
    cfg = SAConfig(iterations=100, seed=5, max_matches=400, max_steps=600)
    merged = sa_parallel_local(g, chains=2, config=cfg, init_pattern=Pattern(TRIANGLE))
    assert _summary(merged) == (6, 5, [
        (((-3, -4, -2), (-2, 2, -1), (-1, 0, -3)), 9315.280021344472, 101),
        (((-3, -4, -1), (-2, 1, -3), (-1, 0, -2)), 9315.200269716526, 104),
        (((-3, -4, -1), (-2, 2, -3), (-1, 1, -2)), 9324.792429831938, 102),
        (((-3, 2, -1), (-2, 1, -3), (-1, 0, -2)), 9292.527223312374, 101),
    ])
