"""Test-only reference implementations of the driver tier.

``dfs_find_rows`` is the recursive depth-first matcher that
``LocalGraph.find_rows`` reproduces: same rows, same row order, same
``timed_out``, including the ``max_steps`` rule (each visited node adds
its candidate-row count, in depth-first order; enumeration stops at the
first node where the running total exceeds the budget) and the
``max_rows`` cut. Candidate rows come from plain boolean masks, not the
engine's index; only the edge order is taken from the engine, because
row order depends on it.

``sequential_prune`` is the one-instance-at-a-time greedy loop of
MotifCode.prune that ``prune_matches`` reproduces.
"""

from __future__ import annotations

import time

import numpy as np


def _candidates(g, s, p, o) -> np.ndarray:
    mask = np.ones(g.m, dtype=bool)
    for col, v in ((g.S, s), (g.P, p), (g.O, o)):
        if v is not None:
            mask &= col == v
    return np.flatnonzero(mask)


def dfs_find_rows(g, pattern, max_rows=None, deadline=None, max_steps=None):
    edges = pattern.edges
    order = g._order(pattern)
    node_vars = set(pattern.node_vars)
    variables = pattern.variables
    # collidable(i, j): can edges i and j match the same triple?
    collid = [
        [
            j
            for j in range(len(edges))
            if j != i
            and not (edges[i][1] >= 0 and edges[j][1] >= 0 and edges[i][1] != edges[j][1])
        ]
        for i in range(len(edges))
    ]
    out: list[list[int]] = []
    used: dict[int, int] = {}  # edge index -> row id
    binding: dict[int, int] = {}
    timed_out = False
    steps = 0

    def bound_or_none(t):
        return t if t >= 0 else binding.get(t)

    def rec(depth: int) -> bool:
        """Returns False to abort enumeration (budget hit)."""
        nonlocal timed_out, steps
        if deadline is not None and time.monotonic() > deadline:
            timed_out = True
            return False
        if depth == len(order):
            out.append([binding[v] for v in variables])
            return max_rows is None or len(out) < max_rows
        ei = order[depth]
        s, p, o = edges[ei]
        rows = _candidates(g, bound_or_none(s), bound_or_none(p), bound_or_none(o))
        prior = [used[j] for j in collid[ei] if j in used]
        if max_steps is not None:
            steps += len(rows)
            if steps > max_steps:
                timed_out = True
                return False
        for r in rows.tolist():
            if r in prior:
                continue
            new_terms: list[int] = []
            ok = True
            for term, val in ((s, g.S[r]), (p, g.P[r]), (o, g.O[r])):
                val = int(val)
                if term >= 0:
                    if term != val:
                        ok = False
                        break
                else:
                    cur = binding.get(term)
                    if cur is None:
                        if term in node_vars and val in (
                            binding[w] for w in binding if w in node_vars
                        ):
                            ok = False  # node-var injectivity
                            break
                        binding[term] = val
                        new_terms.append(term)
                    elif cur != val:
                        ok = False
                        break
            if ok:
                used[ei] = r
                cont = rec(depth + 1)
                del used[ei]
                for t in new_terms:
                    del binding[t]
                if not cont:
                    return False
            else:
                for t in new_terms:
                    del binding[t]
        return True

    rec(0)
    return out, timed_out


def sequential_prune(pattern, matches, seen=None):
    """Keep an instance iff none of its triples was claimed by an
    earlier kept instance (or is in ``seen``, which is updated)."""
    if seen is None:
        seen = set()
    kept = []
    for inst in matches:
        triples = pattern.triples(list(inst))
        if not any(t in seen for t in triples):
            kept.append(list(inst))
            seen.update(triples)
    return kept
