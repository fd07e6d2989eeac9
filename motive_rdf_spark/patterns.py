"""BGP pattern model (driver-side; patterns are tiny and never distributed).

Semantics mirror the reference's ``DTGraph<Integer,Integer>`` patterns:

- an edge is a ``(s, p, o)`` term triple of ints;
- terms ``>= 0`` are constants (dictionary ids), ``< 0`` are variables;
- node variables are ``-1, -2, …, -k`` (contiguous, max = -1); predicate
  variables continue below them (``-k-1, …``); a pattern with predicate
  variables but no node variables starts predicates at ``-1``
  (``Utils.valid``, reference Utils.java:381-430);
- ``values[i]`` instantiates variable ``-(i+1)`` (Utils.java:357-368);
- matches are emitted with variables sorted descending, i.e. ``-1``
  first (Find.java:402-422).

Variable ``-k`` maps to the DataFrame column ``v{k}``.
"""

from __future__ import annotations

from dataclasses import dataclass


def var_col(v: int) -> str:
    """Column name for variable id ``v`` (< 0): ``-1 -> 'v1'``."""
    assert v < 0
    return f"v{-v}"


@dataclass(frozen=True)
class Pattern:
    """A basic graph pattern: tuple of (s, p, o) int terms."""

    edges: tuple[tuple[int, int, int], ...]

    def __init__(self, edges) -> None:
        object.__setattr__(self, "edges", tuple(tuple(e) for e in edges))
        for e in self.edges:
            if len(e) != 3:
                raise ValueError(f"edge must be (s,p,o): {e}")

    # ---- variable accounting -------------------------------------------

    @property
    def node_vars(self) -> list[int]:
        """Node variables, descending (-1 first)."""
        vs = {t for s, p, o in self.edges for t in (s, o) if t < 0}
        return sorted(vs, reverse=True)

    @property
    def pred_vars(self) -> list[int]:
        """Predicate variables, descending."""
        vs = {p for _, p, _ in self.edges if p < 0}
        return sorted(vs, reverse=True)

    @property
    def variables(self) -> list[int]:
        """All variables in emission order: descending, -1 first
        (node vars first, then predicate vars — Find.java:402-422)."""
        return sorted(set(self.node_vars) | set(self.pred_vars), reverse=True)

    @property
    def num_vars(self) -> int:
        return len(self.variables)

    @property
    def nodes(self) -> list[int]:
        """All node terms (constants and variables)."""
        return sorted({t for s, _, o in self.edges for t in (s, o)})

    @property
    def size(self) -> int:
        """Pattern size = number of edges (SimAnnealing.MAX_PATTERN_SIZE
        compares against numLinks, SimAnnealing.java:58,232)."""
        return len(self.edges)

    # ---- validity (Utils.valid, Utils.java:381-430) ---------------------

    def is_connected(self) -> bool:
        if not self.edges:
            return False
        adj: dict[int, set[int]] = {}
        for s, _, o in self.edges:
            adj.setdefault(s, set()).add(o)
            adj.setdefault(o, set()).add(s)
        start = next(iter(adj))
        seen = {start}
        stack = [start]
        while stack:
            for nb in adj[stack.pop()]:
                if nb not in seen:
                    seen.add(nb)
                    stack.append(nb)
        return seen == set(adj)

    def valid(self) -> bool:
        """Contiguity + ordering of variable ids + connectivity.

        Reference: Utils.java:381-430 (checked after every search
        transition, SimAnnealing.java:292,342,...,616).
        """
        if not self.is_connected():
            return False
        nv, pv = set(self.node_vars), set(self.pred_vars)

        def contiguous(vs: set[int]) -> bool:
            return not vs or set(range(min(vs), max(vs) + 1)) == vs

        if nv and max(nv) != -1:
            return False
        if not contiguous(nv) or not contiguous(pv):
            return False
        if nv and pv:
            if max(pv) != min(nv) - 1:
                return False
        elif pv:  # predicate vars only: must start at -1
            if max(pv) != -1:
                return False
        return True

    # ---- instantiation (Utils.triples, Utils.java:338-372) --------------

    def triples(self, values: list[int]) -> list[tuple[int, int, int]]:
        """Substitute ``values`` (values[i] binds var -(i+1)) into the
        pattern, producing concrete triples (one per edge, in edge order)."""
        assert len(values) == self.num_vars, (values, self)

        def term(t: int) -> int:
            return values[-t - 1] if t < 0 else t

        return [(term(s), term(p), term(o)) for s, p, o in self.edges]

    def all_triples(
        self, matches: list[list[int]]
    ) -> list[tuple[int, int, int]]:
        """Bulk instantiation with duplicates preserved
        (Utils.allTriples, Utils.java:454-461)."""
        out: list[tuple[int, int, int]] = []
        for vals in matches:
            out.extend(self.triples(list(vals)))
        return out

    # ---- display ---------------------------------------------------------

    def __str__(self) -> str:
        def t(x: int) -> str:
            return f"?v{-x}" if x < 0 else str(x)

        return ", ".join(f"{t(s)} -[{t(p)}]-> {t(o)}" for s, p, o in self.edges)


def greedy_order(pattern: Pattern, costs: list[float]) -> list[int]:
    """Greedy left-deep join order of both matcher tiers: start from the
    cheapest edge, then always take the cheapest edge that shares a
    variable with what is bound (the cheapest remaining one when none
    does); ties go to the lower edge index. Only the costs differ per
    tier: ``bgp._order_edges`` passes a constants-count proxy,
    ``LocalGraph`` exact constants-only row counts."""
    edges = pattern.edges

    def edge_vars(e) -> set[int]:
        return {t for t in e if t < 0}

    remaining = set(range(len(edges)))
    order: list[int] = []
    bound: set[int] = set()
    while remaining:
        connected = [i for i in remaining if edge_vars(edges[i]) & bound]
        pool = connected or sorted(remaining)
        best = min(pool, key=lambda i: (costs[i], i))
        order.append(best)
        bound |= edge_vars(edges[best])
        remaining.discard(best)
    return order


def renumber(edges: list[tuple[int, int, int]]) -> Pattern:
    """Renumber variables of an arbitrary edge list into the reference's
    canonical id layout: node vars -1..-k in first-appearance order, then
    predicate vars -k-1.. (used after RM_EDGE drops variables,
    SimAnnealing.java:542-618)."""
    node_map: dict[int, int] = {}
    pred_map: dict[int, int] = {}
    for s, p, o in edges:
        for t in (s, o):
            if t < 0 and t not in node_map:
                node_map[t] = -(len(node_map) + 1)
        if p < 0 and p not in pred_map:
            pred_map[p] = p  # placeholder; assigned after node count known
    k = len(node_map)
    nxt = -k - 1
    for old in list(pred_map):
        pred_map[old] = nxt
        nxt -= 1

    def m(t: int, is_pred: bool) -> int:
        if t >= 0:
            return t
        return pred_map[t] if is_pred else node_map[t]

    return Pattern([(m(s, False), m(p, True), m(o, False)) for s, p, o in edges])
