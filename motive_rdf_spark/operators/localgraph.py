"""Driver-tier graph for the search hot loop: the triple table
collected into numpy arrays + sorted-key indexes so candidate
evaluation (match -> prune -> score) runs with ZERO Spark jobs per
candidate.

Why this exists: one SA iteration evaluates one candidate pattern on
a FIXED graph. On the reference's fixture graphs (29k-75k triples)
the distributed matcher's cost is pure job-scheduling overhead
(~1.4 s per candidate for microseconds of data work), which caps
simulated annealing at ~1 iteration/s; the published motif tables
come from 10^4-10^6-iteration runs. This tier mirrors the repo's
existing driver-exact prune (operators/prune.py) and driver-exact
scoring (operators/mdl_ops.score_motif_rows): bounded small-data
computation runs on the driver, the distributed path remains the
only path above the cap.

Scale story: ``LOCAL_GRAPH_LIMIT`` caps the triple count (default
2M: three int64 arrays ~48 MB plus 16 bytes per triple per index).
Above it ``SimAnnealing`` keeps the distributed matcher
(operators/bgp.find) for every candidate — the 100 TB case never
collects the graph.

Index: one sorted-key array per key shape (which of s, p, o are
bound). Composite keys are packed into one int64 code over the dense
id spaces; one stable ``argsort`` per shape gives the row order, so
the rows of one key are a contiguous ``searchsorted`` range, in
ascending row id.

Matcher: the same shape as the distributed ``bgp.find`` — left-deep,
one pattern edge at a time over the whole frontier of partial
matches: ``searchsorted`` ranges, ``repeat`` expansion, then
vectorized filters for repeated variables, node-variable injectivity
and collidable-edge triple distinctness. Children keep their parent's
order and each parent's candidates keep row order, so every level is
in depth-first (pre-)order and rows come out exactly as a recursive
depth-first enumeration would emit them.

Budgets: the step budget ``max_steps`` counts the candidate rows of
each visited node, summed in depth-first order — a node is a partial
match at some depth, its candidates are the rows of its next edge's
key — and enumeration stops at the first node where the sum exceeds
the budget. Level-wise, that is reproduced without recursion: each
level is cut where a lower bound of the depth-first prefix exceeds the
budget (which also bounds every level by ``max_steps`` rows), subtree
costs are summed bottom-up, exact prefixes top-down, and the leaves
whose prefix is within budget are the rows. ``max_rows`` then cuts the
rows; ``timed_out`` is set only if the step budget stopped the
enumeration before ``max_rows`` rows were out. Without a step budget,
frontier blocks of at most ``BLOCK_ROWS`` candidates are expanded in
depth-first order, which bounds memory and stops as soon as
``max_rows`` rows are out; a node's first block is only as large as
the rows still wanted and each next one doubles, so a 20-row sample
does not expand full blocks. A ``deadline`` is read before each block,
so a match it stops returns its depth-first prefix of rows.

Match semantics are identical to ``bgp.find`` (Find.java:40-500 via
SURVEY §1.2), pinned by a differential test against the same
brute-force enumerator that validates the distributed matcher:
constants as filters, one emitted row per distinct triple
combination (tid multiset), pairwise node-variable injectivity
(Find.java:135-148), per-edge triple distinctness for collidable
edge pairs (Find.java:286-316), variables projected descending
(v1 = -1 first).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np

from motive_rdf_spark.patterns import Pattern

#: max triples collectable into a LocalGraph (see module docstring)
LOCAL_GRAPH_LIMIT = 2_000_000

#: most candidate rows expanded at once when no step budget bounds a
#: level. Of 2^12, 2^14 and 2^16, 2^14 matched fastest on unbudgeted
#: search and exact rescoring over a 209k-triple skewed-degree graph.
BLOCK_ROWS = 1 << 14

# key shapes: which of (s, p, o) are bound
_SHAPES = [(s, p, o) for s in (False, True) for p in (False, True) for o in (False, True)]

# packed codes must fit int64: every id span (and m) below sqrt(2^63)
_MAX_SPAN = 3_037_000_499


@dataclass
class _Step:
    """One pattern edge of a matching plan. A term is bound when it is
    a constant or a variable bound by an earlier step."""

    shape: tuple[bool, bool, bool]
    keys: list  # per position: constant, binding column, or None
    new: list[tuple[int, int]]  # (position, column) of first-bound vars
    repeats: list[tuple[int, int]]  # (position, earlier position): same new var
    distinct: list[tuple[int, list[int], list[int]]]  # injectivity: (position, bound columns, earlier positions)
    prior: list[int]  # earlier steps whose edge may match the same triple


class LocalGraph:
    """Immutable in-memory triple table with sorted-key indexes."""

    def __init__(self, s: np.ndarray, p: np.ndarray, o: np.ndarray):
        self.S = np.ascontiguousarray(s, dtype=np.int64)
        self.P = np.ascontiguousarray(p, dtype=np.int64)
        self.O = np.ascontiguousarray(o, dtype=np.int64)
        self.m = len(self.S)
        self._ns = int(max(self.S.max(initial=-1), self.O.max(initial=-1))) + 1
        self._nr = int(self.P.max(initial=-1)) + 1
        if max(self._ns, self._nr, self.m) > _MAX_SPAN:
            raise ValueError("LocalGraph needs dense ids (space below 3e9)")
        # distinct (s, p) codes: the (s, p, o) key packs their rank
        self._sp = np.unique(self.S * self._nr + self.P)
        self._index: dict[tuple[bool, bool, bool], tuple[np.ndarray, np.ndarray]] = {}
        for shape in _SHAPES:
            codes = self._code(shape, self.S, self.P, self.O, self.m)
            order = np.argsort(codes, kind="stable")
            self._index[shape] = (codes[order], order)

    def _code(self, shape, s, p, o, n: int) -> np.ndarray:
        """int64 key codes of ``n`` keys over the bound positions of
        ``shape`` (unbound positions are ignored); -1 where a value lies
        outside the graph's id spaces."""
        bs, bp, bo = shape
        ns, nr = self._ns, self._nr
        ok = np.ones(n, dtype=bool)
        for bound, v, span in ((bs, s, ns), (bp, p, nr), (bo, o, ns)):
            if bound:
                ok &= (v >= 0) & (v < span)
        s, p, o = (np.where(ok, v, 0) if b else None for b, v in zip(shape, (s, p, o)))
        if shape == (True, True, True):
            sp = s * nr + p
            rank = np.minimum(np.searchsorted(self._sp, sp), len(self._sp) - 1)
            ok &= self._sp[rank] == sp if len(self._sp) else False
            code = rank * ns + o
        elif shape == (True, True, False):
            code = s * nr + p
        elif shape == (False, True, True):
            code = p * ns + o
        elif shape == (True, False, True):
            code = s * ns + o
        elif any(shape):
            code = s if bs else p if bp else o
        else:
            code = np.zeros(n, dtype=np.int64)
        return np.where(ok, code, -1)

    def _ranges(self, shape, s, p, o, n: int) -> tuple[np.ndarray, np.ndarray]:
        """(start, count) of each of ``n`` queries' rows in ``shape``'s
        order."""
        codes, _ = self._index[shape]
        q = self._code(shape, s, p, o, n)
        lo = np.searchsorted(codes, q, side="left")
        return lo, np.searchsorted(codes, q, side="right") - lo

    def _rows(self, s: int | None, p: int | None, o: int | None) -> np.ndarray:
        """Row ids whose bound positions equal the given values
        (None = unbound), ascending."""
        shape = (s is not None, p is not None, o is not None)
        one = [np.array([0 if v is None else v], dtype=np.int64) for v in (s, p, o)]
        lo, cnt = self._ranges(shape, *one, 1)
        return self._index[shape][1][lo[0] : lo[0] + cnt[0]]

    @classmethod
    def from_df(cls, triples) -> "LocalGraph":
        """Collect a (s, p, o) DataFrame. Caller is responsible for the
        LOCAL_GRAPH_LIMIT gate (it already knows m from graph_dims)."""
        pdf = triples.select("s", "p", "o").toPandas()
        return cls(pdf["s"].to_numpy(), pdf["p"].to_numpy(), pdf["o"].to_numpy())

    def dims(self) -> tuple[int, int, int]:
        """(n, m, r) under the same dense-id contract as
        degrees.graph_dims: space size = max id + 1."""
        return self._ns, self.m, self._nr

    def incident(self, node: int, cap: int) -> list[tuple[int, int, int]]:
        """First ``cap`` triples touching ``node`` as subject or object
        (the sampling pool of the EXTEND transition)."""
        rows = np.union1d(self._rows(node, None, None), self._rows(None, None, node))[:cap]
        return list(zip(self.S[rows].tolist(), self.P[rows].tolist(), self.O[rows].tolist()))

    # -- the matcher ---------------------------------------------------

    def find_rows(
        self,
        pattern: Pattern,
        max_rows: int | None = None,
        deadline: float | None = None,
        max_steps: int | None = None,
    ) -> tuple[list[list[int]], bool]:
        """All matches of ``pattern`` (see module docstring for the
        contract), as rows of variable values in descending variable
        order — the same layout as ``find(...)``'s v1..vk columns.
        Returns (rows, timed_out); rows is a correct subset when
        ``timed_out`` or when ``max_rows`` truncated enumeration.

        Budgets: ``deadline`` (time.monotonic) mirrors the reference's
        wall-clock match budget: a match it stops returns the rows found
        so far, in depth-first order, with ``timed_out``. ``max_steps``
        caps candidate rows (module docstring) instead — the same
        differential truncation of expensive patterns, but DETERMINISTIC
        (load-independent), so fixed-seed searches reproduce
        bit-for-bit. With ``max_steps`` set, the deadline is checked
        only before the match starts: the step budget already bounds
        its work."""
        if not pattern.edges:
            raise ValueError("empty pattern")
        plan = self._plan(pattern)
        # a recursive enumeration stops right after its max_rows-th row
        cap = float("inf") if max_rows is None else max(max_rows, 1)
        if deadline is not None and time.monotonic() > deadline:
            return [], True
        width = pattern.num_vars
        root = (np.zeros((1, width), dtype=np.int64), np.zeros((1, 0), dtype=np.int64))
        if max_steps is None:
            return self._find_blocks(plan, root, cap, deadline)
        return self._find_budgeted(plan, root, cap, max_steps)

    def _find_budgeted(self, plan, root, cap, max_steps):
        """Level-wise enumeration under the step budget (module
        docstring). Level d holds the partial matches of d edges, in
        depth-first order. No level holds more than ``max_steps`` rows,
        so the deadline is not checked between levels."""
        bind, used = root
        lb = np.zeros(1, dtype=np.int64)  # lower bound of each parent's prefix
        costs, parents, overflow = [], [np.zeros(1, dtype=np.int64)], []
        for step in plan:
            lo, cnt = self._step_ranges(step, bind)
            # the prefix of a node is at least its ancestors' and its
            # level predecessors' costs: monotone in depth-first order,
            # so the nodes within budget are a prefix of the level
            lb = lb + np.cumsum(cnt)
            keep = int(np.searchsorted(lb, max_steps, side="right"))
            if keep == 0 and len(lb):
                return [], True  # every remaining row lies past the cut
            # the first node cut here (if any) stops the enumeration
            # before anything after it: charge its parent past budget
            overflow.append(int(parents[-1][keep]) if keep < len(lb) else -1)
            parents[-1] = parents[-1][:keep]
            bind, used, lo, cnt, lb = bind[:keep], used[:keep], lo[:keep], cnt[:keep], lb[:keep]
            costs.append(cnt)
            par, bind, used = self._expand(step, bind, used, lo, cnt, 0, int(cnt.sum()))
            parents.append(par)
            lb = lb[par]
        # bottom-up: each node's cost plus its subtree's
        sub = [np.zeros(len(bind), dtype=np.int64)]
        for d in range(len(plan) - 1, -1, -1):
            below = np.bincount(parents[d + 1], weights=sub[0], minlength=len(costs[d]))
            s = costs[d] + below.astype(np.int64)
            if d + 1 < len(plan) and overflow[d + 1] >= 0:
                s[overflow[d + 1]] += max_steps + 1
            sub.insert(0, s)
        # top-down: inclusive depth-first prefix of every node
        prefix = costs[0]
        for d in range(1, len(plan) + 1):
            par, s = parents[d], sub[d]
            before = np.cumsum(s) - s
            first = np.searchsorted(par, par, side="left")
            own = costs[d] if d < len(plan) else 0
            prefix = prefix[par] + (before - before[first]) + own
        emitted = int(np.searchsorted(prefix, max_steps, side="right"))
        rows = bind[: int(min(emitted, cap))].tolist()
        return rows, emitted < cap and int(sub[0][0]) > max_steps

    def _find_blocks(self, plan, root, cap, deadline):
        """Depth-first over frontier blocks of at most BLOCK_ROWS
        candidates: memory stays bounded however large a level is. A
        frame's first block is as large as the rows still wanted, and
        each next one twice the last, so a small ``max_rows`` does not
        expand full blocks."""
        out: list[list[int]] = []

        def frame(d, bind, used):
            lo, cnt = self._step_ranges(plan[d], bind)
            size = int(min(BLOCK_ROWS, cap - len(out)))
            return [d, bind, used, lo, cnt, 0, int(cnt.sum()), size]

        stack = [frame(0, *root)]
        while stack:
            if deadline is not None and time.monotonic() > deadline:
                return out, True
            top = stack[-1]
            d, bind, used, lo, cnt, pos, total, size = top
            if pos >= total:
                stack.pop()
                continue
            end = min(pos + size, total)
            top[5], top[7] = end, min(2 * size, BLOCK_ROWS)
            _, bind, used = self._expand(plan[d], bind, used, lo, cnt, pos, end)
            if d + 1 == len(plan):
                out.extend(bind[: int(min(len(bind), cap - len(out)))].tolist())
                if len(out) >= cap:
                    return out, False
            elif len(bind):
                stack.append(frame(d + 1, bind, used))
        return out, False

    def _step_ranges(self, step: _Step, bind: np.ndarray):
        n = len(bind)
        vals = [
            None if k is None
            else bind[:, k[1]] if isinstance(k, tuple)
            else np.full(n, k, dtype=np.int64)
            for k in step.keys
        ]
        return self._ranges(step.shape, *vals, n)

    def _expand(self, step: _Step, bind, used, lo, cnt, start: int, end: int):
        """Children of the candidates ``start:end`` of the frontier's
        concatenated candidate lists: (parent index, bindings, used
        rows), filtered, in order."""
        ends = np.cumsum(cnt)
        flat = np.arange(start, end, dtype=np.int64)
        par = np.searchsorted(ends, flat, side="right")
        rows = self._index[step.shape][1][flat + (lo - (ends - cnt))[par]]
        keep = np.ones(len(rows), dtype=bool)
        for d in step.prior:
            keep &= rows != used[par, d]
        cols = (self.S, self.P, self.O)
        val = {pos: cols[pos][rows] for pos, _ in step.new}
        for pos, first in step.repeats:
            keep &= cols[pos][rows] == val[first]
        for pos, bound, earlier in step.distinct:
            for c in bound:
                keep &= val[pos] != bind[par, c]
            for q in earlier:
                keep &= val[pos] != val[q]
        par, rows = par[keep], rows[keep]
        child = bind[par]
        for pos, c in step.new:
            child[:, c] = val[pos][keep]
        return par, child, np.column_stack([used[par], rows])

    def _plan(self, pattern: Pattern) -> list[_Step]:
        edges = pattern.edges
        order = self._order(pattern)
        column = {v: i for i, v in enumerate(pattern.variables)}
        node_vars = set(pattern.node_vars)
        bound: set[int] = set()
        plan = []
        for d, ei in enumerate(order):
            keys, new, repeats, distinct = [], [], [], []
            first: dict[int, int] = {}
            for pos, t in enumerate(edges[ei]):
                if t >= 0:
                    keys.append(t)
                elif t in bound:
                    keys.append(("col", column[t]))
                else:
                    keys.append(None)
                    if t in first:
                        repeats.append((pos, first[t]))
                        continue
                    if t in node_vars:
                        distinct.append((
                            pos,
                            [column[w] for w in bound if w in node_vars],
                            [q for w, q in first.items() if w in node_vars],
                        ))
                    first[t] = pos
                    new.append((pos, column[t]))
            pe = edges[ei][1]
            prior = [
                k for k, ej in enumerate(order[:d])
                if not (pe >= 0 and edges[ej][1] >= 0 and pe != edges[ej][1])
            ]
            plan.append(_Step(
                tuple(k is not None for k in keys), keys, new, repeats, distinct, prior
            ))
            bound |= set(first)
        return plan

    def _order(self, pattern: Pattern) -> list[int]:
        """Greedy selective-first, connected-next edge order — the
        in-memory analog of bgp._order_edges(probe=True), with exact
        constants-only candidate counts from the indexes."""
        edges = list(pattern.edges)
        costs = [
            len(self._rows(*(t if t >= 0 else None for t in e))) for e in edges
        ]

        def evars(e) -> set[int]:
            return {t for t in e if t < 0}

        remaining = set(range(len(edges)))
        order: list[int] = []
        bound: set[int] = set()
        while remaining:
            connected = [i for i in remaining if evars(edges[i]) & bound]
            pool = connected or sorted(remaining)
            best = min(pool, key=lambda i: (costs[i], i))
            order.append(best)
            bound |= evars(edges[best])
            remaining.discard(best)
        return order

    # -- degree vectors (for driver-exact scoring) ---------------------

    def degree_arrays(self, n: int, r: int) -> tuple:
        """(in, out, rel) dense degree vectors — the same statistic
        GraphDegrees.driver_arrays collects, computed locally."""
        return (
            np.bincount(self.O, minlength=n),
            np.bincount(self.S, minlength=n),
            np.bincount(self.P, minlength=r),
        )
