"""Spark adapters feeding the driver-side MDL math (functions/mdl.py).

Everything heavy stays distributed; only *histograms of histograms*
(distinct degree values × counts — tiny at any graph size) are
collected. Reference: MotifCode.codelength (MotifCode.java:56-137).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, functions as F

from motive_rdf_spark.functions.mdl import (
    Hist,
    MotifScore,
    Prior,
    edgelist_codelength,
    motif_codelength,
)
from motive_rdf_spark.operators import degrees as deg
from motive_rdf_spark.operators.prune import instance_triples_df
from motive_rdf_spark.patterns import Pattern, var_col
from motive_rdf_spark.threads import side_by_side


#: driver-exact scoring densifies 3 int64 degree vectors; at the cap
#: that is ~48 MB of driver heap. Graphs with larger id spaces always
#: take the distributed histogram path.
DRIVER_DEGREE_LIMIT = 2_000_000


class GraphDegrees:
    """Persisted per-position degree frames of ONE graph. They are
    pattern-independent, so a search loop builds them once and every
    ``score_motif`` call reuses them — previously each candidate
    recomputed all three groupBys (3 shuffles per score). Re-persisting
    an identical plan is a cache hit in Spark's CacheManager, so N
    search chains over the same graph share one copy."""

    def __init__(self, triples: DataFrame):
        self.in_deg = deg.in_degrees(triples).persist()
        self.out_deg = deg.out_degrees(triples).persist()
        self.rel_deg = deg.rel_degrees(triples).persist()
        self._np: tuple | None = None
        self._np_refused = False

    def driver_arrays(self, n: int, r: int) -> tuple | None:
        """Dense (in, out, rel) numpy degree vectors for the driver-exact
        scoring tier, or None when the id spaces exceed
        DRIVER_DEGREE_LIMIT (the 100 TB case: stay distributed).
        Collected once per graph and memoized."""
        if self._np is not None:
            return self._np
        if self._np_refused or max(n, r) > DRIVER_DEGREE_LIMIT:
            self._np_refused = True
            return None

        def dense(df: DataFrame, key: str, space: int) -> np.ndarray:
            arr = np.zeros(space, dtype=np.int64)
            for row in df.collect():
                arr[int(row[key])] = int(row["deg"])
            return arr

        self._np = (
            dense(self.in_deg, "node", n),
            dense(self.out_deg, "node", n),
            dense(self.rel_deg, "rel", r),
        )
        return self._np

    def unpersist(self) -> None:
        for d in (self.in_deg, self.out_deg, self.rel_deg):
            d.unpersist()


def null_bits(
    triples: DataFrame,
    prior: Prior = Prior.ML,
    degs: GraphDegrees | None = None,
    dims: tuple[int, int, int] | None = None,
) -> float:
    """EdgeListModel.codelength(KGraph.degrees(data), prior) — the null
    model every motif competes against (RealWorld.java:62). ``dims``
    are the graph's (n, m, r) when the caller already has them."""
    n, m, r = dims or deg.graph_dims(triples)
    if degs is None:
        return edgelist_codelength(deg.degree_histograms(triples, n, r), prior)
    hists = [
        deg.degree_histogram(degs.in_deg, n),
        deg.degree_histogram(degs.out_deg, n),
        deg.degree_histogram(degs.rel_deg, r),
    ]
    return edgelist_codelength(hists, prior)


def null_bits_arrays(degs_np: tuple, prior: Prior = Prior.ML) -> float:
    """``null_bits`` from dense driver-side degree vectors (the
    LocalGraph / driver-exact tier) — same histogram, zero Spark jobs.
    The dense vectors already carry the implicit zeros that
    deg.degree_histogram adds to the sparse collected form."""
    return edgelist_codelength([_dense_hist(arr) for arr in degs_np], prior)


def _dense_hist(arr: np.ndarray) -> Hist:
    """{value: count} of an int vector, ascending values: what
    ``np.unique(arr, return_counts=True)`` gives, from one counting
    pass instead of a sort (the values are degrees or frequencies, so
    their range is small)."""
    lo = int(arr.min(initial=0))
    cnts = np.bincount(arr - lo if lo else arr)
    vals = np.flatnonzero(cnts)
    return dict(zip((vals + lo).tolist(), cnts[vals].tolist()))


#: the instance-triple column of each template position, in output
#: order: in-degree counts objects, out-degree subjects, relation
#: degree predicates
_TEMPLATE_COLS = ("o", "s", "p")


def template_degree_hists(
    triples: DataFrame,
    inst: DataFrame,
    n: int,
    r: int,
    degs: GraphDegrees | None = None,
) -> list[Hist]:
    """[in, out, rel] graph degree histograms after subtracting the
    degree contribution of the instance triples ``inst`` (s, p, o),
    duplicates preserved (MotifCode.java:100-126: SparseList.inc over
    Utils.allTriples, then lazy minus).

    ONE query for all three positions: stack (pos, id, w) rows — the
    graph's degrees (+deg per id from ``degs``, or +1 per triple) and
    the instance triples (-1 each) — then sum per (pos, id) and count
    per (pos, deg). The per-id sum is the sparse form of the dense
    ``degree - instance count`` subtraction; ids absent from both sides
    are the implicit zeros added from the id-space size.
    """

    def signed(df: DataFrame, pos: int, col: str, w) -> DataFrame:
        return df.select(
            F.lit(pos).alias("pos"), F.col(col).cast("long").alias("id"), w.cast("long").alias("w")
        )

    if degs is None:
        parts = [signed(triples, pos, c, F.lit(1)) for pos, c in enumerate(_TEMPLATE_COLS)]
    else:
        frames = (degs.in_deg, degs.out_deg, degs.rel_deg)
        parts = [signed(d, pos, d.columns[0], F.col("deg")) for pos, d in enumerate(frames)]
    parts += [signed(inst, pos, c, F.lit(-1)) for pos, c in enumerate(_TEMPLATE_COLS)]
    rows = (
        functools.reduce(DataFrame.unionAll, parts)
        .groupBy("pos", "id")
        .agg(F.sum("w").alias("deg"))
        .groupBy("pos", "deg")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    hists: list[Hist] = [{}, {}, {}]
    for row in rows:
        hists[row["pos"]][int(row["deg"])] = int(row["cnt"])
    for h, space in zip(hists, (n, n, r)):
        covered = sum(h.values())
        if space > covered:
            h[0] = h.get(0, 0) + (space - covered)
    return hists


def variable_freq_hists(
    pattern: Pattern, matches: DataFrame, n: int, r: int
) -> dict[int, tuple[Hist, int]]:
    """Per-variable frequency-of-frequency histograms
    (MotifCode.patternDegrees, MotifCode.java:247-269): for each variable,
    how often each bound value occurs across matches, collected as
    {frequency -> #values}. Node variables range over [0,n), predicate
    variables over [0,r).

    ONE query for all variables: explode each match into its (var,
    value) pairs, count per (var, value), then count per (var, f)."""
    vs = list(pattern.variables)
    if not vs:
        return {}
    pairs = matches.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(v).alias("var"), F.col(var_col(v)).cast("long").alias("value"))
                    for v in vs
                ]
            )
        ).alias("x")
    ).select("x.var", "x.value")
    rows = (
        pairs.groupBy("var", "value")
        .agg(F.count("*").alias("f"))
        .groupBy("var", "f")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    hists: dict[int, Hist] = {v: {} for v in vs}
    for row in rows:
        hists[row["var"]][int(row["f"])] = int(row["cnt"])
    node_vars = set(pattern.node_vars)
    return {v: (hists[v], n if v in node_vars else r) for v in vs}


def score_motif(
    triples: DataFrame,
    pattern: Pattern,
    pruned_matches: DataFrame,
    n: int,
    m: int,
    r: int,
    fast_py: bool = True,
    degs: GraphDegrees | None = None,
) -> MotifScore:
    """Full MotifCode.codelength pipeline over DataFrames. ``pruned_matches``
    must already be overlap-pruned (operators/prune.py). Two collects,
    run side by side on driver threads: the template histograms and the
    variable histograms. The instance count k is read off a variable
    histogram (each variable's frequencies sum to the match count), so
    only a variable-free pattern pays a ``count``."""
    inst = instance_triples_df(pattern, pruned_matches).select("s", "p", "o")
    tmpl, var_h = side_by_side(
        pruned_matches.sparkSession,
        [
            lambda: template_degree_hists(triples, inst, n, r, degs),
            lambda: variable_freq_hists(pattern, pruned_matches, n, r),
        ],
    )
    if var_h:
        hist, _ = next(iter(var_h.values()))
        k = sum(f * c for f, c in hist.items())
    else:
        k = pruned_matches.count()
    return motif_codelength(tmpl, n, m, r, pattern, var_h, k, fast_py)


def score_motif_rows(
    pattern: Pattern,
    rows,
    n: int,
    m: int,
    r: int,
    degs_np: tuple,
    fast_py: bool = True,
) -> MotifScore:
    """Driver-exact tier of ``score_motif``: identical arithmetic, zero
    Spark jobs. Used by the search hot loop when the (already
    overlap-pruned) matches live on the driver — the prune_matches
    path, bounded by ``driver_prune_threshold`` rows — and the graph's
    id spaces fit ``GraphDegrees.driver_arrays``. The histogram algebra
    mirrors template_degree_hists/variable_freq_hists exactly: dense
    degree vector minus instance-triple contribution, then
    value-histogram (the Spark path's per-id signed sum + implicit-zeros
    logic is the sparse form of the same subtraction). ``rows`` is the
    ``(k, num_vars)`` match matrix (or a list of rows)."""
    in_arr, out_arr, rel_arr = degs_np
    k = len(rows)
    mat = np.asarray(rows, dtype=np.int64).reshape(k, pattern.num_vars)

    def col(t: int) -> np.ndarray:
        # values[i] binds var -(i+1)  ->  var t < 0 is column -t-1
        return mat[:, -t - 1] if t < 0 else np.full(k, t, dtype=np.int64)

    s_parts = [col(s) for s, _, _ in pattern.edges]
    p_parts = [col(p) for _, p, _ in pattern.edges]
    o_parts = [col(o) for _, _, o in pattern.edges]
    sub_out = np.bincount(np.concatenate(s_parts), minlength=n)
    sub_rel = np.bincount(np.concatenate(p_parts), minlength=r)
    sub_in = np.bincount(np.concatenate(o_parts), minlength=n)
    tmpl = [
        _dense_hist(in_arr - sub_in),
        _dense_hist(out_arr - sub_out),
        _dense_hist(rel_arr - sub_rel),
    ]
    node_vars = set(pattern.node_vars)
    var_h: dict[int, tuple[Hist, int]] = {}
    for i, v in enumerate(pattern.variables):
        freqs = np.unique(mat[:, i], return_counts=True)[1]
        var_h[v] = (_dense_hist(freqs), n if v in node_vars else r)
    return motif_codelength(tmpl, n, m, r, pattern, var_h, k, fast_py)
