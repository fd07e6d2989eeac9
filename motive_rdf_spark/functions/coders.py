"""MDL coders — re-derived equivalents of the external
``nl.peterbloem.kit`` coders the reference depends on
(``Functions.log2Factorial/prefix``, ``OnlineModel.storeSequenceML``,
``PitmanYorModel.storeIntegers[Opt]`` — call sites EdgeListModel.java:22-82,
MotifCode.java:91-156).

The kit library is NOT vendored in the reference repo, so bit-for-bit
parity is unprovable (SURVEY.md §7.3); the P/R metric compares triple
sets, motif sets and support counts, which need score *ranking*
fidelity only. These coders are valid codes with the same structure
(log-factorial edge-list enumeration, Elias-style prefix integers,
exchangeable Pitman-Yor CRP for sequences), verified by the reference's
own invariants: planted motifs compress, random graphs don't
(MotifCodeTest.java:473-563).

All functions work on **histograms** ``{value -> count}`` rather than
materialized sequences — the collected form that one Spark
``groupBy().count()`` produces — so they run on degree sequences of a
100 TB graph without ever shipping a dense vector to the driver.
"""

from __future__ import annotations

import math
from functools import lru_cache

LN2 = math.log(2.0)


def log2_factorial(x: float) -> float:
    """log2(x!) via lgamma (kit Functions.log2Factorial)."""
    if x <= 1:
        return 0.0
    return math.lgamma(x + 1.0) / LN2


def log2(x: float) -> float:
    return math.log(x) / LN2


def prefix(n: float) -> float:
    """Elias-delta-style prefix code length for a non-negative integer
    (kit ``Functions.prefix``; real-valued, as the reference treats
    codelengths as doubles). Not bit-identical to kit — see module doc."""
    if n < 0:
        raise ValueError(n)
    x = n + 1.0
    return log2(x) + 2.0 * log2(log2(x) + 1.0) + 1.0


def _hist_total(hist: dict[int, int]) -> int:
    return sum(hist.values())


def store_sequence_ml(hist: dict[int, int]) -> float:
    """ML (empirical-distribution) sequence code: n·H(p̂) bits
    (``OnlineModel.storeSequenceML``, used by Prior.ML,
    EdgeListModel.java:49-52). Order-free — computable from the
    histogram of the sequence."""
    n = _hist_total(hist)
    if n == 0:
        return 0.0
    bits = 0.0
    for _, c in hist.items():
        if c > 0:
            bits += c * log2(n / c)
    return bits


def _rising_log2(x: float, m: int) -> float:
    """log2 of the rising factorial (x)_m = x(x+1)…(x+m-1)."""
    if m <= 0:
        return 0.0
    if x <= 0:
        # guard: shift into lgamma's domain by direct product (m is the
        # number of *distinct* symbols here — small)
        return sum(log2(x + i) for i in range(m))
    return (math.lgamma(x + m) - math.lgamma(x)) / LN2


def py_store_hist(
    hist: dict[int, int], d: float = 0.5, theta: float = 1.0
) -> float:
    """Pitman-Yor CRP codelength of an integer sequence given its
    histogram (``PitmanYorModel.storeIntegers``), exchangeable form.

    -log2 EPPF(c_1..c_K; d, θ)  +  Σ_new-symbols prefix(symbol):
      EPPF = [∏_{k=1}^{K-1}(θ + k·d)] · [∏_k (1-d)_{c_k-1}] / (θ+1)_{n-1}

    The per-new-symbol prefix() term is the cost of writing the symbol
    value itself the first time it appears.
    """
    counts = [c for c in hist.values() if c > 0]
    n = sum(counts)
    if n == 0:
        return 0.0
    k = len(counts)
    bits = 0.0
    # numerator: table-creation terms
    for i in range(1, k):
        bits -= log2(theta + i * d)
    # per-table continuations
    for c in counts:
        bits -= _rising_log2(1.0 - d, c - 1)
    # denominator
    bits += _rising_log2(theta + 1.0, n - 1)
    # first-occurrence symbol values
    for v, c in hist.items():
        if c > 0:
            bits += prefix(abs(int(v)))
    return bits


_PY_GRID_D = (0.0, 0.1, 0.25, 0.5, 0.75, 0.9)
_PY_GRID_T = (0.1, 0.5, 1.0, 2.0, 5.0, 20.0, 100.0)


def py_store_hist_opt(hist: dict[int, int]) -> float:
    """Parameter-optimized PY code (``PitmanYorModel.storeIntegersOpt``):
    best (d, θ) over a small grid + the cost of the grid index."""
    if not hist:
        return 0.0
    return _py_store_items_opt(tuple(hist.items()))


@lru_cache(maxsize=4096)
def _py_store_items_opt(items: tuple[tuple[int, int], ...]) -> float:
    # keyed on the items in dict order: py_store_hist sums its float
    # terms in that order, so a key that forgot it could hand one
    # ordering the last-bit-different total of another. The callers'
    # histograms (pattern_bits over a pattern of <= 10 edges) take few
    # distinct values, so the grid search runs once per histogram.
    hist = dict(items)
    best = min(
        py_store_hist(hist, d, t) for d in _PY_GRID_D for t in _PY_GRID_T
    )
    return best + log2(len(_PY_GRID_D) * len(_PY_GRID_T))


def lgamma_log2_udf():
    """Vectorized column form of ``log2(x!)`` — the Arrow pandas UDF the
    input_hint mandates for codelength math applied to DataFrame
    columns (driver-side histogram math uses :func:`log2_factorial`).

    Built lazily (pandas_udf needs no session, but keeping the import
    local keeps this module importable without pyspark workers).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    # no type hints: `from __future__ import annotations` turns them
    # into strings pandas_udf's eval-type inference cannot resolve here
    @pandas_udf(DoubleType())
    def lgamma_log2(x):
        import numpy as np

        # scipy is not in this runtime; numpy-vectorized math.lgamma is
        # still Arrow-batched (one python call per element inside the
        # batch, zero per-row serialization). Swap in scipy.special
        # .gammaln when available:
        try:
            from scipy.special import gammaln  # type: ignore
        except ImportError:
            gammaln = np.vectorize(math.lgamma, otypes=["float64"])

        v = x.astype("float64").to_numpy()
        out = gammaln(v + 1.0) / LN2
        out[v <= 1] = 0.0
        return pd.Series(out)

    return lgamma_log2


def py_store_seq(seq: list[int], opt: bool = False) -> float:
    """Sequence-form convenience wrapper (unit tests, tiny pattern-label
    lists — MotifCode.java:88-97)."""
    hist: dict[int, int] = {}
    for v in seq:
        hist[v] = hist.get(v, 0) + 1
    return py_store_hist_opt(hist) if opt else py_store_hist(hist)
