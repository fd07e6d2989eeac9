"""The benchmark's workloads.

Each workload builds its inputs from the seed alone (``setup``), runs one
measured operation at a time through the engine's public functions
(``op``) and checks that operation's output. ``op`` returns samples of
(seconds, work units) and the number of samples whose output check
failed. ``warm`` runs once after setup. ``induce_local`` checks that
every operation repeats the warm-up's output; ``snapshot_append``
recomputes its outputs on the driver.
"""

from __future__ import annotations

import os
import shutil
import time

from motive_rdf_spark import search
from motive_rdf_spark.canon import canonical_key
from motive_rdf_spark.data import generators
from motive_rdf_spark.operators import bgp, degrees, mdl_ops, prune
from motive_rdf_spark.operators.localgraph import LocalGraph
from motive_rdf_spark.patterns import Pattern
from motive_rdf_spark.pipeline import materialize

# the planted motif: a directed triangle over three distinct predicates
TRIANGLE = [(-1, 0, -2), (-2, 1, -3), (-3, 2, -1)]

SIZES = {
    # name: {size: parameters}; "tiny" is for the smoke test
    "induce_local": {
        "full": dict(n=2000, m=6000, r=10, k=1000, iterations=100, calls=8),
        "tiny": dict(n=300, m=900, r=5, k=60, iterations=10, calls=2),
    },
    "snapshot_append": {
        "full": dict(rows=2000, commits=2),
        "tiny": dict(rows=200, commits=2),
    },
}


class Workload:
    name = ""

    def __init__(self, spark, seed: int, size: str, tracer, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.p = SIZES[self.name][size]
        self.tracer = tracer
        self.work_dir = work_dir
        self.reference: dict = {}

    def repeat(self, signature, key=None) -> bool:
        """True when ``signature`` equals the first one seen for ``key``."""
        return self.reference.setdefault(key, signature) == signature

    def setup(self) -> None:
        raise NotImplementedError

    def op(self) -> tuple[list[tuple[float, float]], int]:
        raise NotImplementedError

    def warm(self) -> tuple[list[tuple[float, float]], int]:
        return self.op()

    def close(self) -> None:
        pass


class InduceLocal(Workload):
    """Fixed-seed simulated annealing over an in-memory LocalGraph: the
    search loop that never touches Spark."""

    name = "induce_local"

    def setup(self) -> None:
        p = self.p
        with self.tracer.span("data.generators", "planted_graph"):
            g = generators.planted_graph(
                self.spark, p["n"], p["m"], p["r"], TRIANGLE, p["k"], seed=self.seed
            )
            self.graph = LocalGraph.from_df(g)

    def op(self):
        # several sa_parallel_local calls of <= nproc chains each: one
        # call's cost swings with its few chains' trajectories, the sum
        # over calls much less. Chain seeds derive from the run's seed.
        p = self.p
        chains = min(4, len(os.sched_getaffinity(0)))
        dt, ok = 0.0, True
        for j in range(p["calls"]):
            cfg = search.SAConfig(
                iterations=p["iterations"], seed=self.seed * 64 + j * chains,
                max_matches=5000, max_steps=20_000,
            )
            t0 = time.perf_counter()
            state = search.sa_parallel_local(
                self.graph, chains=chains, config=cfg, init_pattern=Pattern(TRIANGLE)
            )
            dt += time.perf_counter() - t0
            with self.tracer.paused():
                top = [
                    (canonical_key(r.pattern), round(r.score, 6), r.frequency)
                    for r in search.by_score(state, 5)
                ]
            ok &= bool(top) and self.repeat((state.num_pos, len(state.results), top), j)
        return [(dt, p["calls"] * chains * p["iterations"])], int(not ok)


# predicate ids of the first snapshot's dictionary: terms are numbered
# lexicographically (calls, defines_class, defines_function, ...)
P_CALLS, P_DEFINES_FUNCTION = 0, 2


class SnapshotAppend(Workload):
    """One snapshot appended to a KG that holds one committed snapshot
    (extract, dictionary extend, encode, incremental canonicalization,
    parquet write, delta motif support, ledger), then the maintained
    motif matched, pruned and MDL-scored over the appended KG with the
    distributed operators."""

    name = "snapshot_append"
    motif = Pattern([(-1, P_DEFINES_FUNCTION, -2), (-2, P_CALLS, -3)])

    def setup(self) -> None:
        if hasattr(self, "source"):
            self.close()
        p = self.p
        with self.tracer.span("data.generators", "source_code_table"):
            self.source = generators.source_code_table(
                self.spark, p["rows"], commits=p["commits"], seed=self.seed
            ).drop("k").persist()
            self.cands = generators.candidate_dict(self.spark, p["rows"]).persist()
            self.source.count()
            self.cands.count()
            self.snapshots = sorted(
                r["commit"] for r in self.source.select("commit").distinct().collect()
            )
        self.base = os.path.join(self.work_dir, "kg-base")
        self.runs = 0

    def warm(self):
        """Commit the first snapshot into the base directory every
        operation starts from (cold: the first run of most code paths).
        The first append still compiles its own paths; a warm-up append
        would cost one more commit per run, which the benchmark's time
        budget does not hold."""
        shutil.rmtree(self.base, ignore_errors=True)
        reports = materialize.run_pipeline(
            self.spark, self.source, self.cands, self.base,
            snapshots=self.snapshots[:1], motifs={"chain": self.motif},
        )
        self.base_triples = reports[0].n_triples
        return [(0.0, self.base_triples)], int(self.base_triples <= 0)

    def op(self):
        # a fresh copy of the base directory per operation: appending
        # into a reused one would make the ledger skip the snapshot
        self.runs += 1
        out = os.path.join(self.work_dir, f"kg-{self.runs}")
        shutil.copytree(self.base, out)
        graph = matches = pruned = None
        try:
            t0 = time.perf_counter()
            (rep,) = materialize.run_pipeline(
                self.spark, self.source, self.cands, out,
                snapshots=self.snapshots[1:2], motifs={"chain": self.motif},
            )
            graph = materialize.load_graph(self.spark, out).persist()
            n, m, r = degrees.graph_dims(graph)
            # the counts run the lazy plans: charge them to their layers
            with self.tracer.span("operators.bgp", "find.count"):
                matches = bgp.find(graph, self.motif).persist()
                n_match = matches.count()
            with self.tracer.span("operators.prune", "prune_matches_df.count"):
                pruned = prune.prune_matches_df(self.motif, matches).persist()
                n_kept = pruned.count()
            score = mdl_ops.score_motif(graph, self.motif, pruned, n, m, r)
            dt = time.perf_counter() - t0
            self.tracer.note("operators.prune", matched=n_match, kept=n_kept)
            with self.tracer.paused():
                ok = (
                    not rep.skipped
                    and rep.motif_supports.get("chain", 0) == n_match > 0
                    and _driver_check(self.motif, graph, matches, pruned, (n, m, r), score)
                )
            if self.tracer.enabled:
                # the stage split run_snapshot measures itself goes to
                # the span file
                self.tracer.note(
                    "pipeline.materialize",
                    out_bytes=_tree_bytes(out),
                    committed_triples=self.base_triples + rep.n_triples,
                    **{f"stage_{k}_s": v for k, v in rep.stages.items()},
                )
        finally:
            for df in (pruned, matches, graph):
                if df is not None:
                    df.unpersist()
            shutil.rmtree(out, ignore_errors=True)
        return [(dt, rep.n_triples)], int(not ok)

    def close(self) -> None:
        self.source.unpersist()
        self.cands.unpersist()


def _driver_check(pattern, graph, matches, pruned, dims, score) -> bool:
    """Recompute the distributed results on the driver: graph dimensions
    and degree vectors with numpy, the greedy prune with the sequential
    reference (matches in canonical key order) and the motif's bits with
    the driver-exact scorer."""
    import numpy as np

    t = np.array(graph.select("s", "p", "o").collect(), dtype=np.int64).reshape(-1, 3)
    n = int(max(t[:, 0].max(), t[:, 2].max())) + 1
    r = int(t[:, 1].max()) + 1
    if (n, len(t), r) != tuple(dims):
        return False
    key = prune.canonical_sort_key(pattern)
    rows = sorted(list(x) for x in matches.select(*key).collect())
    kept = prune.prune_matches(pattern, rows)
    if kept != sorted(list(x) for x in pruned.select(*key).collect()):
        return False
    degs_np = (
        np.bincount(t[:, 2], minlength=n),
        np.bincount(t[:, 0], minlength=n),
        np.bincount(t[:, 1], minlength=r),
    )
    exact = mdl_ops.score_motif_rows(pattern, kept, n, len(t), r, degs_np)
    return abs(exact.total - score.total) <= 1e-6 * max(1.0, abs(exact.total))


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


WORKLOADS = {w.name: w for w in (InduceLocal, SnapshotAppend)}
