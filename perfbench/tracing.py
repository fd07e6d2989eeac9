"""Span tracer for the benchmark.

The tracer wraps the engine's layer modules from outside (module and
class attributes are replaced by wrappers; no engine source changes).
Each call into a wrapped function records a span: layer name, function,
start, end, parent span and run id. Spans are kept in memory and written
out as JSON lines when the run ends.

Spark work is attributed to spans through job groups: a span of a layer
that can launch Spark jobs sets a fresh job group on entry, and on exit
reads the group's jobs (``statusTracker().getJobIdsForGroup``) and their
stages' counters from the status store (``lastStageAttempt``), which
works with ``spark.ui.enabled=false``. Jobs launched from helper threads
(``score_motif`` runs three actions in a thread pool) carry no group;
they are attributed to the innermost span open when they appear.

Search chains run in forked worker processes (``sa_parallel_local``);
the wrapper around the chain worker ships the child's spans back on the
returned state, and the wrapper around ``_merge_states`` collects them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time

PKG = "motive_rdf_spark"

# layer name -> module (the package modules, named as in the benchmark doc)
LAYERS = {
    "session": "session",
    "data.generators": "data.generators",
    "pipeline.extract": "pipeline.extract",
    "pipeline.link": "pipeline.link",
    "pipeline.encode": "pipeline.encode",
    "pipeline.canonicalize": "pipeline.canonicalize",
    "pipeline.materialize": "pipeline.materialize",
    "operators.bgp": "operators.bgp",
    "operators.degrees": "operators.degrees",
    "operators.prune": "operators.prune",
    "operators.mdl_ops": "operators.mdl_ops",
    "operators.delta": "operators.delta",
    "operators.localgraph": "operators.localgraph",
    "canon": "canon",
    "search": "search",
}

# layers whose functions can launch Spark jobs
SPARK_LAYERS = (
    "data.generators",
    "pipeline.extract",
    "pipeline.link",
    "pipeline.encode",
    "pipeline.canonicalize",
    "pipeline.materialize",
    "operators.bgp",
    "operators.degrees",
    "operators.prune",
    "operators.mdl_ops",
    "operators.delta",
    "search",
)

# methods wrapped besides the public module-level functions
METHODS = {
    "operators.mdl_ops": {"GraphDegrees": ("__init__", "driver_arrays")},
    "operators.localgraph": {
        "LocalGraph": ("find_rows", "incident", "degree_arrays")
    },
    "search": {"SimAnnealing": ("iterate",)},
}

# private functions wrapped as spans of another layer: the snapshot's
# motif-support maintenance is the delta matcher's work
PRIVATE = {
    ("pipeline.materialize", "_maintain_motif_supports"): "operators.delta",
}

SPARK_COUNTERS = (
    ("spark_jobs", "count"),
    ("spark_tasks", "count"),
    ("failed_tasks", "count"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("executor_run_s", "s"),
)

RATIOS = (
    ("operators.prune.kept_ratio", "ratio", "higher"),
    ("search.cache_hit_ratio", "ratio", "higher"),
    ("search.wasted_proposal_ratio", "ratio", "lower"),
    ("operators.localgraph.truncated_ratio", "ratio", "lower"),
    ("pipeline.materialize.bytes_per_triple", "B/triple", "lower"),
)

OVERHEAD = ("trace.overhead_s", "s", "lower")


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    out = []
    for layer in LAYERS:
        out.append((f"{layer}.busy_s", "s", "lower"))
        out.append((f"{layer}.calls", "count", "lower"))
        if layer in SPARK_LAYERS:
            out += [(f"{layer}.{c}", u, "lower") for c, u in SPARK_COUNTERS]
    return out + list(RATIOS) + [OVERHEAD]


class Tracer:
    """Span recorder. ``enabled`` is checked by every wrapper, so a run
    can interleave traced and untraced operations."""

    def __init__(self) -> None:
        self.enabled = False
        self.run = "setup"
        self.spans: list[dict] = []
        self.pid = os.getpid()
        self._ids = itertools.count(1)  # next() is atomic across threads
        self._claim_lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._sc = None
        self._seen_ungrouped: set[int] = set()

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        if st:
            return st[-1]
        # helper threads hang their spans under the main thread's span
        return self._main_stack[-1] if self._main_stack else None

    def _open(self, layer: str, fn: str) -> dict:
        parent = self.current()
        span = {
            "id": f"{os.getpid()}.{next(self._ids)}",
            "layer": layer,
            "fn": fn,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "run": self.run,
        }
        if self._sc is not None and layer in SPARK_LAYERS and os.getpid() == self.pid:
            self._claim_ungrouped(parent)
            span["group"] = f"perfbench-{span['id']}"
            span["spark"] = dict.fromkeys((c for c, _ in SPARK_COUNTERS), 0)
            self._sc.setJobGroup(span["group"], f"{layer}:{fn}")
        self._stack().append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        st = self._stack()
        st.pop()
        if "group" in span:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            jobs = set(self._sc.statusTracker().getJobIdsForGroup(span.pop("group")))
            self._add_jobs(span, jobs)
            self._claim_ungrouped(span)
            outer = next((s for s in reversed(st) if "group" in s), None)
            if outer is not None:
                self._sc.setJobGroup(outer["group"], outer["layer"])
            else:
                self._sc._jsc.clearJobGroup()
        self.spans.append(span)

    def _claim_ungrouped(self, span: dict | None) -> None:
        """Attribute jobs without a group (helper threads) to ``span``."""
        with self._claim_lock:
            fresh = set(self._sc.statusTracker().getJobIdsForGroup(None)) - self._seen_ungrouped
            self._seen_ungrouped |= fresh
        if span is not None and "spark" in span and fresh:
            self._add_jobs(span, fresh)

    def _add_jobs(self, span: dict, jobs: set[int]) -> None:
        from py4j.protocol import Py4JJavaError

        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        stages: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        c = span["spark"]
        c["spark_jobs"] += len(jobs)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never ran, not stored
                continue
            c["spark_tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
            c["failed_tasks"] += sd.numFailedTasks()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.diskBytesSpilled()
            c["executor_run_s"] += sd.executorRunTime() / 1000.0

    def count(self, key: str, n: int = 1) -> None:
        """Add to a counter of the innermost open span."""
        span = self.current()
        if self.enabled and span is not None:
            counters = span.setdefault("counters", {})
            counters[key] = counters.get(key, 0) + n

    def note(self, layer: str, **counters) -> None:
        """Record counters measured by the benchmark itself (a span of
        zero duration that adds no call)."""
        if not self.enabled:
            return
        t = time.perf_counter()
        parent = self.current()
        self.spans.append({
            "id": f"{os.getpid()}.{next(self._ids)}", "layer": layer, "fn": "note",
            "start": t, "end": t, "parent": parent["id"] if parent else None,
            "run": self.run, "counters": counters,
        })

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside (output checks are not the workload)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextlib.contextmanager
    def span(self, layer: str, fn: str):
        """A span around the benchmark's own call into ``layer``."""
        span = self._open(layer, fn) if self.enabled else None
        try:
            yield span
        finally:
            if span is not None:
                self._close(span)

    # -- wrapping ----------------------------------------------------------

    def _wrap(self, fn, layer: str, name: str, hook=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer._open(layer, name)
            try:
                out = fn(*args, **kwargs)
                if hook is not None:
                    hook(tracer, args, kwargs, out)
                return out
            finally:
                tracer._close(span)

        return wrapper

    def attach(self, spark) -> None:
        """Attribute Spark jobs of later spans through ``spark``."""
        self._sc = spark.sparkContext

    def install(self) -> None:
        """Wrap every layer's public functions (and the methods in
        METHODS) and rebind each name that package modules imported."""
        replaced: dict[int, object] = {}
        for layer, mod_name in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for attr, obj in list(vars(mod).items()):
                if (
                    callable(obj)
                    and not isinstance(obj, type)
                    and not attr.startswith("_")
                    and getattr(obj, "__module__", None) == mod.__name__
                ):
                    w = self._wrap(obj, layer, attr, HOOKS.get(attr))
                    replaced[id(obj)] = (obj, w)
            for cls_name, methods in METHODS.get(layer, {}).items():
                cls = getattr(mod, cls_name)
                for m in methods:
                    fn = vars(cls)[m]
                    setattr(cls, m, self._wrap(fn, layer, f"{cls_name}.{m}", HOOKS.get(m)))
        for (layer, attr), as_layer in PRIVATE.items():
            mod = importlib.import_module(f"{PKG}.{LAYERS[layer]}")
            obj = getattr(mod, attr)
            replaced[id(obj)] = (obj, self._wrap(obj, as_layer, attr))
        # rebind every package-module name bound to a wrapped original
        # (``from x import f`` copies the reference into the importer)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = replaced.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
        self._install_search_hooks()

    def _install_search_hooks(self) -> None:
        from motive_rdf_spark import search

        tracer = self
        score = search.SimAnnealing._score

        @functools.wraps(score)
        def _score(sa, pattern):
            if not tracer.enabled:
                return score(sa, pattern)
            before = len(sa.state.score_cache)
            out = score(sa, pattern)
            span = tracer.current()
            if span is not None and span["fn"] == "SimAnnealing.iterate":
                tracer.count("proposals")
                tracer.count("cache_hits", int(len(sa.state.score_cache) == before))
            return out

        setattr(search.SimAnnealing, "_score", _score)

        worker = search._local_chain_worker

        @functools.wraps(worker)
        def _local_chain_worker(i):
            if not tracer.enabled:
                return worker(i)
            first = len(tracer.spans)
            with tracer.span("search", "chain"):
                state = worker(i)
            state.perfbench_spans = tracer.spans[first:]
            return state

        merge = search._merge_states

        @functools.wraps(merge)
        def _merge_states(states):
            for st in states:
                tracer.spans.extend(st.__dict__.pop("perfbench_spans", ()))
            return merge(states)

        setattr(search, "_local_chain_worker", _local_chain_worker)
        setattr(search, "_merge_states", _merge_states)

    # -- output ------------------------------------------------------------

    def write(self, path: str, run_id: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "run_id": run_id}) + "\n")


def _prune_hook(tracer, args, kwargs, out):
    matches = args[1] if len(args) > 1 else kwargs["matches"]
    tracer.count("matched", len(matches))
    tracer.count("kept", len(out))


def _find_rows_hook(tracer, args, kwargs, out):
    rows, timed_out = out
    max_rows = args[2] if len(args) > 2 else kwargs.get("max_rows")
    truncated = timed_out or (max_rows is not None and len(rows) >= max_rows)
    tracer.count("truncated", int(truncated))


# name -> hook(tracer, args, kwargs, result), run inside the span
HOOKS = {"prune_matches": _prune_hook, "find_rows": _find_rows_hook}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(spans: list[dict], per: dict[str, int], default_per: int) -> dict[str, float]:
    """Per-layer metrics from spans of the runs in ``per`` / the op runs.

    Self time of a span is its duration minus the union of its children's
    intervals. Values are divided by the number of runs they cover
    (``per[layer]`` for setup layers, ``default_per`` traced operations
    otherwise), so they read per operation.
    """
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["fn"] != "note":
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    acc: dict[str, dict[str, float]] = {
        layer: {"busy_s": 0.0, "calls": 0, **dict.fromkeys((c for c, _ in SPARK_COUNTERS), 0)}
        for layer in LAYERS
    }
    counters: dict[str, dict[str, float]] = {layer: {} for layer in LAYERS}
    for s in spans:
        layer = s["layer"]
        in_setup = layer in per
        if (s["run"] == "setup") != in_setup:
            continue
        a = acc[layer]
        if s["fn"] != "note":
            a["calls"] += 1
            own = s["end"] - s["start"]
            a["busy_s"] += max(0.0, own - _union(children.get(s["id"], [])))
        for k, v in s.get("spark", {}).items():
            a[k] += v
        for k, v in s.get("counters", {}).items():
            counters[layer][k] = counters[layer].get(k, 0) + v
    out: dict[str, float] = {}
    for layer, a in acc.items():
        div = max(1, per.get(layer, default_per))
        out[f"{layer}.busy_s"] = a["busy_s"] / div
        out[f"{layer}.calls"] = a["calls"] / div
        if layer in SPARK_LAYERS:
            for c, _ in SPARK_COUNTERS:
                out[f"{layer}.{c}"] = a[c] / div

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    pr, se, lg = counters["operators.prune"], counters["search"], counters["operators.localgraph"]
    def op_calls(fn: str) -> int:
        return sum(1 for s in spans if s["fn"] == fn and s["run"] != "setup")

    iters = op_calls("SimAnnealing.iterate")
    mat = counters["pipeline.materialize"]
    out["operators.prune.kept_ratio"] = ratio(pr.get("kept", 0), pr.get("matched", 0))
    out["search.cache_hit_ratio"] = ratio(se.get("cache_hits", 0), se.get("proposals", 0))
    out["search.wasted_proposal_ratio"] = ratio(iters - se.get("proposals", 0), iters)
    out["operators.localgraph.truncated_ratio"] = ratio(
        lg.get("truncated", 0), op_calls("LocalGraph.find_rows")
    )
    out["pipeline.materialize.bytes_per_triple"] = ratio(
        mat.get("out_bytes", 0), mat.get("committed_triples", 0)
    )
    return out
