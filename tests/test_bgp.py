"""BGP matcher goldens — ports of FindTest.findTest1 (FindTest.java:33-133),
the hub/chain generator identities (FindTest.java:191-255,
MotifCodeTest.java:68-103), and pattern validity (UtilsTest semantics)."""

from motive_rdf_spark.data.generators import chain_graph, find1_graph, hub_graph
from motive_rdf_spark.operators.bgp import find, find_count
from motive_rdf_spark.patterns import Pattern


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_find1_grounded_with_pred_var(spark):
    # pattern: 3-[1]->4, 4-[?p1]->5  => 2 matches (FindTest.java:51-64)
    g = find1_graph(spark)
    pat = Pattern([(3, 1, 4), (4, -1, 5)])
    m = find(g, pat)
    assert m.columns == ["v1"]
    assert rows_set(m) == {(1,), (0,)}


def test_find1_mixed_constants(spark):
    # 0-[?p2]->3, 0-[?p3]->?n1, ?n1-[?p4]->3 => {(1,1,0,0),(2,1,0,0)}
    # (FindTest.java:66-83); vars: n1=-1, p2=-2, p3=-3, p4=-4
    g = find1_graph(spark)
    pat = Pattern([(0, -2, 3), (0, -3, -1), (-1, -4, 3)])
    m = find(g, pat)
    assert m.columns == ["v1", "v2", "v3", "v4"]
    assert rows_set(m) == {(1, 1, 0, 0), (2, 1, 0, 0)}


def test_find1_all_var_triangle(spark):
    # ?n1-[?p4]->?n2, ?n1-[?p5]->?n3, ?n2-[?p6]->?n3
    # => exactly {(0,1,3,0,1,0), (0,2,3,0,1,0)} (FindTest.java:85-103)
    g = find1_graph(spark)
    pat = Pattern([(-1, -4, -2), (-1, -5, -3), (-2, -6, -3)])
    m = find(g, pat)
    assert m.columns == ["v1", "v2", "v3", "v4", "v5", "v6"]
    assert rows_set(m) == {(0, 1, 3, 0, 1, 0), (0, 2, 3, 0, 1, 0)}


def test_find1_vee_injectivity(spark):
    # ?n1-[?p4]->?n3, ?n2-[?p5]->?n3 => the 6 bindings of FindTest.java:105-132
    # (node-var injectivity: ?n1 != ?n2)
    g = find1_graph(spark)
    pat = Pattern([(-1, -4, -3), (-2, -5, -3)])
    m = find(g, pat)
    expected = {
        (0, 2, 3, 1, 0),
        (2, 0, 3, 0, 1),
        (0, 1, 3, 1, 0),
        (1, 0, 3, 0, 1),
        (1, 2, 3, 0, 0),
        (2, 1, 3, 0, 0),
    }
    assert rows_set(m) == expected


def test_hub_generator_counts(spark):
    # ?n3-[0]->0, ?n3-[1]->1 has exactly `middle` matches (FindTest.java:191-212)
    middle = 37
    g = hub_graph(spark, middle)
    pat = Pattern([(-1, 0, 0), (-1, 1, 1)])
    assert find_count(g, pat) == middle


def test_hub_generator_with_pred_vars(spark):
    # shifted-variable variants also yield `middle` (FindTest.java:214-255)
    middle = 21
    g = hub_graph(spark, middle)
    # ?n1-[?p2]->0, ?n1-[?p3]->1 : p2 must be 0 and p3 must be 1 => middle
    pat = Pattern([(-1, -2, 0), (-1, -3, 1)])
    assert find_count(g, pat) == middle


def test_chain_generator_counts(spark):
    # ?n1-[0]->0, ?n2-[1]->1, ?n1-[2]->?n2 => exactly `middle` matches
    # (MotifCodeTest.java:68-103)
    middle = 25
    g = chain_graph(spark, middle)
    pat = Pattern([(-1, 0, 0), (-2, 1, 1), (-1, 2, -2)])
    assert find_count(g, pat) == middle


def test_edge_distinctness(spark):
    # pattern ?n1-[?p3]->?n2, ?n1-[?p4]->?n2 on a single-triple graph:
    # both edges would bind the same triple -> 0 matches
    # (Find.Candidates.isMatch, Find.java:286-316)
    g = spark.createDataFrame([(10, 5, 11)], "s long, p long, o long")
    pat = Pattern([(-1, -3, -2), (-1, -4, -2)])
    assert find_count(g, pat) == 0


def test_grounded_pattern(spark):
    g = find1_graph(spark)
    assert find_count(g, Pattern([(0, 0, 1), (0, 1, 3)])) == 1
    assert find_count(g, Pattern([(0, 0, 1), (0, 1, 4)])) == 0


def test_pattern_validity():
    assert Pattern([(-1, 0, 0), (-1, 1, 1)]).valid()
    assert Pattern([(-1, -3, -2), (-1, -4, -2)]).valid()
    # node vars must start at -1
    assert not Pattern([(-2, 0, 0), (-2, 1, 1)]).valid()
    # predicate vars must sit below node vars
    assert not Pattern([(-2, -1, -3)]).valid()
    # disconnected
    assert not Pattern([(-1, 0, 0), (-2, 1, 5)]).valid()
    # predicate-vars-only start at -1
    assert Pattern([(0, -1, 1)]).valid()
    assert not Pattern([(0, -2, 1)]).valid()


def test_pattern_instantiation():
    pat = Pattern([(-1, -4, -2), (-1, -5, -3), (-2, -6, -3)])
    assert pat.triples([0, 1, 3, 0, 1, 0]) == [(0, 0, 1), (0, 1, 3), (1, 0, 3)]


def test_find_budgeted_no_timeout_equals_find(spark):
    from motive_rdf_spark.operators.bgp import find_budgeted

    g = find1_graph(spark)
    pat = Pattern([(-1, -4, -2), (-1, -5, -3), (-2, -6, -3)])
    bm = find_budgeted(g, pat, timeout_s=600.0)
    assert not bm.timed_out
    assert rows_set(bm.matches) == rows_set(find(g, pat))


def test_find_budgeted_expired_deadline_partial_and_flagged(spark):
    """An explosive pattern with an already-expired deadline must return
    a bounded, still-correct subset with timed_out=True (the reference's
    partial-results contract, Find.java:59-69,116-120)."""
    from motive_rdf_spark.operators.bgp import find_budgeted

    g = hub_graph(spark, 200).persist()
    g.count()
    pat = Pattern([(-1, -4, -3), (-2, -5, -3)])  # vee: quadratic in spokes
    cap = 50
    bm = find_budgeted(g, pat, timeout_s=0.0, max_matches=cap)
    assert bm.timed_out
    got = rows_set(bm.matches)
    assert 0 < len(got) <= cap
    assert got <= rows_set(find(g, pat))  # every row is a real match
    g.unpersist()


def test_sa_records_timed_out_metric(spark):
    """SAConfig.max_time_s=0 forces every candidate's matcher over
    budget; the search still completes and the metric is recorded."""
    from motive_rdf_spark.search import SAConfig, SimAnnealing

    g = hub_graph(spark, 60).persist()
    g.count()
    sa = SimAnnealing(g, SAConfig(iterations=3, seed=2, max_time_s=0.0))
    state = sa.run()
    assert state.timed_out_count >= 1
    g.unpersist()


def _executed_op_counts(df) -> dict:
    """Operator histogram of the final (post-AQE) executed plan,
    descending into materialized query stages but not cached plans."""
    df.count()
    plan = df._jdf.queryExecution().executedPlan()
    try:
        inner = plan.executedPlan()  # AdaptiveSparkPlanExec -> final
    except Exception:
        inner = plan
    counts: dict = {}

    def walk(p):
        name = p.nodeName()
        counts[name] = counts.get(name, 0) + 1
        if "InMemoryTableScan" in name:
            return
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        if "QueryStage" in name:
            try:
                walk(p.plan())
            except Exception:
                pass

    walk(inner)
    return counts


def test_graphstore_equal_results_fewer_exchanges(spark):
    """The pre-partitioned GraphStore (bucketed-storage analog) must
    give identical matches and, in the non-broadcast regime (the 100 TB
    shape, simulated by disabling broadcast), strictly fewer shuffle
    exchanges on a chain expansion."""
    from motive_rdf_spark.operators.bgp import GraphStore, prepare_triples

    g = prepare_triples(chain_graph(spark, 300)).persist()
    g.count()
    pat = Pattern([(-1, 0, 0), (-1, 2, -2), (-2, 1, 1)])
    store = GraphStore(g)
    store.by_s.count(), store.by_o.count()
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        d_plain, d_store = find(g, pat), find(store, pat)
        assert rows_set(d_plain) == rows_set(d_store)
        ex_plain = _executed_op_counts(d_plain).get("Exchange", 0)
        ex_store = _executed_op_counts(d_store).get("Exchange", 0)
        assert ex_store < ex_plain, (ex_store, ex_plain)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    store.unpersist()
    g.unpersist()


def test_find_budgeted_no_pressure_is_plan_identical_to_find(spark):
    """With a generous budget the budgeted matcher must stay lazy — no
    per-round localCheckpoint (which shows up as LogicalRDD/ExistingRDD
    scans), so Catalyst optimizes the whole cascade exactly like plain
    find (VERDICT r2 item 3)."""
    from motive_rdf_spark.operators.bgp import find_budgeted

    g = find1_graph(spark)
    pat = Pattern([(-1, -4, -2), (-1, -5, -3), (-2, -6, -3)])
    bm = find_budgeted(g, pat, timeout_s=600.0)
    plan = bm.matches._jdf.queryExecution().optimizedPlan().toString()
    find_plan = find(g, pat)._jdf.queryExecution().optimizedPlan().toString()
    # same operator skeleton (expression ids differ run to run); a
    # checkpointed round would appear as an extra LogicalRDD barrier in
    # the budgeted plan only, breaking the equality
    import re

    def skel(s):
        return [re.sub(r"#\d+L?", "#x", ln.strip()) for ln in s.splitlines()]

    assert skel(plan) == skel(find_plan)


def test_find_budgeted_cap_saturation_reports_partial(spark, monkeypatch):
    """If the soft-threshold cap truncates an intermediate, the result
    must be flagged timed_out even though the clock never expired (the
    row-budget analog of the reference's match budget)."""
    from motive_rdf_spark.operators import bgp
    from motive_rdf_spark.operators.bgp import find_budgeted

    g = hub_graph(spark, 300).persist()
    g.count()
    pat = Pattern([(-1, -4, -3), (-2, -5, -3)])
    monkeypatch.setattr(bgp, "SOFT_FRAC", 0.0)
    monkeypatch.setattr(bgp, "CAP_MULTIPLE", 2)
    bm = find_budgeted(g, pat, timeout_s=1e9, max_matches=10)
    assert bm.timed_out
    got = rows_set(bm.matches)
    assert 0 < len(got) <= 10
    assert got <= rows_set(find(g, pat))
    g.unpersist()


def test_shj_hint_only_past_size_threshold(spark):
    """Expansion joins hint shuffle_hash only on large graphs: below
    SHJ_HINT_MIN_TRIPLES the plan is left to AQE/broadcast; at or above
    it the graph-scan side is the hinted (bounded) build side. Results
    must be identical either way."""
    from motive_rdf_spark.operators.bgp import (
        SHJ_HINT_MIN_TRIPLES,
        GraphStore,
        prepare_triples,
    )

    g = prepare_triples(chain_graph(spark, 300)).persist()
    g.count()
    store = GraphStore(g)
    store.by_s.count(), store.by_o.count()
    pat = Pattern([(-1, 0, 0), (-1, 2, -2), (-2, 1, 1)])

    small_plan = find(store, pat)._jdf.queryExecution().sparkPlan().toString()
    assert "ShuffledHashJoin" not in small_plan

    store._n = SHJ_HINT_MIN_TRIPLES  # force the large-graph strategy
    big = find(store, pat)
    big_plan = big._jdf.queryExecution().sparkPlan().toString()
    assert "ShuffledHashJoin" in big_plan
    assert rows_set(big) == rows_set(find(g, pat))

    store.unpersist()
    g.unpersist()
