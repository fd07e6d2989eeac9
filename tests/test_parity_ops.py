"""Small parity operators: query-log BGP extraction, IRI prefix
shorten/expand, set-partition sampler + Bell numbers, report sinks."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from motive_rdf_spark.functions.partitions import bell, bell_completions, random_partition
from motive_rdf_spark.functions.pref import expand, shorten
from motive_rdf_spark.patterns import Pattern
from motive_rdf_spark.report import to_csv, to_latex
from motive_rdf_spark.search import MotifResult
from motive_rdf_spark.sources.querylog import extract_bgps, read_query_log, synthesize_query_log


def test_query_log_roundtrip(spark, tmp_path):
    log = synthesize_query_log(spark, 50)
    path = str(tmp_path / "qlog")
    log.write.mode("overwrite").text(path)
    qs = read_query_log(spark, path)
    assert qs.count() == 50
    bgps = extract_bgps(qs).collect()
    assert len(bgps) == 50
    for r in bgps:
        assert 1 <= r["n_triple_patterns"] <= 3
        assert r["bgp"].startswith("?s")


def test_pref_shorten_expand_roundtrip(spark):
    iris = spark.createDataFrame(
        [
            ("<http://xmlns.com/foaf/0.1/name>",),
            ("http://swrc.ontoware.org/ontology#year",),
            ("http://example.org/unknown#x",),
        ],
        "iri string",
    )
    out = iris.select(
        shorten(F.col("iri")).alias("short"),
    ).collect()
    assert out[0]["short"] == "foaf:name"
    assert out[1]["short"] == "swrc:year"
    assert out[2]["short"] == "http://example.org/unknown#x"
    # roundtrip for known prefixes
    rt = iris.select(expand(shorten(F.col("iri"))).alias("iri2")).collect()
    assert rt[1]["iri2"] == "http://swrc.ontoware.org/ontology#year"


def test_bell_numbers():
    assert [bell(n) for n in range(7)] == [1, 1, 2, 5, 15, 52, 203]
    assert bell_completions(3, 0) == bell(3)


def test_partition_sampler_uniform():
    """UtilsTest.partitionTest semantics (UtilsTest.java:56-82): the
    sampler hits all Bell(4)=15 partitions, roughly uniformly."""
    rng = random.Random(13)
    counts = Counter()
    reps = 6000
    for _ in range(reps):
        part = random_partition([0, 1, 2, 3], rng)
        key = tuple(sorted(tuple(sorted(b)) for b in part))
        counts[key] += 1
    assert len(counts) == 15
    expected = reps / 15
    for k, c in counts.items():
        assert abs(c - expected) < expected * 0.35, (k, c)


def test_report_sinks():
    res = [
        MotifResult(Pattern([(-1, 0, -2)]), score=90.0, frequency=12),
        MotifResult(Pattern([(-1, -3, -2), (-2, -4, -1)]), score=95.5, frequency=7),
    ]
    tex = to_latex(res, null_bits=100.0)
    assert r"\begin{tabular}" in tex and "10.0" in tex and "?n1 0 ?n2" in tex
    csv_text = to_csv(res, null_bits=100.0, pred_names={0: "knows"})
    assert "log_factor" in csv_text and "?n1 knows ?n2" in csv_text
    assert "4.5" in csv_text  # 100 - 95.5


def test_registry_registration_order():
    """registry() is the registration order, holds at most 50 entries,
    and ``__spark_entry__.queries()`` exposes exactly its entries."""
    import os
    import sys

    from motive_rdf_spark import contract

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__

    reg = contract.registry()
    assert list(reg) == list(contract._REG)
    assert len(reg) <= 50
    assert list(__spark_entry__.queries()) == list(reg)


def test_every_package_module_imports():
    """Every module of the package imports, so a module cut cannot
    leave a dangling import behind in code no other test reaches."""
    import importlib
    import pkgutil

    import motive_rdf_spark

    names = [
        m.name
        for m in pkgutil.walk_packages(
            motive_rdf_spark.__path__, motive_rdf_spark.__name__ + "."
        )
    ]
    for name in names:
        importlib.import_module(name)
    assert "motive_rdf_spark.operators.bgp" in names


def test_scripts_import_only_existing_names():
    """Every ``from motive_rdf_spark... import name`` (and ``import
    motive_rdf_spark...``) in the scripts outside the package resolves,
    so a cut cannot strand a tool, job or benchmark script. The scripts
    are parsed, not run: most import inside functions."""
    import ast
    import importlib
    import importlib.util
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    scripts = [root / "bench.py", root / "__spark_entry__.py"]
    for d in ("tools", "jobs", "perfbench"):
        scripts += sorted((root / d).glob("*.py"))

    def resolves(module: str, name: str | None) -> bool:
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            return True
        return importlib.util.find_spec(f"{module}.{name}") is not None

    unresolved = []
    for path in scripts:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                wanted = [(node.module or "", a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                wanted = [(a.name, None) for a in node.names]
            else:
                continue
            for module, name in wanted:
                if module.split(".")[0] != "motive_rdf_spark":
                    continue
                try:
                    ok = resolves(module, name)
                except ImportError:
                    ok = False
                if not ok:
                    where = f"{path.relative_to(root)}:{node.lineno}"
                    unresolved.append(f"{where} {module} {name or ''}".rstrip())
    assert len(scripts) > 10
    assert not unresolved, unresolved
