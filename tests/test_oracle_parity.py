"""Every SQL-expressible query — registered AND demoted — must exactly
match its DuckDB oracle twin at sf0.001: the local replica of the driver's
correctness gate, covering the demoted queries the driver window no longer
sees (plans/__init__.py DEMOTED)."""

from __future__ import annotations

import re

import pytest

from aws_data_pipeline_spark.plans import DEMOTED, load_registry
from tests.oracle import run_compare

REGISTRY = dict(load_registry())
REGISTRY.update(DEMOTED)
SQL_QUERIES = sorted(name for name, q in REGISTRY.items() if q.sql is not None)
ROWS_ONLY = sorted(name for name, q in REGISTRY.items() if q.sql is None)


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_query_matches_oracle(spark, sf_dir, name):
    run_compare(spark, sf_dir, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, sf_dir, name):
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_registry_capacity_contract():
    """The driver checks a 50-query window per round, so the ORACLED
    registered count must stay <= 100 for the documented two-round
    staleness guarantee (plans/__init__.py). Adding an oracled query
    beyond the ceiling requires demoting (not deleting — DEMOTED keeps the
    oracle replayed here) a superseded one. Also pin that the two tiers
    never overlap and every demotion kept its implementation callable."""
    from aws_data_pipeline_spark.plans import DEMOTED
    from aws_data_pipeline_spark.plans import load_registry as _load

    reg = _load()
    oracled = [n for n, q in reg.items() if q.sql is not None]
    assert len(oracled) <= 100, (
        f"{len(oracled)} oracled registered queries exceed the 2x50 driver "
        "window ceiling — demote a superseded query (see DEMOTED)"
    )
    assert not (set(reg) & set(DEMOTED))
    assert all(callable(q.spark_fn) for q in DEMOTED.values())


def test_demoted_queries_name_a_live_carrier():
    """A demoted query holds no registry slot; its docstring names the
    live query that carries its capability. A deletion that strands a
    demotion note on a query that no longer exists fails here."""
    missing = [
        name
        for name, q in DEMOTED.items()
        if not any(
            other != name and re.search(rf"\b{other}\b", q.doc)
            for other in REGISTRY
        )
    ]
    assert not missing, f"demoted queries naming no live carrier: {missing}"


def test_bench_headline_names_resolve():
    """bench.py times HEADLINE by name: every name must be a live query."""
    from bench import HEADLINE

    unknown = [n for n in HEADLINE if n not in REGISTRY]
    assert not unknown, f"bench HEADLINE names no query: {unknown}"
