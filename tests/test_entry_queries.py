"""Local replica of the driver's correctness gate: every queries() entry runs
and every oracle_sql() entry matches DuckDB (row count, schema, values) at
sf0.001 (the driver runs the same at sf0.01)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from prove_spark.plans.compare import check_query
from prove_spark.plans.registry import ALL_QUERIES

SQL_NAMES = sorted(n for n, (_f, s) in ALL_QUERIES.items() if s is not None)
ROWS_ONLY_NAMES = sorted(n for n, (_f, s) in ALL_QUERIES.items() if s is None)


@pytest.mark.parametrize("name", SQL_NAMES)
def test_query_matches_duckdb(spark, name):
    fn, sql = ALL_QUERIES[name]
    problems = check_query(spark, "/root/testdata/sf0.001", fn, sql)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, name):
    fn, _ = ALL_QUERIES[name]
    df = fn(spark, "/root/testdata/sf0.001")
    assert len(df.columns) > 0
    assert df.count() > 0


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 35


# unregistered-but-implemented queries (sweep-capped at 50 driver rows; see
# registry._UNREGISTERED) still get the SAME oracle gate here in pytest —
# consumed from the registry's shared mapping (scripts/plan_audit.py uses the
# same one, so neither gate can drift from the other)
from prove_spark.plans.registry import (  # noqa: E402
    UNREGISTERED_QUERIES as _UNREG,
    _UNREGISTERED,
)


def test_every_unregistered_name_is_collected():
    # a retired query whose defining dict isn't scanned by the registry's
    # shared collection would silently lose BOTH its pytest oracle lane and
    # its plan-audit row — pin the collection to the full set
    assert set(_UNREG) == set(_UNREGISTERED)


@pytest.mark.parametrize(
    "name", sorted(n for n, (_f, s) in _UNREG.items() if s is not None)
)
def test_unregistered_query_matches_duckdb(spark, name):
    fn, sql = _UNREG[name]
    problems = check_query(spark, "/root/testdata/sf0.001", fn, sql)
    assert not problems, f"{name}: {problems}"


def test_unregistered_exposed_and_disjoint():
    assert set(entrymod.unregistered()) == set(_UNREGISTERED)
    assert not set(entrymod.queries()) & set(_UNREGISTERED)


def test_plan_audit_waivers_name_audited_queries():
    # a waiver outliving its query would silently bless the same
    # anti-pattern in whatever next takes that name
    path = Path(__file__).resolve().parents[1] / "scripts" / "plan_audit.py"
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    assert set(audit.ALLOWED) <= set(ALL_QUERIES) | set(_UNREG)
