"""The driver contract in ``__spark_entry__``: the flagship ``entry``
against its DuckDB definition, and ``queries()`` / ``oracle_sql()`` as
views of ``kgp.queries.REGISTRY``."""

import duckdb

import __spark_entry__ as entry_mod
from kgp.ops.graph import EDGES_SQL
from kgp.queries import REGISTRY
from tools._common import create_views


def test_entry_matches_duckdb_edges_by_pred(spark):
    got = {r["pred"]: r["n_edges"] for r in entry_mod.entry(spark).collect()}
    con = duckdb.connect()
    try:
        create_views(con, entry_mod.SF_SMOKE)
        want = dict(con.execute(
            f"SELECT pred, COUNT(*) AS n_edges FROM ({EDGES_SQL}) GROUP BY pred").fetchall())
    finally:
        con.close()
    assert got and got == want


def test_queries_cover_the_registry():
    qs = entry_mod.queries()
    assert qs.keys() == REGISTRY.keys()
    assert all(qs[name] is q.fn for name, q in REGISTRY.items())


def test_oracle_sql_is_every_twin_and_nothing_else():
    oracles = entry_mod.oracle_sql()
    assert set(oracles) == {name for name, q in REGISTRY.items() if q.sql is not None}
    assert all(oracles[name] == REGISTRY[name].sql for name in oracles)
