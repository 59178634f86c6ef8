"""tools/oracle_sweep.py as a library: the extraction/CC twins return one
result hash across repeated fresh-connection runs."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools.oracle_sweep import main, sweep_query

SF = "/root/testdata/sf0.001"
TWINS = ("kgp_extract_docs", "kgp_extract_docs_resolved",
         "kgp_docs_components", "kgp_triples")


@pytest.mark.parametrize("name", TWINS)
def test_twin_is_stable_over_repeated_runs(name):
    seen, err = sweep_query(entry.oracle_sql()[name], SF, 3)
    assert err is None
    assert len(seen) == 1, seen
    (rows, _h), = seen
    assert rows > 0


def test_main_parses_argv(capsys):
    assert main([SF, "1", "kgp_docs_components"]) == 0
    assert "1/1 stable over 1 runs" in capsys.readouterr().out
    assert main([SF, "1", "no_such_query"]) == 2
