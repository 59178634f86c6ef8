"""tools/check_parity.py, the registry gate: an entry passes only when the
lenient check (canon + values_equal) and the driver's strict check
(driver_canon + value_hash) both pass on the same collected frames."""

from __future__ import annotations

import importlib
import sys

import pandas as pd

import tools.check_parity as check_parity
from tools.check_parity import compare, gate, main

SF = "/root/testdata/sf0.001"


def test_gate_passes_array_hash_gated_and_rows_only_entries(spark, capsys):
    only = {"a7_collect_set", "a4_group_max", "t3_semantic_segments"}
    assert gate(spark, SF, only) == []
    out = capsys.readouterr().out
    assert "ok   a7_collect_set: rows=" in out and "match" in out
    assert "ok   t3_semantic_segments: rows=" in out and "rows-only" in out
    assert out.count("ok   ") == 3


def test_list_element_order_fails_only_the_strict_check():
    sdf = pd.DataFrame({"v": [["a", "b"], ["c"]]})
    odf = pd.DataFrame({"v": [["b", "a"], ["c"]]})
    why = compare(sdf, odf)
    assert why is not None and why.startswith("strict check: value hash")


def test_unsortable_cells_fail_the_strict_check():
    # a multi-column whole-frame sort factorizes each column, which
    # raises on list cells; equal frames, so only the strict sort fails
    df = pd.DataFrame({"k": [1, 2], "v": [["a", "b"], ["c"]]})
    why = compare(df, df.copy())
    assert why is not None
    assert why.startswith("strict check: spark-side TypeError")


def test_float_drift_below_six_places_fails_the_lenient_check():
    sdf = pd.DataFrame({"x": [1.0000001]})
    odf = pd.DataFrame({"x": [1.0000002]})
    why = compare(sdf, odf)
    assert why is not None and why.startswith("value mismatch")
    assert compare(sdf, sdf.copy()) is None


def test_unknown_query_name_exits_2(capsys):
    assert main([SF, "kgp_edgse"]) == 2
    assert "unknown query name(s): kgp_edgse" in capsys.readouterr().out


def test_main_ignores_import_time_argv(spark, capsys, monkeypatch):
    monkeypatch.setattr(sys, "argv", ["run.py", "--workload", "query_suite"])
    mod = importlib.reload(check_parity)
    assert not hasattr(mod, "SF_DIR") and not hasattr(mod, "ONLY")
    assert mod.main([SF, "a4_group_max"]) == 0
    out = capsys.readouterr().out
    assert "ok   a4_group_max: rows=" in out and "\n0 failures" in out
