"""Shared fixture-table registry for the tools/ parity harnesses.

check_parity.py and oracle_sweep.py both register the same ten
driver-generated parquet tables as DuckDB views.  The table tuple is
kgp.ops.tables.TABLES, the one the Spark loader reads, so adding or
renaming a fixture table is one edit — a per-tool copy that drifts would
make a harness silently report 'ok' on oracles that never saw the data.
"""

from __future__ import annotations

import os

from kgp.ops.tables import TABLES


def create_views(con, sf_dir: str) -> None:
    """Register every fixture table as a DuckDB view over its parquet.

    Strict: a missing table file raises instead of being skipped — a
    silent skip turns 'the oracle never ran on this table' into a green
    sweep row.
    """
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"fixture table missing: {p} (all {len(TABLES)} tables are "
                f"required; did the driver generate this sf dir?)")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
