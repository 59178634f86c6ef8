"""Repeated-execution stability sweep over every registry oracle SQL.

DuckDB 1.0's lambda (``list_reduce``/``list_transform``) and ``unnest``
executors can misassociate rows across a CTE chain — nondeterministically
(~1% of executions) or stably-wrong on specific corpora (see the hazard
notes in kgp/ops/transcript_twin.py).  A twin that hash-matches Spark
once can therefore still flake in the driver's gate.  This tool runs each
oracle SQL ``n_runs`` times on FRESH connections over the same parquet
views and reports any query whose result hash — the driver gate's
``value_hash(driver_canon(df))`` from tools/check_parity.py — is not
constant across runs.  No Spark involved — it sweeps only the DuckDB side.

Usage: python tools/oracle_sweep.py [sf_dir] [n_runs] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from tools._common import create_views  # noqa: E402
from tools.check_parity import driver_canon, value_hash  # noqa: E402


def sweep_query(sql: str, sf_dir: str, n_runs: int
                ) -> tuple[set[tuple[int, str]], str | None]:
    """Run ``sql`` ``n_runs`` times, each on a fresh connection over the
    ``sf_dir`` views; return the distinct (rows, hash) results seen and
    the first error (which stops the runs), if any."""
    seen: set[tuple[int, str]] = set()
    for _ in range(n_runs):
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            create_views(con, sf_dir)
            df = con.execute(sql).df()
            seen.add((len(df), value_hash(driver_canon(df))))
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            return seen, f"{type(e).__name__}: {e}"
        finally:
            con.close()
    return seen, None


def main(argv: list[str]) -> int:
    import __spark_entry__ as entry

    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    n_runs = int(argv[1]) if len(argv) > 1 else 15
    only = set(argv[2:])
    oracles = entry.oracle_sql()
    if only:
        unknown = only - oracles.keys()
        if unknown:
            print("unknown oracle name(s):", ", ".join(sorted(unknown)))
            return 2
        oracles = {k: v for k, v in oracles.items() if k in only}
    flaky: list[str] = []
    for name, sql in oracles.items():
        t0 = time.time()
        seen, err = sweep_query(sql, sf_dir, n_runs)
        status = ("ERR " + err if err else
                  "ok" if len(seen) == 1 else f"FLAKY({len(seen)} variants)")
        if err or len(seen) != 1:
            flaky.append(name)
        rows = sorted(r for r, _ in seen) if seen else []
        print(f"{name:34s} {status:8s} rows={rows} "
              f"{time.time() - t0:6.1f}s", flush=True)
    print(f"\n{len(oracles) - len(flaky)}/{len(oracles)} stable over "
          f"{n_runs} runs at {sf_dir}")
    if flaky:
        print("UNSTABLE:", ", ".join(flaky))
    return 1 if flaky else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
