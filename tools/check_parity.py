"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark at the given sf dir and, where an oracle
exists, the oracle SQL on DuckDB over the same parquet files; compares
row count, column names, and order-insensitive values.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

from tools._common import create_views  # noqa: E402


def _cell(v) -> str:
    """Deterministic full-fidelity string for one cell.  np.ndarray FIRST:
    Spark's Arrow toPandas and duckdb's .df() both return LIST columns as
    numpy arrays, which (a) fail the list/tuple isinstance so the sorted
    canonicalization never fired, and (b) str() TRUNCATES past 1000
    elements ('...'), so two different long arrays compared EQUAL — a
    false negative in the gate itself."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return str(sorted(str(e) for e in v))
    return str(v)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_cell)
        try:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype("datetime64[us]").astype(str)
        except Exception:
            pass
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def values_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for x, y in zip(av, bv):
            if isinstance(x, float) and isinstance(y, float):
                # NaN on exactly ONE side is a mismatch; falling through
                # to the tolerance test would pass it silently, because
                # abs(nan - y) > tol is False for every tol
                if math.isnan(x) or math.isnan(y):
                    if math.isnan(x) != math.isnan(y):
                        return False
                    continue
                if abs(x - y) > 1e-9 * max(1.0, abs(x), abs(y)):
                    return False
            elif str(x) != str(y):
                return False
    return True


def main() -> int:
    from kgp.queries import PARITY_CAPS, REGISTRY
    from kgp.ops.common import release_pins
    from kgp.session import get_spark

    spark = get_spark(app_name="parity-check",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    create_views(con, SF_DIR)

    # above gate scale, swap the by-design-quadratic exact twins for their
    # identically-capped variants (queries.PARITY_CAPS) — still real hash
    # gates, bounded to ~gate-scale input instead of 100s+ O(N²) runs
    try:
        sf_val = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf_val = None
    capped = dict(PARITY_CAPS) if (sf_val is None or sf_val > 0.011) else {}

    failures = []
    for name, q in REGISTRY.items():
        if ONLY and name not in ONLY:
            continue
        if name in capped:
            q = capped[name]
            name = f"{name}[capped]"
        t0 = time.time()
        try:
            sdf = q.fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        dt = time.time() - t0
        release_pins()  # drop operator-internal persists between queries
        if q.sql is None:
            print(f"ok   {name}: rows={len(sdf)} cols={sorted(sdf.columns)} ({dt:.1f}s, rows-only)")
            continue
        try:
            odf = con.execute(q.sql).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        a, b = canon(sdf), canon(odf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
        elif len(a) != len(b):
            failures.append(name)
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
        elif not values_equal(a, b):
            failures.append(name)
            print(f"FAIL {name}: value mismatch (rows={len(a)})")
            merged = a.compare(b) if a.shape == b.shape else None
            if merged is not None and len(merged):
                print(merged.head(5))
        else:
            print(f"ok   {name}: rows={len(a)} match ({dt:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
