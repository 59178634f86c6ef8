"""The registry gate: every ``kgp.queries.REGISTRY`` entry on Spark against
its DuckDB oracle SQL over the same parquet files.

Usage: python tools/check_parity.py [sf_dir] [query ...]

Each entry runs once per engine; both collected frames then go through two
checks, and the entry passes only when both do:

- lenient (``canon`` + ``values_equal``): list cells compared as sorted
  element strings, floats to a 1e-9 relative tolerance.  Catches wrong
  columns, rows and values, including float drift that a 6-place rounding
  hides.
- strict (``driver_canon`` + ``value_hash``): the driver's canonicalizer,
  a column reorder plus a whole-frame sort of the RAW frame (which raises
  ``TypeError: unhashable`` on array/map cells), then a sha256 over every
  value with floats rounded to 6 places.  Catches result shapes the driver
  cannot sort and list cells whose element order differs between engines.

Rows-only entries (no oracle SQL) still put their Spark frame through
``driver_canon``.  Exits 2 on an unknown query name.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

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


def driver_canon(df: pd.DataFrame) -> pd.DataFrame:
    # the driver's shape: column reorder + whole-frame sort, no cell coercion
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for c in df.columns:
        for v in df[c]:
            if isinstance(v, float):
                v = round(v, 6)
            h.update(str(v).encode())
            # per-VALUE separator: without it ['x','yz'] and ['xy','z']
            # feed identical bytes and hash equal — a false 'ok'
            h.update(b"\x1f")
        h.update(b"|")
    return h.hexdigest()[:16]


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """Both checks on one collected (Spark, oracle) frame pair: None when
    the entry passes, else why it fails."""
    a, b = canon(sdf), canon(odf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if not values_equal(a, b):
        return f"value mismatch (rows={len(a)})\n{a.compare(b).head(5)}"
    hashes = []
    for side, df in (("spark", sdf), ("oracle", odf)):
        try:
            hashes.append(value_hash(driver_canon(df)))
        except Exception as e:  # noqa: BLE001 — this IS the check
            return f"strict check: {side}-side {type(e).__name__}: {e}"
    if hashes[0] != hashes[1]:
        return f"strict check: value hash {hashes[0]} vs {hashes[1]}"
    return None


def gate(spark, sf_dir: str, only=()) -> list[str]:
    """Run every registry entry (those named in ``only`` when it is
    non-empty) through both checks, print one line per entry and return
    the names that failed."""
    from kgp.ops.common import release_pins
    from kgp.queries import PARITY_CAPS, REGISTRY

    con = duckdb.connect()
    create_views(con, sf_dir)

    # above gate scale, swap the by-design-quadratic exact twins for their
    # identically-capped variants (queries.PARITY_CAPS) — still real hash
    # gates, bounded to ~gate-scale input instead of 100s+ O(N²) runs
    try:
        sf_val = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf_val = None
    capped = dict(PARITY_CAPS) if (sf_val is None or sf_val > 0.011) else {}

    failures = []
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        if name in capped:
            q = capped[name]
            name = f"{name}[capped]"
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        dt = time.time() - t0
        release_pins()  # drop operator-internal persists between queries
        if q.sql is None:
            try:
                driver_canon(sdf)
            except Exception as e:  # noqa: BLE001 — this IS the check
                failures.append(name)
                print(f"FAIL {name}: strict check: spark-side {type(e).__name__}: {e}")
                continue
            print(f"ok   {name}: rows={len(sdf)} cols={sorted(sdf.columns)} ({dt:.1f}s, rows-only)")
            continue
        try:
            odf = con.execute(q.sql).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        why = compare(sdf, odf)
        if why:
            failures.append(name)
            print(f"FAIL {name}: {why}")
        else:
            print(f"ok   {name}: rows={len(sdf)} match ({dt:.1f}s)")
    return failures


def main(argv: list[str]) -> int:
    from kgp.queries import REGISTRY
    from kgp.session import get_spark

    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    unknown = only - REGISTRY.keys()
    if unknown:
        print("unknown query name(s):", ", ".join(sorted(unknown)))
        return 2
    spark = get_spark(app_name="parity-check",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    failures = gate(spark, sf_dir, only)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
