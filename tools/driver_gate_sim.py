"""Strict simulation of the driver's correctness gate.

Unlike tools/check_parity.py (which stringifies list cells before
sorting), this reproduces the driver's canonicalizer as observed from
its r2 failure traceback: reorder columns by name, then
``sort_values(by=<all columns>)`` on the RAW frame — which raises
``TypeError: unhashable type`` on array/map columns — then compare a
value hash.  Purpose: catch, before the round gate runs, any registry
entry whose RESULT SHAPE would crash or mismatch in the driver even
though the lenient local parity check passes.

Usage: python tools/driver_gate_sim.py [sf_dir] [n_window]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
N_WINDOW = int(sys.argv[2]) if len(sys.argv) > 2 else 50

from tools._common import create_views  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
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


def main() -> int:
    from kgp.ops.common import release_pins
    from kgp.queries import PARITY_CAPS, REGISTRY
    from kgp.session import get_spark

    spark = get_spark(app_name="driver-gate-sim",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    create_views(con, SF_DIR)

    # above gate scale the by-design-quadratic exact twins run their
    # identically-capped variants (queries.PARITY_CAPS) — same rule as
    # check_parity; the REAL driver gate (sf0.01) always runs them full
    try:
        sf_val = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf_val = None
    capped = dict(PARITY_CAPS) if (sf_val is None or sf_val > 0.011) else {}

    failures = []
    for i, (name, q) in enumerate(REGISTRY.items()):
        if i >= N_WINDOW:
            break
        if name in capped:
            q = capped[name]
            name = f"{name}[capped]"
        t0 = time.time()
        try:
            sdf = canon(q.fn(spark, SF_DIR).toPandas())
            release_pins()  # drop operator-internal persists between queries
        except Exception as exc:  # noqa: BLE001 — this IS the check
            failures.append(name)
            print(f"ERR  {name}: spark-side {type(exc).__name__}: {exc}")
            continue
        if q.sql is None:
            print(f"ok   {name}: rows={len(sdf)} (rows-only) ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = canon(con.execute(q.sql).df())
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"ERR  {name}: oracle-side {type(exc).__name__}: {exc}")
            continue
        rows = len(sdf) == len(odf)
        schema = list(sdf.columns) == list(odf.columns)
        hmatch = value_hash(sdf) == value_hash(odf)
        status = "ok  " if (rows and schema and hmatch) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(f"{status} {name}: rows={len(sdf)}/{len(odf)} schema={schema} "
              f"hash={hmatch} ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
