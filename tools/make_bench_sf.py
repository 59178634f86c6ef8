"""Deterministic bench-scale amplification of an sf dir (r3 verdict #6).

Most sf0.1 headline queries run in <2s on this box, inside its measured 2×
noise band (BENCH/HOST_DRIFT.md) — regression triage then costs a full
ABBA round per suspect.  This tool writes a K×-replicated copy of an sf
dir (default: sf0.1 × 5 → "sf0.5") so the top queries run >=5s and
ordinary best-of-2 separates signal from noise.

Replication is key-offset based and FK-consistent: replica k offsets every
key column of a table by k·(max_key+1) of ITS key domain, with foreign keys
offset by the REFERENCED domain's stride — joins (orders↔lineitem↔part/
supplier, customer↔orders) stay exactly as selective as the original;
dimension tables (region, nation) are shared.  Payload columns (text,
embedding, props, timestamps) are copied verbatim: cross-replica exact
duplicates are a FEATURE for the dedup family (each text now has K copies
— the reference's duplicate-removal regime, remove_duplicate_paragraphs
.py:81-99), and every query stays semantically valid because the engine
never keys on payload identity.

Usage: python tools/make_bench_sf.py [src_sf_dir] [K] [out_dir]
Default: /root/testdata/sf0.1 5 /tmp/kgp_bench_sf0.5
"""

from __future__ import annotations

import os
import sys

import duckdb

# (table, key columns owned by this table, foreign keys → owning table)
SPEC: dict[str, tuple[list[str], dict[str, str]]] = {
    "region": ([], {}),        # shared dimension
    "nation": ([], {}),        # shared dimension
    "customer": (["c_custkey"], {}),
    "supplier": (["s_suppkey"], {}),
    "part": (["p_partkey"], {}),
    "orders": (["o_orderkey"], {"o_custkey": "customer"}),
    "lineitem": ([], {"l_orderkey": "orders", "l_partkey": "part",
                      "l_suppkey": "supplier"}),
    "events": (["event_id", "user_id"], {}),
    "documents": (["doc_id"], {}),
    "embeddings": (["vec_id"], {}),
}

# key-domain stride per owning table: k-th replica adds k*stride
_KEY_OWNER = {"customer": "c_custkey", "supplier": "s_suppkey",
              "part": "p_partkey", "orders": "o_orderkey"}


def main(argv: list[str]) -> None:
    src_dir = argv[0] if argv else "/root/testdata/sf0.1"
    n_rep = int(argv[1]) if len(argv) > 1 else 5
    out_dir = argv[2] if len(argv) > 2 else f"/tmp/kgp_bench_sf0.{n_rep}"
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    strides: dict[str, int] = {}
    for t, col in _KEY_OWNER.items():
        strides[t] = 1 + con.execute(
            f"SELECT max({col}) FROM read_parquet('{src_dir}/{t}.parquet')").fetchone()[0]

    for t, (own_keys, fks) in SPEC.items():
        src = f"read_parquet('{src_dir}/{t}.parquet')"
        if not own_keys and not fks:
            con.execute(f"COPY (SELECT * FROM {src}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
            continue
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        own_strides = {
            c: 1 + con.execute(f"SELECT max({c}) FROM {src}").fetchone()[0]
            for c in own_keys}
        selects = []
        for k in range(n_rep):
            exprs = []
            for c in cols:
                if c in own_strides:
                    exprs.append(f"{c} + {k * own_strides[c]} AS {c}")
                elif c in fks:
                    exprs.append(f"{c} + {k * strides[fks[c]]} AS {c}")
                else:
                    exprs.append(c)
            selects.append(f"SELECT {', '.join(exprs)} FROM {src}")
        union = "\nUNION ALL\n".join(selects)
        con.execute(f"COPY ({union}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")
    print(f"done: {out_dir} (K={n_rep} from {src_dir})")


if __name__ == "__main__":
    main(sys.argv[1:])
