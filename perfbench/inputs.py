"""Seeded inputs of the workloads.  The same seed gives the same rows.

- ``transcripts``: kgp.synth conversations and an alias-chained entity
  vocabulary, written to parquet (``kg_build``).
- ``star_schema``: the ten tables the query registry reads, in the column
  types and value shapes of the sf0.01 test tables (``query_suite``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


def transcripts(out_dir: str, n_conv: int, n_ent: int, seed: int) -> dict:
    """Write ``transcripts`` and ``vocab`` parquet files from the pandas
    twin of kgp.synth's Spark generator (same rows, no Spark job); returns
    their paths and the turn count."""
    from kgp import synth

    vocab = synth.extend_alias_chains(synth.gen_entity_vocab(n_ent, seed), seed)
    turns = synth.gen_transcripts_pandas(n_conv, vocab, seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = {"transcripts": f"{out_dir}/transcripts.parquet", "vocab": f"{out_dir}/vocab.parquet"}
    turns.assign(ts=turns["ts"].astype("datetime64[us]")).to_parquet(paths["transcripts"], index=False)
    vocab.to_parquet(paths["vocab"], index=False)
    return {**paths, "n_turns": len(turns)}


_WORDS = ("join hash row batch scan customer column filter small slow merge order "
          "vector line table data agg value key stream window spark a group part "
          "big sort query fast the").split()
_ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]


def _days(rng, start: str, n_days: int, size: int) -> pd.Series:
    return pd.Series(pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, n_days, size), "D")) \
        .astype("datetime64[us]")


def star_schema(out_dir: str, seed: int, scale: float = 0.005) -> str:
    """Write region..embeddings as ``<out_dir>/<table>.parquet`` (half the
    sf0.01 row counts at the default ``scale``, documents and embeddings
    fewer still); returns ``out_dir``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    # 3/5 of the other tables' share: the DuckDB twins of the minhash and
    # simhash queries (the output check) grow fastest with documents
    n_doc = n_vec = int(30_000 * scale)
    i32, i64 = np.int32, np.int64
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                    "FURNITURE"], n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=i64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(i64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(100, 3600, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": pd.Series(pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), "s"))
        .astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, n_ev).astype(i64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(60, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    # ~5% near-duplicates: an earlier document plus a trailing marker word
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=i64),
        "text": texts,
        "lang": rng.choice(["en", "es", "zh", "de", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=i64)})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=i64),
        "embedding": list(vecs),
        "label": labels.astype(i32)})
    os.makedirs(out_dir, exist_ok=True)
    for name, df in t.items():
        df.to_parquet(f"{out_dir}/{name}.parquet", index=False)
    return out_dir
