import numpy as np
import pandas as pd

from perfbench import inputs, workloads


def test_inputs_are_a_function_of_the_seed(tmp_path):
    inputs.star_schema(str(tmp_path / "x"), seed=4, scale=0.001)
    inputs.star_schema(str(tmp_path / "y"), seed=4, scale=0.001)
    for t in ("lineitem", "documents", "embeddings", "events"):
        x = pd.read_parquet(tmp_path / "x" / f"{t}.parquet")
        y = pd.read_parquet(tmp_path / "y" / f"{t}.parquet")
        assert len(x) and x.astype(str).equals(y.astype(str))
    inputs.star_schema(str(tmp_path / "z"), seed=5, scale=0.001)
    z = pd.read_parquet(tmp_path / "z" / "lineitem.parquet")
    assert not z.astype(str).equals(pd.read_parquet(tmp_path / "x" / "lineitem.parquet").astype(str))


def test_star_schema_types_match_the_registry_tables(tmp_path):
    import pyarrow.parquet as pq

    inputs.star_schema(str(tmp_path), seed=1, scale=0.001)
    schema = {t: {f.name: str(f.type) for f in pq.read_schema(tmp_path / f"{t}.parquet")}
              for t in ("orders", "lineitem", "embeddings", "nation")}
    assert schema["orders"]["o_orderdate"] == "timestamp[us]"
    assert schema["lineitem"]["l_linenumber"] == "int32"
    assert schema["embeddings"]["embedding"] == "list<element: float>"
    assert schema["nation"]["n_nationkey"] == "int32"
    vecs = np.stack(pd.read_parquet(tmp_path / "embeddings.parquet")["embedding"])
    assert vecs.shape[1] == 64 and np.allclose(np.linalg.norm(vecs, axis=1), 1, atol=1e-5)


def test_table_digest_ignores_row_order_and_timestamp_unit():
    df = pd.DataFrame({"k": [2, 1], "ts": pd.to_datetime(["2024-01-02", "2024-01-01"])})
    shuffled = df.iloc[::-1].assign(ts=df["ts"].iloc[::-1].astype("datetime64[us]"))
    assert workloads.table_digest(df, ["k", "ts"]) == workloads.table_digest(shuffled, ["k", "ts"])
    assert workloads.table_digest(df, ["k"]) != workloads.table_digest(df.assign(k=[2, 2]), ["k"])
