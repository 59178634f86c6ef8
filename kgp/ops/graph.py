"""Graph materialization + BGP query surface over the relational star schema.

Mirrors the reference's KG construction (SURVEY.md §2.1 S10, §2.4 J1/J2/J12,
§2.7 Q1-Q5): node tables and role-typed edge tables are built from entity +
link tables (reference notebooks/rdf_graph.ipynb cell-10..cell-29), and
SPARQL basic-graph-pattern queries become self-joins of the ``edges``
DataFrame (cell-36..cell-47).

Scale notes (100 TB design):
- ``nodes``/``edges`` are pure projections + unions over the base scans —
  zero shuffle; Catalyst pushes the column pruning into each parquet scan.
- The role-typed predicate lookup (reference cell-14 rolle dicts, J12) is a
  broadcast hash join against a 3-row status dimension — never a shuffle.
- BGP queries join edges with edges: the selective side (an anchored
  pattern like ``pred = 'from_nation' AND dst = X``) is filtered *before*
  the join, so AQE picks a broadcast join for it at any scale; predicates
  on ``pred``/``ts`` push down to the edge-table scan when edges are
  materialized partitioned by ``pred`` (see ``materialize_graph``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .tables import load

# Role-typed predicate dimension for order edges (J12 dict-broadcast analog;
# reference rdf_graph.ipynb cell-14: {rolleid: rolle} dicts).
ORDER_STATUS_PREDS = [("O", "placed_open"), ("F", "placed_fulfilled"), ("P", "placed_pending")]

# Single-source-of-truth ANSI SQL for the same construction — the DuckDB
# oracle side of every graph query below (driver correctness gate).
NODES_SQL = """
    SELECT 'region:' || r_regionkey::VARCHAR AS node_id, r_name AS name, 'region' AS node_type FROM region
    UNION ALL
    SELECT 'nation:' || n_nationkey::VARCHAR, n_name, 'nation' FROM nation
    UNION ALL
    SELECT 'customer:' || c_custkey::VARCHAR, c_name, 'customer' FROM customer
    UNION ALL
    SELECT 'supplier:' || s_suppkey::VARCHAR, s_name, 'supplier' FROM supplier
    UNION ALL
    SELECT 'part:' || p_partkey::VARCHAR, p_name, 'part' FROM part
    UNION ALL
    SELECT 'order:' || o_orderkey::VARCHAR, 'order ' || o_orderkey::VARCHAR, 'order' FROM orders
"""

EDGES_SQL = """
    SELECT 'nation:' || n_nationkey::VARCHAR AS src, 'in_region' AS pred,
           'region:' || n_regionkey::VARCHAR AS dst, NULL::TIMESTAMP AS ts FROM nation
    UNION ALL
    SELECT 'customer:' || c_custkey::VARCHAR, 'from_nation',
           'nation:' || c_nationkey::VARCHAR, NULL::TIMESTAMP FROM customer
    UNION ALL
    SELECT 'supplier:' || s_suppkey::VARCHAR, 'from_nation',
           'nation:' || s_nationkey::VARCHAR, NULL::TIMESTAMP FROM supplier
    UNION ALL
    SELECT 'order:' || o_orderkey::VARCHAR,
           CASE o_orderstatus WHEN 'O' THEN 'placed_open'
                              WHEN 'F' THEN 'placed_fulfilled'
                              ELSE 'placed_pending' END,
           'customer:' || o_custkey::VARCHAR, o_orderdate FROM orders
    UNION ALL
    SELECT 'order:' || l_orderkey::VARCHAR, 'contains_part',
           'part:' || l_partkey::VARCHAR, l_shipdate FROM lineitem
    UNION ALL
    SELECT 'order:' || l_orderkey::VARCHAR, 'supplied_by',
           'supplier:' || l_suppkey::VARCHAR, l_shipdate FROM lineitem
"""


def _nid(prefix: str, col) -> F.Column:
    return F.concat(F.lit(prefix + ":"), F.col(col).cast("string"))


def nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed node table (node_id, name, node_type) — union of projections."""
    parts = [
        load(spark, sf_dir, "region").select(
            _nid("region", "r_regionkey").alias("node_id"),
            F.col("r_name").alias("name"), F.lit("region").alias("node_type")),
        load(spark, sf_dir, "nation").select(
            _nid("nation", "n_nationkey").alias("node_id"),
            F.col("n_name").alias("name"), F.lit("nation").alias("node_type")),
        load(spark, sf_dir, "customer").select(
            _nid("customer", "c_custkey").alias("node_id"),
            F.col("c_name").alias("name"), F.lit("customer").alias("node_type")),
        load(spark, sf_dir, "supplier").select(
            _nid("supplier", "s_suppkey").alias("node_id"),
            F.col("s_name").alias("name"), F.lit("supplier").alias("node_type")),
        load(spark, sf_dir, "part").select(
            _nid("part", "p_partkey").alias("node_id"),
            F.col("p_name").alias("name"), F.lit("part").alias("node_type")),
        load(spark, sf_dir, "orders").select(
            _nid("order", "o_orderkey").alias("node_id"),
            F.concat(F.lit("order "), F.col("o_orderkey").cast("string")).alias("name"),
            F.lit("order").alias("node_type")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-typed edge table (src, pred, dst, ts).

    The order→customer predicate comes from a broadcast join against the
    3-row status dimension (J12; reference rdf_graph.ipynb cell-14/16/20).
    """
    status_dim = F.broadcast(
        spark.createDataFrame(ORDER_STATUS_PREDS, "o_orderstatus string, pred string"))
    null_ts = F.lit(None).cast("timestamp")

    nation_e = load(spark, sf_dir, "nation").select(
        _nid("nation", "n_nationkey").alias("src"), F.lit("in_region").alias("pred"),
        _nid("region", "n_regionkey").alias("dst"), null_ts.alias("ts"))
    cust_e = load(spark, sf_dir, "customer").select(
        _nid("customer", "c_custkey").alias("src"), F.lit("from_nation").alias("pred"),
        _nid("nation", "c_nationkey").alias("dst"), null_ts.alias("ts"))
    supp_e = load(spark, sf_dir, "supplier").select(
        _nid("supplier", "s_suppkey").alias("src"), F.lit("from_nation").alias("pred"),
        _nid("nation", "s_nationkey").alias("dst"), null_ts.alias("ts"))
    # LEFT join + coalesce: unknown statuses map to 'placed_pending', exactly
    # like EDGES_SQL's CASE ELSE branch — the DataFrame and SQL forms agree
    # on any input, not just TPC-H-shaped {O,F,P} data.
    order_e = (
        load(spark, sf_dir, "orders")
        .join(status_dim, "o_orderstatus", "left")
        .select(_nid("order", "o_orderkey").alias("src"),
                F.coalesce(F.col("pred"), F.lit("placed_pending")).alias("pred"),
                _nid("customer", "o_custkey").alias("dst"), F.col("o_orderdate").alias("ts"))
    )
    li = load(spark, sf_dir, "lineitem")
    li_part_e = li.select(
        _nid("order", "l_orderkey").alias("src"), F.lit("contains_part").alias("pred"),
        _nid("part", "l_partkey").alias("dst"), F.col("l_shipdate").alias("ts"))
    li_supp_e = li.select(
        _nid("order", "l_orderkey").alias("src"), F.lit("supplied_by").alias("pred"),
        _nid("supplier", "l_suppkey").alias("dst"), F.col("l_shipdate").alias("ts"))

    out = nation_e
    for p in (cust_e, supp_e, order_e, li_part_e, li_supp_e):
        out = out.unionAll(p)
    return out


def materialize_graph(spark: SparkSession, sf_dir: str, out_root: str) -> None:
    """Write nodes/edges partitioned for query-time partition pruning.

    Edges partitioned by ``pred`` (low cardinality, pattern queries always
    bind it) and repartitioned inside each pred by a PER-ROW salt — the
    north rule's salted entity-key repartition.  The salt must involve
    more than the entity key: crc32(src)%32 is a pure function of src, so
    a Zipf head entity still lands in ONE writer partition; hashing
    (src, dst) spreads its 10^8 edges across all 32 salt values while
    keeping co-located everything the queries actually group by.
    """
    e = edges(spark, sf_dir).repartition(
        F.col("pred"), F.pmod(F.xxhash64("src", "dst"), F.lit(32)))
    e.write.mode("overwrite").partitionBy("pred").parquet(f"{out_root}/edges")
    # edges only: every BGP consumer scans {out_root}/edges; a nodes table
    # had zero readers and cost an extra scan-union job per cold build
    # (kg_nodes computes nodes directly when queried)


# ---------------------------------------------------------------------------
# BGP query surface (Q1-Q5) — every query is joins/filters over `edges`
# ---------------------------------------------------------------------------

# the bound terms of each pattern, read by the query and its DuckDB twin
TWO_HOP_NATION = "NATION_3"                     # Q1
ATTR_PART_KEY = 558                             # Q2
FILTER_SUPP_KEYS = (1, 2, 3, 4, 5)              # Q3
DATE_RANGE = ("2000-01-01", "2000-06-30")       # Q4
CONJ_STATUS_PRED, CONJ_SEGMENT = "placed_fulfilled", "BUILDING"  # Q5
CONJ_RANGE = ("1999-01-01", "2000-12-31")


def edges_by_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 frequency count over the edge table."""
    return edges(spark, sf_dir).groupBy("pred").agg(F.count("*").alias("n_edges"))


def bgp_two_hop(spark: SparkSession, sf_dir: str, e: DataFrame | None = None) -> DataFrame:
    """Q1-style BGP: distinct parts in orders placed by customers of a nation.

    Pattern: ?c from_nation <n> . ?o placed_* ?c . ?o contains_part ?p
    The anchored side (customers of one nation) is tiny after the filter —
    broadcast-joined against the big order/lineitem edge sets.
    """
    e = e if e is not None else edges(spark, sf_dir)
    nation_id = (
        load(spark, sf_dir, "nation").filter(F.col("n_name") == TWO_HOP_NATION)
        .select(_nid("nation", "n_nationkey").alias("dst"))
    )
    custs = (
        e.filter(F.col("pred") == "from_nation")
        .join(F.broadcast(nation_id), "dst")
        .filter(F.col("src").startswith("customer:"))
        .select(F.col("src").alias("cust"))
    )
    ords = (
        e.filter(F.col("pred").startswith("placed_"))
        .join(F.broadcast(custs), F.col("dst") == F.col("cust"))
        .select(F.col("src").alias("ord"))
    )
    return (
        e.filter(F.col("pred") == "contains_part")
        .join(ords, F.col("src") == F.col("ord"))
        .select(F.col("dst").alias("part_id"))
        .distinct()
    )


def bgp_two_hop_sql() -> str:
    return f"""
        WITH e AS ({EDGES_SQL}),
        nid AS (SELECT 'nation:' || n_nationkey::VARCHAR AS dst FROM nation WHERE n_name = '{TWO_HOP_NATION}'),
        custs AS (SELECT e.src AS cust FROM e JOIN nid USING (dst)
                  WHERE e.pred = 'from_nation' AND e.src LIKE 'customer:%'),
        ords AS (SELECT e.src AS ord FROM e JOIN custs ON e.dst = custs.cust
                 WHERE e.pred LIKE 'placed_%')
        SELECT DISTINCT e.dst AS part_id FROM e JOIN ords ON e.src = ords.ord
        WHERE e.pred = 'contains_part'
    """


def bgp_attr_fetch(spark: SparkSession, sf_dir: str, e: DataFrame | None = None) -> DataFrame:
    """Q2-style BGP + attribute fetch: priorities of orders containing a part."""
    e = e if e is not None else edges(spark, sf_dir)
    ords = (
        e.filter((F.col("pred") == "contains_part") & (F.col("dst") == f"part:{ATTR_PART_KEY}"))
        .select(F.col("src").alias("order_id")).distinct()
    )
    orders = load(spark, sf_dir, "orders").select(
        _nid("order", "o_orderkey").alias("order_id"),
        F.col("o_orderpriority").alias("priority"))
    return ords.join(orders, "order_id").select("order_id", "priority")


def bgp_attr_fetch_sql() -> str:
    return f"""
        WITH e AS ({EDGES_SQL}),
        ords AS (SELECT DISTINCT src AS order_id FROM e
                 WHERE pred = 'contains_part' AND dst = 'part:{ATTR_PART_KEY}')
        SELECT order_id, o_orderpriority AS priority FROM ords
        JOIN (SELECT 'order:' || o_orderkey::VARCHAR AS order_id, o_orderpriority FROM orders) o
        USING (order_id)
    """


def bgp_filter_in(spark: SparkSession, sf_dir: str, e: DataFrame | None = None) -> DataFrame:
    """Q3-style FILTER IN: supplied_by edges restricted to a supplier set."""
    targets = [f"supplier:{k}" for k in FILTER_SUPP_KEYS]
    e = e if e is not None else edges(spark, sf_dir)
    return (
        e
        .filter((F.col("pred") == "supplied_by") & F.col("dst").isin(targets))
        .select("src", "dst").distinct()
    )


def bgp_filter_in_sql() -> str:
    inlist = ", ".join(f"'supplier:{k}'" for k in FILTER_SUPP_KEYS)
    return f"""
        WITH e AS ({EDGES_SQL})
        SELECT DISTINCT src, dst FROM e WHERE pred = 'supplied_by' AND dst IN ({inlist})
    """


def bgp_date_range(spark: SparkSession, sf_dir: str, e: DataFrame | None = None) -> DataFrame:
    """Q4-style FILTER date range over edge timestamps → count per dst part."""
    lo, hi = DATE_RANGE
    e = e if e is not None else edges(spark, sf_dir)
    return (
        e
        .filter((F.col("pred") == "contains_part")
                & (F.col("ts") >= F.lit(lo).cast("timestamp"))
                & (F.col("ts") <= F.lit(hi).cast("timestamp")))
        .groupBy(F.col("dst").alias("part_id"))
        .agg(F.count("*").alias("n_shipments"))
    )


def bgp_date_range_sql() -> str:
    lo, hi = DATE_RANGE
    return f"""
        WITH e AS ({EDGES_SQL})
        SELECT dst AS part_id, COUNT(*) AS n_shipments FROM e
        WHERE pred = 'contains_part' AND ts >= TIMESTAMP '{lo}' AND ts <= TIMESTAMP '{hi}'
        GROUP BY dst
    """


def bgp_conjunctive(spark: SparkSession, sf_dir: str, e: DataFrame | None = None) -> DataFrame:
    """Q5-style dynamic conjunctive criteria (rdf_graph.ipynb cell-47):
    orders matching status + date range + customer-segment constraints."""
    lo, hi = CONJ_RANGE
    e = e if e is not None else edges(spark, sf_dir)
    seg_custs = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == CONJ_SEGMENT)
        .select(_nid("customer", "c_custkey").alias("dst"))
    )
    return (
        e.filter((F.col("pred") == CONJ_STATUS_PRED)
                 & (F.col("ts") >= F.lit(lo).cast("timestamp"))
                 & (F.col("ts") <= F.lit(hi).cast("timestamp")))
        .join(F.broadcast(seg_custs), "dst")
        .select(F.col("src").alias("order_id"), F.col("dst").alias("customer_id"))
        .distinct()
    )


def bgp_conjunctive_sql() -> str:
    lo, hi = CONJ_RANGE
    return f"""
        WITH e AS ({EDGES_SQL}),
        seg AS (SELECT 'customer:' || c_custkey::VARCHAR AS dst FROM customer
                WHERE c_mktsegment = '{CONJ_SEGMENT}')
        SELECT DISTINCT e.src AS order_id, e.dst AS customer_id
        FROM e JOIN seg USING (dst)
        WHERE e.pred = '{CONJ_STATUS_PRED}'
          AND e.ts >= TIMESTAMP '{lo}' AND e.ts <= TIMESTAMP '{hi}'
    """
