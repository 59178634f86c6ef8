"""S4 — connected components via alternating large-star / small-star passes.

Implements the CC algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SoCC'14 — public): each round is a large-star and
a small-star pass, run as one fused three-exchange DataFrame plan
(_round_fused); converges in O(log²) rounds (in practice a handful —
alias-link components are shallow).  This replaces
GraphFrames (jar not available offline) and the reference's driver-side
greedy grouping (entity_alias_mapping.ipynb cell-20).

Scale notes:
- every pass is ONE hash exchange on ``a`` + a partition-local window min
  (see the window-form note above the star passes) + a distinct — pure
  shuffle operators, no driver state;
- each round is pinned with a lazy persist() and the convergence digest
  materializes it (one pass per round: compute + cache-populate + digest
  in a single job), the previous round unpersisting as the next pins; a
  real localCheckpoint every CHECKPOINT_EVERY rounds truncates lineage so
  a lost block late in the loop recomputes at most that many rounds, not
  the whole doubling-per-round chain back to the parquet hop;
- convergence is detected by an order-insensitive content digest, one tiny
  aggregate per round;
- head-entity skew (a giant component's min attracts everything) is the
  classic large-star skew.  The window form collocates each node's edges
  in one task, so a hub's whole neighborhood is sorted by one task — a
  single 25M-spoke star still converges at local[4] (BENCH/CC_SALT.md);
  AQE skew-join does not apply (the loop has no join), and the final
  assignment groupBy is per-node partial-aggregated, i.e. skew-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def _sym(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


# Star passes in WINDOW form, not groupBy(min)+self-join: both need the
# edge set hash-partitioned on `a`, but the join form pays that exchange
# TWICE (once into the aggregate, once into the probe side) while a
# window min-over-partition computes m alongside every row in ONE
# exchange + partition-local sort.  Per round that removes two full
# edge-set shuffles (~33% of bytes moved) — the loop is shuffle-bound,
# so this is the lever that matters at 10^8 edges (measured on a 9M-edge
# graph: round time 50s → 34s at one 2-core executor).  The loop runs the
# fused round below; this unfused pair is the reference it is
# property-tested against.

def _large_star(e: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of every node to its min neighbor."""
    m = F.least(F.min("b").over(W.partitionBy("a")), F.col("a"))
    return (
        _sym(e).withColumn("m", m)
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect smaller-or-equal neighbors of every node to its min neighbor."""
    o = e.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
    om = o.withColumn("m", F.min("b").over(W.partitionBy("a")))
    # one explode, not a 2-branch union: each union branch would re-run
    # the WindowExec (only exchanges are reused across branches); the
    # (b,m)+(a,m) fan-out per row is a narrow Generate above ONE window
    # pass, and the trailing distinct dedups the per-row (a,m) copies the
    # old one-per-group `selfe` emitted exactly once
    out = om.select(F.explode(F.array(
        F.struct(F.col("b").alias("x"), F.col("m").alias("y")),
        F.struct(F.col("a").alias("x"), F.col("m").alias("y")))).alias("e"))
    return (out.select(F.col("e.x").alias("a"), F.col("e.y").alias("b"))
            .filter(F.col("a") != F.col("b")).distinct())


def _round_fused(e: DataFrame) -> DataFrame:
    """One large-star + small-star round in THREE exchanges instead of four.

    The unfused pair pays: large window (hash a) + large DISTINCT (hash
    (a,b)) + small window (hash greatest) + small distinct — the two star
    windows are unavoidable, but the intermediate distinct is not: every
    large-star row is already oriented a > b (it emits (old_b, m) with
    m <= old_a < old_b), so greatest/least is the identity and the
    small-star side can repartition on ``a`` ONCE and do the dedup
    partition-locally — HashPartitioning(a) satisfies the (a, b)
    aggregate's clustering, so Catalyst plans the dropDuplicates AND the
    min-window with zero further exchanges (plan shape pinned in
    tests/test_review_r4_fixes.py).  Per round that removes one full
    edge-set shuffle (~25% of bytes moved) on top of round 3's
    window-form rewrite; outputs are property-tested identical to
    _small_star(_large_star(e))."""
    m = F.least(F.min("b").over(W.partitionBy("a")), F.col("a"))
    ls = (
        _sym(e).withColumn("m", m)
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    o = ls.repartition("a").dropDuplicates(["a", "b"])
    om = o.withColumn("m", F.min("b").over(W.partitionBy("a")))
    out = om.select(F.explode(F.array(
        F.struct(F.col("b").alias("x"), F.col("m").alias("y")),
        F.struct(F.col("a").alias("x"), F.col("m").alias("y")))).alias("e"))
    return (out.select(F.col("e.x").alias("a"), F.col("e.y").alias("b"))
            .filter(F.col("a") != F.col("b")).distinct())


def _digest(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


# Below this edge count the link graph is collected and solved with a
# driver-side union-find: the distributed loop costs 10-15 tiny barrier
# jobs (each paying scheduler + python-worker latency on every executor),
# which dwarfs the actual work for closed-vocabulary graphs.  An
# open-vocabulary entity graph (10^8 surfaces) exceeds the threshold and
# takes the iterative large-star/small-star path below.
SMALL_GRAPH_EDGES = 2_000_000

# one isolated session per PARENT session, not per call: newSession shares
# the SparkContext but each clone owns a SessionState — a scaling sweep
# crossing the threshold repeatedly would otherwise accumulate one live
# session (catalog, SQLConf, temp views) per connected_components call
import weakref

_ISO_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _iso_session(parent):
    iso = _ISO_SESSIONS.get(parent)
    if iso is None:
        iso = parent.newSession()
        iso.conf.set("spark.sql.constraintPropagation.enabled", "false")
        # the loop's plan between checkpoints references its predecessor
        # multiple times per round, so the TEXT rendering of late-round
        # plans is exponentially larger than the plan DAG itself — AQE
        # stringifies the plan on every update callback and an unbounded
        # maxPlanStringLength turns that into a driver OOM
        # (java.lang.OutOfMemoryError inside QueryExecution.explainString).
        # 1 MB is plenty for debugging.
        iso.conf.set("spark.sql.maxPlanStringLength", str(1 << 20))
        _ISO_SESSIONS[parent] = iso
    return iso


def _driver_union_find(e0: DataFrame) -> DataFrame:
    """Exact same contract as the distributed loop (component min as
    canonical id), solved driver-side for small graphs.  Edges arrive via
    Arrow (``toPandas``) — numpy column iteration, no per-row Row objects
    (a 2M-edge collect() would cost GBs of driver heap).  Assignments leave
    via Arrow too, as a local relation: a list of tuples would go through
    a Python RDD and start a second pool of Python workers."""
    import numpy as np
    import pandas as pd

    spark = e0.sparkSession
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    pdf = e0.toPandas()  # Arrow transfer, one job
    for a, b in zip(pdf["a"].to_numpy(), pdf["b"].to_numpy()):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = list(parent)
    pdf = pd.DataFrame({"entity_id": np.array(ids, dtype=np.int64),
                        "canonical_id": np.array([find(n) for n in ids], dtype=np.int64)})
    return spark.createDataFrame(pdf, "entity_id long, canonical_id long")


# real lineage truncation cadence inside the loop: each round's plan embeds
# its predecessor TWICE (via _sym), so persist-only pinning leaves a
# 2^rounds recompute fan-out back to the parquet hop if a late round loses
# a cached block — one eager localCheckpoint every N rounds caps the chain
# at N rounds for ~1 extra pass per N
CHECKPOINT_EVERY = 5


def connected_components(edges: DataFrame, max_iter: int = 25,
                         small_graph_threshold: int = SMALL_GRAPH_EDGES) -> DataFrame:
    """edges(a, b) long ids → assignments(entity_id, canonical_id=component min).

    Nodes that appear in no edge are simply absent (callers coalesce to
    self, see link.entity_map_from_edges).  Graphs at or below
    ``small_graph_threshold`` edges short-circuit to a driver union-find
    (identical result, property-tested); pass 0 to force the distributed
    large-star/small-star loop.
    """
    parent = edges.sparkSession

    # Materialize the input edge list in the PARENT session (no conf
    # dependency), then run the whole iteration inside an ISOLATED
    # spark.newSession(): self-unions with swapped column attributes trip a
    # Catalyst NoSuchElementException inside UnionBase.rewriteConstraints
    # when the loop plan is (local)checkpointed (observed on Spark 4.1.2),
    # so constraint propagation is disabled — but only in the cloned
    # session's SQLConf, never session-wide.  run_pipeline runs this on
    # its vocabulary-branch thread, overlapped with extraction planning on
    # the shared session; the clone removes the set/restore race the
    # previous implementation had.
    e0 = (
        edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
        .filter(F.col("a") != F.col("b")).distinct()
        .localCheckpoint(eager=True)
    )
    if e0.count() <= small_graph_threshold:
        return _driver_union_find(e0)
    iso = _iso_session(parent)
    # crossing sessions JVM-side via a temp parquet hop: this path only
    # runs ABOVE the small-graph threshold — exactly where a Python
    # createDataFrame(e0.rdd, ...) round-trip (pickling every edge row
    # through the Python workers) would dominate.  One columnar write +
    # read keeps the transfer in the JVM; AQE coalescePartitions shrinks
    # the loop's shuffles, so no partition tuning here.
    import atexit
    import shutil
    import tempfile

    hop = tempfile.mkdtemp(prefix="kgp_cc_hop_")
    # {hop}/assign must outlive the call (the returned DataFrame re-reads
    # it lazily) and {hop}/edges must outlive the LOOP (persist recovers
    # through lineage — an executor loss recomputes from this source), so
    # the directory is reclaimed at process exit — without this, every
    # large-graph call leaks a full edge-set copy into /tmp
    atexit.register(shutil.rmtree, hop, ignore_errors=True)
    e0.write.mode("overwrite").parquet(f"{hop}/edges")
    # per-round pin is persist(), not localCheckpoint(eager=True): the
    # eager checkpoint is a FULL extra pass per round (execute, then store
    # row-object blocks), after which the digest runs as a second job.
    # persist is lazy — the digest job both computes the round AND
    # populates the (columnar, compressed) cache, halving the passes per
    # round; the previous round unpersists as soon as the next is pinned.
    # Lineage stays valid (each round's plan chains to the parquet hop
    # through the cached subtrees), so eviction/executor loss recomputes
    # instead of corrupting — and constraint propagation is off in this
    # session, which sidesteps the rewriteConstraints bug either way.
    e = iso.read.parquet(f"{hop}/edges").persist()
    prev = _digest(e)
    for rnd in range(max_iter):
        new = _round_fused(e)
        if rnd % CHECKPOINT_EVERY == CHECKPOINT_EVERY - 1:
            # eager localCheckpoint: truncates lineage (bounds the
            # recompute chain to CHECKPOINT_EVERY rounds) at the price of
            # one extra pass this round; on a real cluster this is
            # checkpoint() against HDFS/S3 to also survive executor loss
            new = new.localCheckpoint(eager=True)
        else:
            new = new.persist()
        cur = _digest(new)
        e.unpersist(blocking=False)
        e = new
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    assign = (
        _sym(e)
        .groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select(
            F.col("a").alias("entity_id"),
            F.least(F.col("mn"), F.col("a")).alias("canonical_id"),
        )
    )
    # hand the result back to the parent session so downstream joins never
    # mix DataFrames across sessions — same JVM-side parquet hop (the
    # assignment table is one row per linked node; still no Python pickle).
    # The write IS the materialization — no checkpoint needed first.
    assign.write.mode("overwrite").parquet(f"{hop}/assign")
    e.unpersist(blocking=False)
    # the edge-set copy is only needed while persisted rounds could still
    # recompute through lineage; once assign is ON DISK nothing references
    # it — delete now so a long-lived session making repeated large-graph
    # CC calls (the periodic link+CC batch of a streaming deployment)
    # accumulates only the tiny assign tables until process exit, not one
    # full edge copy per call
    shutil.rmtree(f"{hop}/edges", ignore_errors=True)
    return parent.read.parquet(f"{hop}/assign")
