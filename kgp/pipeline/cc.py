"""S4 — connected components via alternating large-star / small-star passes.

Implements the hash-join CC algorithm of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SoCC'14 — public): each round is two
DataFrame self-join/groupBy passes; converges in O(log²) rounds (in
practice a handful — alias-link components are shallow).  This replaces
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
  in one task (a sort over the hot node's whole neighborhood — fine up to
  ~10^7-edge components, measured fastest on this box because it is one
  exchange per pass); for giant-component graphs pass ``skew_salt=S``:
  the star passes switch to a map-side-combined groupBy(min) + a SALTED
  min join (mins replicated S ways, edges keyed (a, hash(b)%S)), so a hot
  node's neighborhood spreads over S tasks and no task sorts it — the
  price is the (combine-reduced) aggregate exchange per pass.  AQE
  skew-join does NOT apply to either form (there is no join in the window
  form and the salted join is already uniform); the final assignment
  groupBy is per-node partial-aggregated, i.e. skew-safe either way.
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
# graph: round time 50s → 34s at one 2-core executor).

def _attach_min(rows: DataFrame, m_expr, skew_salt: int | None) -> DataFrame:
    """rows(a, b, ...) + column ``m`` = per-``a`` min (m_expr decides the
    exact min semantics).  ``skew_salt=None``: window form — one exchange,
    hot-``a`` neighborhood sorts in one task.  ``skew_salt=S``: two-level
    form — map-side-combined groupBy(min) (skew-safe by partial
    aggregation) + a salted join that spreads a hot key over S tasks
    (mins replicated S ways; the replication is ~|V|·S rows, always at or
    below one edge-set copy for S <= average degree)."""
    if skew_salt is None:
        return rows.withColumn("m", m_expr(F.min("b").over(W.partitionBy("a"))))
    mins = (rows.groupBy("a").agg(F.min("b").alias("_mn"))
            .select("a", m_expr(F.col("_mn")).alias("m")))
    reps = mins.select(
        "a", "m",
        F.explode(F.array(*[F.lit(i) for i in range(skew_salt)])).alias("_salt"))
    keyed = rows.withColumn(
        "_salt", F.pmod(F.xxhash64("b"), F.lit(skew_salt)).cast("int"))
    # the replica table is |V|·S rows BY CONSTRUCTION — never broadcast
    # it.  Its pre-explode shuffle stats look tiny to AQE (the Generate
    # multiplies rows after the stage whose size AQE measures), so
    # without the hint AQE converts this join to broadcast and the
    # driver dies building a |V|·S-row relation (observed: notEnough-
    # MemoryToBuildAndBroadcastTable at 3.25M nodes × S=4 on a 4g
    # driver).  SHUFFLE_HASH keeps it a shuffled join with no per-task
    # sort — per-task build is |V|·S/numPartitions rows, uniform because
    # the keys are salted; _iso_session additionally pins
    # autoBroadcastJoinThreshold=-1 (this is the loop's only join).
    return keyed.join(reps.hint("shuffle_hash"), ["a", "_salt"]).drop("_salt")


def _large_star(e: DataFrame, skew_salt: int | None = None) -> DataFrame:
    """Connect strictly-larger neighbors of every node to its min neighbor."""
    starred = _attach_min(_sym(e), lambda mn: F.least(mn, F.col("a")), skew_salt)
    return (
        starred
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame, skew_salt: int | None = None) -> DataFrame:
    """Connect smaller-or-equal neighbors of every node to its min neighbor."""
    o = e.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
    om = _attach_min(o, lambda mn: mn, skew_salt)
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
        # maxPlanStringLength turns that into a driver OOM (observed on
        # the salted variant: java.lang.OutOfMemoryError inside
        # QueryExecution.explainString).  1 MB is plenty for debugging.
        iso.conf.set("spark.sql.maxPlanStringLength", str(1 << 20))
        # the loop's only join is the salted min join in _attach_min,
        # whose build side is |V|·S rows by construction — disable both
        # static and AQE broadcast conversion in this session so a stats
        # misestimate (the replica explode happens AFTER the stage AQE
        # sizes) can never materialize it on the driver
        iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        iso.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
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
# at N rounds for ~1 extra pass per N.  The SALTED round embeds its
# predecessor ~4x per round (_attach_min reads its input on both the
# aggregate and the probe side, twice per star pass), so its plan grows
# ~4^rounds between checkpoints — a tighter cadence keeps analyzer time
# and plan size bounded
CHECKPOINT_EVERY = 5
CHECKPOINT_EVERY_SALTED = 2

# ``skew_salt="auto"`` selection: stay on the window form unless some
# node's symmetric neighborhood exceeds this many rows.  The constant is a
# per-task SORT budget, not a speed crossover — BENCH/CC_SALT.md measures
# the salted form 2.3-2.8x (S=4) to 6.3-7.2x (S=16) SLOWER end-to-end on
# a graph whose hottest node has 10^5 spokes (well inside one task's
# sort; the |V|·S min-replica join term dominates when average degree is
# small, and grows with S exactly as measured), so switching early is
# a pessimization; what the salt prevents is one task sorting an entire
# giant-star neighborhood (20M edge rows ≈ 320MB of sort buffer per the
# loop's 16-byte rows — beyond this, task spill + straggling dominate a
# round regardless of cluster size).  The probe pays one extra
# partial-aggregated pass over the edge set — measured end-to-end at
# +5.9% (N) / +1.9% (4N) on the short-loop CC_SALT graph, an upper
# bound that longer loops amortize further (BENCH/CC_SALT.md).  The
# salted/window ratios come from ONE rotating-order round: each range is
# that round's N and 4N legs, not a median of replicates — one round
# decides the direction because the 2.3-7.2x gap is far beyond the host's
# 1.5-2x single-leg drift band.
SKEW_AUTO_DEGREE_BUDGET = 20_000_000


def _auto_salt(e0: DataFrame, budget: int = SKEW_AUTO_DEGREE_BUDGET) -> int | None:
    max_deg = (_sym(e0).groupBy("a").count()
               .agg(F.max("count").alias("m")).collect()[0]["m"]) or 0
    if max_deg <= budget:
        return None
    salt = 2
    while max_deg // salt > budget and salt < 64:
        salt *= 2
    return salt


def connected_components(edges: DataFrame, max_iter: int = 25,
                         small_graph_threshold: int = SMALL_GRAPH_EDGES,
                         skew_salt: int | None | str = "auto") -> DataFrame:
    """edges(a, b) long ids → assignments(entity_id, canonical_id=component min).

    Nodes that appear in no edge are simply absent (callers coalesce to
    self, see link.entity_map_from_edges).  Graphs at or below
    ``small_graph_threshold`` edges short-circuit to a driver union-find
    (identical result, property-tested); pass 0 to force the distributed
    large-star/small-star loop.  ``skew_salt``: None = window-form star
    passes (fewest exchanges — measured fastest up to 10^5-spoke hot
    nodes, BENCH/CC_SALT.md); an int S switches to salted two-level min
    passes for graphs with giant components (see _attach_min — outputs
    property-tested identical); ``"auto"`` (default) measures the max
    symmetric degree once and salts only past SKEW_AUTO_DEGREE_BUDGET.
    """
    parent = edges.sparkSession

    # Materialize the input edge list in the PARENT session (no conf
    # dependency), then run the whole iteration inside an ISOLATED
    # spark.newSession(): self-unions with swapped column attributes trip a
    # Catalyst NoSuchElementException inside UnionBase.rewriteConstraints
    # when the loop plan is (local)checkpointed (observed on Spark 4.1.2),
    # so constraint propagation is disabled — but only in the cloned
    # session's SQLConf, never session-wide.  build_graph overlaps this
    # branch with extraction planning on the shared session; the clone
    # removes the set/restore race the previous implementation had.
    e0 = (
        edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
        .filter(F.col("a") != F.col("b")).distinct()
        .localCheckpoint(eager=True)
    )
    if e0.count() <= small_graph_threshold:
        return _driver_union_find(e0)
    if skew_salt == "auto":
        skew_salt = _auto_salt(e0)
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
    ckpt_every = CHECKPOINT_EVERY if skew_salt is None else CHECKPOINT_EVERY_SALTED
    for rnd in range(max_iter):
        # fused 3-exchange round on the default path; the salted skew
        # variant keeps the explicit pair (its mins travel by join)
        if skew_salt is None:
            new = _round_fused(e)
        else:
            new = _small_star(_large_star(e, skew_salt), skew_salt)
        if rnd % ckpt_every == ckpt_every - 1:
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
