"""Scaling-efficiency bench: one job at N vs 4N executors.

The north rule's two-cluster-size criterion cannot use a real multi-node
cluster in this sandbox; per the driver note it is evidenced by running
the SAME job on the SAME pre-generated input at two parallelism levels.
This harness uses a **local standalone cluster** (tools/cluster.py):
a master + worker on localhost, with the application carved into real
executor JVMs (own heap/GC/python pool each) — 1 executor (N) vs 4
executors (4N), 2 cores and 20g each, kgp shipped as a py-files zip.
That is the faithful single-box analog of scaling executor count; a
single local[k] JVM conflates GC/allocator effects with true scaling.
Executors default to 2 cores so the 4N level (8 worker threads) stays
below the box's memory-bandwidth knee (~16-20 python threads, measured);
on a real multi-node cluster each node adds bandwidth, so the knee is a
sandbox artifact, not an engine property — see BENCH/BASELINE.md.

Subjects (``--subject``), each an input builder plus a measured body that
takes a SparkSession; each writes its own record under BENCH/:

- ``pipeline`` (BENCH/scaling.json): the production ``run_pipeline`` DAG,
  S1 order → S2 extract → S3/S4 link+CC → S5 materialize (the link/CC
  branch overlaps S1/S2), into a noop sink.
- ``pipeline_cc`` (BENCH/scaling_cc.json): the same with
  ``small_graph_threshold=0``, so entity canonicalization takes the
  distributed CC loop instead of the driver union-find the small link
  graph would use.  On this graph the loop does little shuffle work, so
  this measures its serial per-round barrier cost, not its scaling.
- ``cc_graph`` (BENCH/cc_graph_scaling.json): ``connected_components``
  alone on a graph big enough to need the loop, in the alias-graph shape
  the linker produces: N_CHAINS 8-node chain components (small alias
  groups, the bulk) plus N_STARS stars of STAR_SPOKES spokes (head
  entities, the skew case: every spoke's min is the hub).  A run whose
  component count is not the formula's raises WrongAnswer, which ends the
  sweep unretried and unrecorded: scaling numbers from a wrong answer are
  meaningless.

Method: input generated once to parquet (byte-identical for both levels,
deterministic) by a child process that exits before round 0; each run
in a fresh driver subprocess (fresh executor JVMs); levels INTERLEAVED
in ABBA rounds — one efficiency sample per round, median of rounds
reported — because the sandbox VM's effective CPU drifts on a
tens-of-minutes timescale and a blocked design confounds that drift with
the scaling effect.  The record JSON is rewritten; the BENCH/*.md
write-ups are maintained by hand from it.

Usage:
    python tools/bench_scaling.py --subject pipeline           # ABBA rounds
    python tools/bench_scaling.py --subject cc_graph --single-run 4
                                              # internal: one cold run
"""

from __future__ import annotations

import argparse
import functools
import json
import multiprocessing
import os
import statistics
import subprocess
import sys
import time
from typing import Callable, NamedTuple

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from kgp.pipeline.cc import SMALL_GRAPH_EDGES  # noqa: E402 — after sys.path

PIPELINE_INPUT = os.environ.get("KGP_SCALE_INPUT", "/tmp/kgp_scale_input3")
N_CONVS = int(os.environ.get("KGP_SCALE_CONVS", "1200000"))
N_ENTS = int(os.environ.get("KGP_SCALE_ENTS", "2000"))
CC_GRAPH_INPUT = os.environ.get("KGP_CC_GRAPH_INPUT", "/tmp/kgp_cc_graph_input")
N_CHAINS = int(os.environ.get("KGP_CC_CHAINS", "1000000"))       # 8-node chains
STAR_SPOKES = int(os.environ.get("KGP_CC_STAR_SPOKES", "100000"))
N_STARS = int(os.environ.get("KGP_CC_STARS", "10"))
RUNS = int(os.environ.get("KGP_SCALE_ROUNDS", "3"))
LEVELS = (1, 4)  # executors: N and 4N
TARGET = 0.8     # BASELINE.json's N→4N efficiency gate
RUN_TIMEOUT_S = 3600


class WrongAnswer(Exception):
    """A measured body failed its correctness check.  Deterministic, so
    unlike a transient executor loss (RuntimeError) it is never retried."""


def build_corpus(spark, path: str, n_convs: int = N_CONVS, n_ents: int = N_ENTS) -> None:
    from kgp.synth import gen_entity_vocab, gen_transcripts_spark

    vocab = gen_entity_vocab(n_ents)
    gen_transcripts_spark(spark, n_convs, vocab).write.mode("overwrite").parquet(
        f"{path}/transcripts")
    spark.createDataFrame(vocab).write.mode("overwrite").parquet(f"{path}/vocab")


def measure_pipeline(spark, path: str,
                     small_graph_threshold: int = SMALL_GRAPH_EDGES) -> dict:
    from kgp.pipeline import run_pipeline

    transcripts = spark.read.parquet(f"{path}/transcripts")
    vocab = spark.read.parquet(f"{path}/vocab")
    n_turns = transcripts.count()
    t0 = time.monotonic()
    out = run_pipeline(spark, transcripts, vocab,
                       small_graph_threshold=small_graph_threshold)
    out["edges"].write.format("noop").mode("overwrite").save()
    return {"n_turns": n_turns, "sec": round(time.monotonic() - t0, 2)}


def cc_graph_components(n_chains: int, n_stars: int) -> int:
    """Each chain and each star is one component."""
    return n_chains + n_stars


def build_cc_graph(spark, path: str, n_chains: int = N_CHAINS,
                   n_stars: int = N_STARS, star_spokes: int = STAR_SPOKES) -> None:
    """Chains: nodes [0, 8*n_chains), edges (i, i+1) except across chain
    ends.  Stars: hub H_s with star_spokes spokes, ids past the chains."""
    from pyspark.sql import functions as F

    chain_nodes = 8 * n_chains
    chains = (
        spark.range(chain_nodes)
        .filter(F.col("id") % 8 != 7)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    )
    spokes = spark.range(n_stars * star_spokes).select(
        (F.lit(chain_nodes) + F.floor(F.col("id") / star_spokes)
         * (star_spokes + 1)).alias("a"),                      # hub id
        (F.lit(chain_nodes + 1) + F.floor(F.col("id") / star_spokes)
         * (star_spokes + 1) + F.col("id") % star_spokes).alias("b"))
    (chains.unionByName(spokes)
     .repartition(64)                      # spread; no meaningful key order
     .write.mode("overwrite").parquet(f"{path}/edges"))


def measure_cc_graph(spark, path: str, n_chains: int = N_CHAINS,
                     n_stars: int = N_STARS) -> dict:
    from kgp.pipeline.cc import connected_components

    edges = spark.read.parquet(f"{path}/edges")
    t0 = time.monotonic()
    assign = connected_components(edges, small_graph_threshold=0)
    n_nodes = assign.count()
    n_comps = assign.select("canonical_id").distinct().count()
    dt = time.monotonic() - t0
    want = cc_graph_components(n_chains, n_stars)
    if n_comps != want:
        raise WrongAnswer(f"wrong component count: {n_comps} != {want}")
    return {"n_nodes": n_nodes, "n_components": n_comps, "sec": round(dt, 2)}


def _corpus(run: dict) -> dict:
    return {"corpus": {"n_convs": N_CONVS, "n_entities": N_ENTS}}


def _cc_graph_input(run: dict) -> dict:
    return {"input": {"n_edges": 7 * N_CHAINS + N_STARS * STAR_SPOKES,
                      "n_nodes": run["n_nodes"], "n_components": run["n_components"],
                      "n_chains": N_CHAINS, "n_stars": N_STARS,
                      "star_spokes": STAR_SPOKES}}


class Subject(NamedTuple):
    input_dir: str
    marker: str                         # done-marker file naming the input's sizes
    build: Callable[..., None]          # build(spark, input_dir) writes the input
    measure: Callable[..., dict]        # measure(spark, input_dir) -> RUN dict with "sec"
    record: str                         # BENCH/<record>
    extra: Callable[[dict], dict]       # last RUN dict -> subject's own top-level keys


SUBJECTS = {
    "pipeline": Subject(
        PIPELINE_INPUT, f"_done_{N_CONVS}_{N_ENTS}", build_corpus, measure_pipeline,
        "scaling.json",
        # the CC-forced measurement has its own record; the key it had here
        # stays and points to it
        lambda run: {**_corpus(run), "cc_forced_distributed_loop": "BENCH/scaling_cc.json"}),
    "pipeline_cc": Subject(
        PIPELINE_INPUT, f"_done_{N_CONVS}_{N_ENTS}", build_corpus,
        functools.partial(measure_pipeline, small_graph_threshold=0),
        "scaling_cc.json", _corpus),
    "cc_graph": Subject(
        CC_GRAPH_INPUT, f"_done_{N_CHAINS}_{N_STARS}_{STAR_SPOKES}", build_cc_graph,
        measure_cc_graph, "cc_graph_scaling.json", _cc_graph_input),
}


def _build_input(build: Callable[..., None], input_dir: str) -> None:
    from kgp.session import get_spark

    spark = get_spark(master="local[32]", app_name="kgp-scale-gen")
    build(spark, input_dir)
    spark.stop()


def ensure_input(subj: Subject) -> None:
    """Build the subject's input once, in a child process: the generator
    session's py4j JVM outlives spark.stop(), and in the sweep's own
    process it would sit beside every round's executor JVMs."""
    marker = os.path.join(subj.input_dir, subj.marker)
    if os.path.exists(marker):
        return
    proc = multiprocessing.get_context("spawn").Process(
        target=_build_input, args=(subj.build, subj.input_dir))
    proc.start()
    proc.join()
    if proc.exitcode != 0:
        raise RuntimeError(f"building {subj.input_dir} failed "
                           f"(exit code {proc.exitcode})")
    open(marker, "w").close()


def single_run(name: str, n_exec: int) -> None:
    """One cold run in a fresh driver (fresh standalone app → fresh
    executor JVMs).  One run per process: localCheckpoint blocks die with
    the app, so no cross-run storage leak (ContextCleaner only frees
    blocks after a driver-JVM GC, which a quiet 1g driver heap may never
    trigger — observed as executors wedged at their storage limit)."""
    from tools.cluster import executor_session

    subj = SUBJECTS[name]
    spark = executor_session(n_exec, app_name=f"kgp-{name}-{n_exec}exec")
    try:
        run = subj.measure(spark, subj.input_dir)
    except WrongAnswer as exc:
        print(f"WRONG {exc}", flush=True)  # one_run raises WrongAnswer on it
        raise
    spark.stop()
    print("RUN " + json.dumps(run), flush=True)


def one_run(name: str, n_exec: int) -> dict:
    # a failed correctness check surfaces as WrongAnswer; every other
    # failure mode as RuntimeError, so the caller's one whole-round retry
    # covers all of them: a wedged run (TimeoutExpired), a garbled/truncated
    # RUN line (JSONDecodeError), and the no-RUN-line crash
    cmd = [sys.executable, os.path.abspath(__file__), "--subject", name,
           "--single-run", str(n_exec)]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S, cwd=_REPO)
    except subprocess.TimeoutExpired as exc:
        raise RuntimeError(
            f"{name} run wedged (>{RUN_TIMEOUT_S}s) at {n_exec} executors") from exc
    lines = proc.stdout.splitlines()
    wrong = [ln for ln in lines if ln.startswith("WRONG ")]
    if wrong:
        raise WrongAnswer(f"{name} at {n_exec} executors: {wrong[-1][6:]}")
    line = [ln for ln in lines if ln.startswith("RUN ")]
    if not line:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise RuntimeError(f"{name} run failed at {n_exec} executors")
    try:
        return json.loads(line[-1][4:])
    except json.JSONDecodeError as exc:
        raise RuntimeError(
            f"garbled RUN line at {n_exec} executors: {line[-1]!r}") from exc


def abba(name: str) -> None:
    """RUNS interleaved rounds; each runs BOTH levels back-to-back, in
    alternating order to cancel linear drift within a round, and yields
    one efficiency sample.  The record is written with whatever rounds
    completed, even if a later one fails, unless a run gave a wrong
    answer: that ends the sweep at once and voids every timing in it."""
    from tools.cluster import start_cluster, stop_cluster

    subj = SUBJECTS[name]
    ensure_input(subj)
    lo, hi = LEVELS
    times: dict[int, list] = {lo: [], hi: []}
    round_effs: list[float] = []
    last: dict = {}
    try:
        for rnd in range(RUNS):
            order = (lo, hi) if rnd % 2 == 0 else (hi, lo)
            for attempt in (0, 1):
                # fresh master+worker per round: worker-JVM accumulation
                # across executor launches must not compound into later
                # rounds.  A transient executor/worker death (observed:
                # netty channel close during localCheckpoint) retries the
                # WHOLE round once, so the ABBA pairing stays intact.
                try:
                    start_cluster()
                    got = {n_exec: one_run(name, n_exec) for n_exec in order}
                    break
                except RuntimeError as exc:
                    if attempt:
                        raise
                    print(f"round {rnd} failed ({exc}); retrying it on a fresh "
                          "cluster", flush=True)
                finally:
                    stop_cluster()
            last = got[order[-1]]
            for n_exec in LEVELS:
                times[n_exec].append(got[n_exec]["sec"])
            eff_r = round((got[lo]["sec"] / got[hi]["sec"]) / (hi / lo), 3)
            round_effs.append(eff_r)
            print(f"round {rnd}: N={got[lo]['sec']}s 4N={got[hi]['sec']}s "
                  f"eff={eff_r}", flush=True)
    except WrongAnswer:
        round_effs.clear()
        raise
    finally:
        if round_effs:
            write_record(name, times, round_effs, last)


def write_record(name: str, times: dict, round_effs: list, last: dict) -> None:
    from tools.cluster import EXECUTOR_CORES, EXECUTOR_MEM

    subj = SUBJECTS[name]
    levels = {}
    for n_exec in LEVELS:
        sec = statistics.median(times[n_exec])
        levels[str(n_exec)] = {"n_executors": n_exec, "runs_sec": times[n_exec],
                               "median_sec": round(sec, 2)}
        if "n_turns" in last:
            levels[str(n_exec)].update(n_turns=last["n_turns"],
                                       turns_per_sec=round(last["n_turns"] / sec, 1))
    eff = round(statistics.median(round_effs), 3)
    record = {"levels": levels, "round_efficiencies": round_effs,
              "scaling_efficiency_n_to_4n": eff,
              "target": TARGET, "pass": eff >= TARGET,
              "topology": {"executor_cores": EXECUTOR_CORES,
                           "executor_mem": EXECUTOR_MEM},
              **subj.extra(last)}
    os.makedirs(os.path.join(_REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(_REPO, "BENCH", subj.record), "w") as f:
        json.dump(record, f, indent=2)

    lo, hi = LEVELS
    print(f"\n`BENCH/{subj.record}` ({name}):\n")
    print("| executors | median sec | runs (s) |\n|---|---|---|")
    for n_exec, tag in ((lo, "N"), (hi, "4N")):
        lv = levels[str(n_exec)]
        print(f"| {n_exec} ({tag}) | {lv['median_sec']} | {lv['runs_sec']} |")
    print(f"\n**Scaling efficiency (N→4N), median of per-round ratios "
          f"{round_effs} = {eff}** (target ≥ {TARGET}: "
          f"{'PASS' if eff >= TARGET else 'FAIL'}).\n")
    print(json.dumps(record))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--subject", choices=sorted(SUBJECTS), default="pipeline")
    ap.add_argument("--single-run", type=int, metavar="N_EXEC",
                    help="internal: one cold run at N_EXEC executors")
    args = ap.parse_args()
    if args.single_run:
        single_run(args.subject, args.single_run)
    else:
        abba(args.subject)


if __name__ == "__main__":
    main()
