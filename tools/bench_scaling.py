"""Scaling-efficiency bench: the KG pipeline at N vs 4N executors.

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

Method: corpus generated once to parquet (byte-identical input for both
levels); each run in a fresh driver subprocess (fresh executor JVMs);
levels are INTERLEAVED in ABBA rounds — one efficiency sample per round,
median of rounds reported — because the sandbox VM's effective CPU
drifts on a tens-of-minutes timescale and a blocked design confounds
that drift with the scaling effect.  Pipeline: S1 order → S2 extract →
S3/S4 link+CC → S5 materialize → noop sink, through the production
``run_pipeline`` DAG (the link/CC branch overlaps S1/S2).

Usage:
    python tools/bench_scaling.py                  # interleaved rounds
    python tools/bench_scaling.py --single-run 4   # internal: one cold run
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

INPUT_DIR = os.environ.get("KGP_SCALE_INPUT", "/tmp/kgp_scale_input3")
N_CONVS = int(os.environ.get("KGP_SCALE_CONVS", "1200000"))
N_ENTS = int(os.environ.get("KGP_SCALE_ENTS", "2000"))
RUNS = int(os.environ.get("KGP_SCALE_ROUNDS", "3"))
CC_RUNS = int(os.environ.get("KGP_SCALE_CC_ROUNDS", "3"))
LEVELS = (1, 4)  # executors: N and 4N


def ensure_input() -> None:
    marker = f"{INPUT_DIR}/_done_{N_CONVS}_{N_ENTS}"
    if os.path.exists(marker):
        return
    from kgp.session import get_spark
    from kgp.synth import gen_entity_vocab, gen_transcripts_spark

    spark = get_spark(master="local[32]", app_name="kgp-scale-gen")
    vocab = gen_entity_vocab(N_ENTS)
    gen_transcripts_spark(spark, N_CONVS, vocab).write.mode("overwrite").parquet(
        f"{INPUT_DIR}/transcripts")
    spark.createDataFrame(vocab).write.mode("overwrite").parquet(f"{INPUT_DIR}/vocab")
    spark.stop()
    open(marker, "w").close()


def single_run(n_exec: int, force_cc: bool = False) -> None:
    """One cold pipeline run in a fresh driver (fresh standalone app →
    fresh executor JVMs).  One run per process: localCheckpoint blocks die
    with the app, so no cross-run storage leak (ContextCleaner only frees
    blocks after a driver-JVM GC, which a quiet 1g driver heap may never
    trigger — observed as executors wedged at their storage limit)."""
    from kgp.pipeline import run_pipeline
    from kgp.pipeline.cc import SMALL_GRAPH_EDGES
    from tools.cluster import executor_session

    spark = executor_session(n_exec, app_name=f"kgp-scale-{n_exec}exec")
    transcripts = spark.read.parquet(f"{INPUT_DIR}/transcripts")
    vocab = spark.read.parquet(f"{INPUT_DIR}/vocab")
    n_turns = transcripts.count()

    t0 = time.monotonic()
    # the production DAG: the link/CC branch overlaps S1/S2.
    # force_cc=0-threshold runs the distributed large-star/small-star loop
    # even though the link graph is below the driver-union-find cutoff —
    # the scaling evidence for the at-scale CC path (VERDICT r2 ask)
    out = run_pipeline(spark, transcripts, vocab,
                       small_graph_threshold=0 if force_cc else SMALL_GRAPH_EDGES)
    out["edges"].write.format("noop").mode("overwrite").save()
    dt = time.monotonic() - t0
    spark.stop()
    print("RUN " + json.dumps({"n_turns": n_turns, "sec": round(dt, 2)}), flush=True)


def one_run(n_exec: int, force_cc: bool = False) -> dict:
    # every failure mode surfaces as RuntimeError so the caller's one
    # retry-after-cluster-bounce covers all of them: a wedged run
    # (TimeoutExpired at 3600s), a garbled/truncated RUN line
    # (JSONDecodeError), and the no-RUN-line crash
    cmd = [sys.executable, os.path.abspath(__file__), "--single-run", str(n_exec)]
    if force_cc:
        cmd.append("--force-cc")
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600, cwd=_REPO)
    except subprocess.TimeoutExpired as exc:
        raise RuntimeError(f"run wedged (>3600s) at {n_exec} executors") from exc
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RUN ")]
    if not line:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise RuntimeError(f"run failed at {n_exec} executors")
    try:
        return json.loads(line[-1][4:])
    except json.JSONDecodeError as exc:
        raise RuntimeError(
            f"garbled RUN line at {n_exec} executors: {line[-1]!r}") from exc


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--single-run", type=int, help="internal: one cold run")
    ap.add_argument("--force-cc", action="store_true",
                    help="force the distributed CC loop (small-graph threshold 0)")
    ap.add_argument("--cc-only", action="store_true",
                    help="re-measure ONLY the CC-forced pair with interleaved "
                         "ABBA rounds (median of per-round efficiencies — the "
                         "same drift-robust estimator as the headline gate), "
                         "merging into the existing BENCH/scaling.json")
    args = ap.parse_args()

    if args.single_run:
        single_run(args.single_run, force_cc=args.force_cc)
        return

    if args.cc_only:
        cc_only_main()
        return

    ensure_input()
    from tools.cluster import EXECUTOR_CORES, EXECUTOR_MEM, start_cluster, stop_cluster

    # Interleaved ABBA rounds: the sandbox VM's effective CPU drifts on a
    # tens-of-minutes timescale (observed: monotone ±15% within a 3-run
    # block), so a blocked design (all N runs, then all 4N) confounds the
    # drift with the scaling effect.  Each round runs BOTH levels
    # back-to-back (alternating order to cancel linear drift within a
    # round) and yields one efficiency sample; the median of per-round
    # efficiencies is the headline number.
    lo, hi = LEVELS
    start_cluster()
    times: dict[int, list] = {lo: [], hi: []}
    round_effs: list[float] = []
    n_turns = 0
    cc_report = None  # defined before the try: a failed ROUND must not
    # NameError in the finally-block report write
    try:
        for rnd in range(RUNS):
            order = (lo, hi) if rnd % 2 == 0 else (hi, lo)
            for attempt in (0, 1):
                try:
                    got = {}
                    for n_exec in order:
                        r = one_run(n_exec)
                        got[n_exec] = r["sec"]
                        n_turns = r["n_turns"]
                    break
                except RuntimeError as exc:
                    # A transient executor/worker death (observed: netty
                    # channel close during localCheckpoint killed a run
                    # mid-sweep) must not discard the completed rounds —
                    # bounce the shared standalone cluster and retry the
                    # WHOLE round once (both legs, so the ABBA pairing and
                    # drift cancellation stay intact).
                    if attempt:
                        # final attempt failed — re-raise without the
                        # pointless bounce (the finally block stops the
                        # cluster; restarting it here would just burn the
                        # 30s worker-registration wait on the abort path)
                        raise
                    print(f"round {rnd} attempt {attempt} failed ({exc}); "
                          "restarting cluster", flush=True)
                    stop_cluster()
                    start_cluster()
            times[lo].append(got[lo])
            times[hi].append(got[hi])
            eff_r = round((got[lo] / got[hi]) / (hi / lo), 3)
            round_effs.append(eff_r)
            print(f"round {rnd}: N={got[lo]}s 4N={got[hi]}s eff={eff_r}", flush=True)
        # one CC-forced round (distributed large-star/small-star loop instead
        # of the driver union-find shortcut) — evidences the at-scale CC path.
        # Failure here must not discard ~50 min of completed ABBA rounds:
        # the report is written with whatever finished.
        try:
            cc_forced = {}
            for n_exec in (lo, hi):
                r = one_run(n_exec, force_cc=True)
                cc_forced[n_exec] = r["sec"]
            cc_eff = round((cc_forced[lo] / cc_forced[hi]) / (hi / lo), 3)
            print(f"cc-forced: N={cc_forced[lo]}s 4N={cc_forced[hi]}s eff={cc_eff}",
                  flush=True)
            cc_report = {"sec": {str(k): v for k, v in cc_forced.items()},
                         "efficiency": cc_eff}
        except Exception as exc:  # noqa: BLE001 — partial report > no report
            print(f"cc-forced pair failed ({type(exc).__name__}: {exc}); "
                  "writing report without it", flush=True)
    finally:
        stop_cluster()
        # write whatever completed — a wedged later run must not throw away
        # every earlier round's measurements (each round is ~13 min here)
        if round_effs:
            write_report(times, round_effs, n_turns, cc_forced=cc_report)


def cc_only_main() -> None:
    """Upgrade the CC-forced evidence from a single un-medianed pair to the
    same interleaved-ABBA / median-of-per-round-ratios estimator the
    headline gate uses (the r2 verdict's remaining measurement weakness:
    one pair carries one round's VM drift).  The completed headline rounds
    in BENCH/scaling.json are kept verbatim — only the
    cc_forced_distributed_loop section is re-measured."""
    path = os.path.join(_REPO, "BENCH", "scaling.json")
    with open(path) as f:
        prior = json.load(f)
    lo, hi = LEVELS
    times = {int(k): v["runs_sec"] for k, v in prior["levels"].items()}
    round_effs = prior["round_efficiencies"]
    n_turns = prior["levels"][str(lo)]["n_turns"]

    ensure_input()
    from tools.cluster import start_cluster, stop_cluster

    start_cluster()
    cc_times: dict[int, list] = {lo: [], hi: []}
    cc_effs: list[float] = []
    try:
        for rnd in range(CC_RUNS):
            order = (lo, hi) if rnd % 2 == 0 else (hi, lo)
            got = {}
            for n_exec in order:
                r = one_run(n_exec, force_cc=True)
                got[n_exec] = r["sec"]
                cc_times[n_exec].append(r["sec"])
            eff_r = round((got[lo] / got[hi]) / (hi / lo), 3)
            cc_effs.append(eff_r)
            print(f"cc round {rnd}: N={got[lo]}s 4N={got[hi]}s eff={eff_r}",
                  flush=True)
    finally:
        stop_cluster()
        if cc_effs:
            cc_report = {
                "sec": {str(k): round(statistics.median(v), 2)
                        for k, v in cc_times.items()},
                "runs_sec": {str(k): v for k, v in cc_times.items()},
                "round_efficiencies": cc_effs,
                "efficiency": round(statistics.median(cc_effs), 3),
            }
            write_report(times, round_effs, n_turns, cc_forced=cc_report)


def write_report(times: dict, round_effs: list, n_turns: int,
                 cc_forced: dict | None = None) -> None:
    from tools.cluster import EXECUTOR_CORES, EXECUTOR_MEM

    lo, hi = LEVELS
    results = {}
    for n_exec in LEVELS:
        sec = statistics.median(times[n_exec])
        results[n_exec] = {
            "n_executors": n_exec, "n_turns": n_turns,
            "runs_sec": times[n_exec], "median_sec": round(sec, 2),
            "turns_per_sec": round(n_turns / sec, 1),
        }
    RUNS_DONE = len(round_effs)
    thr_n, thr_4n = results[lo]["turns_per_sec"], results[hi]["turns_per_sec"]
    eff = round(statistics.median(round_effs), 3)
    summary = {"levels": results, "round_efficiencies": round_effs,
               "scaling_efficiency_n_to_4n": eff,
               "target": 0.8, "pass": eff >= 0.8,
               "cc_forced_distributed_loop": cc_forced,
               "topology": {"executor_cores": EXECUTOR_CORES, "executor_mem": EXECUTOR_MEM},
               "corpus": {"n_convs": N_CONVS, "n_entities": N_ENTS}}
    os.makedirs(os.path.join(_REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(_REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(summary, f, indent=2)

    eff_list = ", ".join(str(e) for e in round_effs)
    with open(os.path.join(_REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(f"""# BENCH/BASELINE — measured scaling (N vs 4N executors)

The BASELINE.json two-cluster-size criterion, evidenced per the driver
note on a **local standalone cluster** (master + worker JVMs on
localhost, `tools/cluster.py`): the application runs with real executor
JVMs — {lo} executor (N) vs {hi} executors (4N), {EXECUTOR_CORES} cores /
{EXECUTOR_MEM} each, `kgp` shipped to executors as a py-files zip (the
`spark-submit --py-files` deployment of the north rule).  Each executor
owns its heap, GC, and Python worker pool, exactly as on a multi-node
cluster; a single local[k] JVM would conflate shared-heap effects with
true scaling.

Corpus: {results[lo]['n_turns']:,} turns ({N_CONVS:,} conversations,
{N_ENTS} entities), deterministic seed 42, pre-written parquet — byte-
identical input for both levels.  {RUNS_DONE} interleaved ABBA rounds (each
round runs BOTH levels back-to-back in alternating order, one cold run
per fresh driver/executor JVMs): the sandbox VM's effective CPU drifts
±10-15% on a tens-of-minutes timescale, so per-round efficiency ratios
(median reported) are the drift-robust estimator a blocked design is
not.  Full pipeline per run: S1 order → S2 extract → S3/S4 link+CC →
S5 materialize → noop sink, through the production `run_pipeline` DAG
(the link/CC branch overlaps S1/S2).

| executors | median sec | turns/s | runs (s) |
|---|---|---|---|
| {lo} (N)  | {results[lo]['median_sec']} | {thr_n:,} | {results[lo]['runs_sec']} |
| {hi} (4N) | {results[hi]['median_sec']} | {thr_4n:,} | {results[hi]['runs_sec']} |

**Scaling efficiency (N→4N), median of per-round ratios
[{eff_list}] = {eff}** (target ≥ 0.8: {"PASS" if eff >= 0.8 else "FAIL"}).
""")
        if cc_forced:
            cs = cc_forced["sec"]
            if "round_efficiencies" in cc_forced:
                cc_eff_list = ", ".join(str(e) for e in cc_forced["round_efficiencies"])
                cc_method = (f"{len(cc_forced['round_efficiencies'])} interleaved "
                             f"ABBA rounds (same drift-robust estimator as the "
                             f"headline pair): median seconds N = {cs[str(lo)]}s, "
                             f"4N = {cs[str(hi)]}s; per-round efficiencies "
                             f"[{cc_eff_list}], median {cc_forced['efficiency']}")
            else:
                cc_method = (f"N = {cs[str(lo)]}s, 4N = {cs[str(hi)]}s, efficiency "
                             f"{cc_forced['efficiency']} (a single un-medianed "
                             f"pair — carries one round's VM noise)")
            f.write(f"""
Additional CC-forced rounds run the full pipeline with the small-graph
threshold set to 0, so entity canonicalization takes the distributed
large-star/small-star loop (the 10^8-surface path) instead of the driver
union-find shortcut the {N_ENTS}-entity link graph would normally use:
{cc_method}.  The loop adds a fixed per-iteration barrier cost at both
levels (O(log n) iterations, each a handful of tiny shuffles relative to
extraction); forcing it onto this 2000-entity graph measures that serial
barrier cost, not the loop's scaling.  `BENCH/CC_GRAPH.md` measures the
loop on a graph large enough to NEED it (9M edges) with the single-box
cross-executor-shuffle caveat analyzed there.

Observed sandbox artifact, reported for honesty: within a bench session
the 4N legs degrade monotonically across consecutive rounds while the N
legs stay flat (three independent runs showed the signature; worker
work-dirs, tmpfs and free RAM all checked clean between legs).  That
asymmetry is consistent with hypervisor CPU-burst throttling that caps
sustained wide-parallel load while 2-core legs ride under it — it
depresses later-round ratios and cannot be controlled from inside the
guest, which is why the median-of-rounds estimator and the absolute
per-level times (not single ratios) are the numbers to read.
""")
        f.write(f"""

Reference single-thread baseline (BASELINE.md): 1,497–12,698 rows/s for
triple emission (pandas iterrows + rdflib).  This engine at one
{EXECUTOR_CORES}-core executor: {thr_n:,} turns/s, where each turn fans out to multiple
sentence scans and triple emissions.

Caveat (sandbox): all executors share one physical box, so memory
bandwidth is shared — a real 4N-executor cluster adds bandwidth per
node.  Single-box Python throughput saturates around ~16-20 worker
threads (extract-only probe: 3.6× from 4→16 cores, ~1.2× from 16→32;
full pipeline at 4-core executors, i.e. 4→16 threads, measured eff
0.44-0.67 with the saturation and its ~1.5× per-turn work inflation at
16 threads as the dominant cause).  The headline pair uses
{EXECUTOR_CORES}-core executors so both levels sit below that knee and
the measurement isolates executor-topology scaling — the quantity the
north rule is about — from the box's bandwidth ceiling.

Cross-round comparability of absolute bench numbers is governed by the
host-drift control in `BENCH/HOST_DRIFT.md` (kept as its own file so
regenerating this report never loses it).
""")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
