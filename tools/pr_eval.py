"""Triple precision/recall + per-turn text equality vs the pandas oracle —
the BASELINE.json P/R >= 0.95 gate as a standalone, reportable number.

Usage: python tools/pr_eval.py [n_convs] [n_entities]
Writes BENCH/pr_eval.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 800
    n_ents = int(sys.argv[2]) if len(sys.argv) > 2 else 300

    from kgp import oracle, synth
    from kgp.pipeline import run_pipeline
    from kgp.session import get_spark

    spark = get_spark(app_name="kgp-pr-eval",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    vocab_pd = synth.gen_entity_vocab(n_ents)
    transcripts_pd = synth.gen_transcripts_pandas(n_convs, vocab_pd)
    transcripts = spark.createDataFrame(transcripts_pd)
    vocab = spark.createDataFrame(vocab_pd)

    out = run_pipeline(spark, transcripts, vocab)
    golden = oracle.run_pipeline(transcripts_pd, vocab_pd)

    st = set(map(tuple, out["triples"].select("subj", "pred", "obj").distinct()
                 .toPandas().itertuples(index=False)))
    ot = set(map(tuple, golden["triples"][["subj", "pred", "obj"]]
                 .drop_duplicates().itertuples(index=False)))
    inter = len(st & ot)
    precision = inter / len(st) if st else 1.0
    recall = inter / len(ot) if ot else 1.0

    sp_text = out["ordered"].select("conv_id", "turn_idx", "text").toPandas() \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    or_text = golden["ordered"][["conv_id", "turn_idx", "text"]] \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    text_equal = sp_text.equals(or_text)

    result = {
        "n_convs": n_convs, "n_entities": n_ents,
        "n_turns": int(len(transcripts_pd)),
        "spark_triples": len(st), "oracle_triples": len(ot),
        "precision": round(precision, 6), "recall": round(recall, 6),
        "per_turn_text_equal": bool(text_equal),
        "target": 0.95,
        "pass": precision >= 0.95 and recall >= 0.95 and text_equal,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/pr_eval.json", "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
