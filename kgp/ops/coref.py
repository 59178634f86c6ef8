"""M5 — coreference resolution (deterministic stand-in).

Reference analog: the experimental FCoref pass
(notebooks/danlp_experiments.ipynb cell-1…cell-3: ``FCoref.predict`` over
paragraph batches, clusters of coreferring spans).  The model itself is
out of scope offline; the Spark OPERATOR shape it needs is not: resolve
each anaphoric token to its nearest preceding candidate antecedent within
the document.  That is the classic recency heuristic — and it is fully
expressible as a window function, so the default path is pure JVM with an
exact DuckDB twin.  A model-backed resolver would swap the heuristic for
an iterator pandas UDF over (anaphor, candidate-window) batches — the
same seam as the mention detector (pipeline/extract.py).

Scale shape: ONE corpus scan → posexplode to tokens → one window pass per
document ordered by position (``last(antecedent, ignorenulls=True)``
carries the most recent candidate forward) — linear in tokens, no
per-document self-join, partitioned by doc exactly like every other
grouped text op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

# default lexicons for the synthetic corpora (the Spark operator takes
# them as parameters: real deployments pass real pronoun / NP-head lists;
# the testdata documents vocabulary has no true pronouns, so the
# determiners stand in as the anaphor class there).  The DuckDB twin
# replays these defaults.
ANAPHORS = ("it", "this", "that", "a", "the")
ANTECEDENTS = ("customer", "supplier", "part", "order", "table", "query")


def resolve_anaphora(df: DataFrame,
                     anaphors: tuple[str, ...] = ANAPHORS,
                     antecedents: tuple[str, ...] = ANTECEDENTS) -> DataFrame:
    """(doc_id, pos, anaphor, ant_pos, antecedent): every anaphor token bound
    to the nearest PRECEDING antecedent token in the same document
    (recency heuristic; anaphors with no preceding candidate are
    dropped, matching FCoref's singleton suppression)."""
    toks = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias("pos", "tok"))
    is_ant = F.col("tok").isin(*antecedents)
    w = (W.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(W.unboundedPreceding, W.currentRow - 1))
    carried = toks.withColumn(
        "ant", F.last(F.when(is_ant, F.struct(F.col("pos").alias("p"),
                                              F.col("tok").alias("t"))),
                      ignorenulls=True).over(w))
    return (
        carried
        .filter(F.col("tok").isin(*anaphors) & F.col("ant").isNotNull())
        .select("doc_id", "pos", F.col("tok").alias("anaphor"),
                F.col("ant.p").alias("ant_pos"),
                F.col("ant.t").alias("antecedent"))
    )


def resolve_anaphora_sql() -> str:
    """DuckDB twin: same tokenization, same recency window."""
    ana = ", ".join(f"'{a}'" for a in ANAPHORS)
    ant = ", ".join(f"'{a}'" for a in ANTECEDENTS)
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS pos,
                 unnest(ws) AS tok
          FROM (SELECT doc_id,
                       string_split_regex(lower(text), '[\\s\\v]+') AS ws
                FROM documents)),
        carried AS (
          SELECT doc_id, pos, tok,
                 last_value(CASE WHEN tok IN ({ant})
                                 THEN {{'p': pos, 't': tok}} END IGNORE NULLS)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS ant
          FROM toks)
        SELECT doc_id, pos, tok AS anaphor,
               ant.p AS ant_pos, ant.t AS antecedent
        FROM carried
        WHERE tok IN ({ana}) AND ant IS NOT NULL
    """
