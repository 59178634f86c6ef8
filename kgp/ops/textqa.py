"""Text-analysis operators for large-scale corpus curation (documents table).

Training-data pipeline surface: token counting, quality scoring, language-ID
heuristic, document fingerprinting.  Everything here is built-in
``pyspark.sql.functions`` only — the whole stage stays inside WholeStageCodegen
(no Python in the hot path), and each operator has an exactly-equivalent ANSI
SQL form (the ``*_SQL`` constants) used as the DuckDB oracle.

Reference analogs: token counting (SURVEY.md §2.3 T6,
notebooks/count_tokens.ipynb cell-1), length-based quality filtering
(src/data/adjust_length_paragraphs.py:42-91), sha-based fingerprints
(src/data/create_faiss_index.py:19-37).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .common import canon_col, canon_sql

# normalized text: lowercase, then the cross-engine whitespace canon of
# ops.common (canon_col on Spark, canon_sql on DuckDB)
_NORM_DUCK = canon_sql("lower(text)")


def _norm() -> F.Column:
    return canon_col(F.lower("text"))

# language marker words (stand-in for an n-gram language model; deterministic)
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "das"),
    "fr": ("le", "la", "les"),
    "es": ("el", "los", "una"),
}


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-language token statistics (T6 + A6)."""
    toks = F.split(_norm(), " ")
    return (
        docs.select("lang", F.size(toks).alias("n_tokens"), F.col("n_chars"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


TOKEN_STATS_SQL = f"""
    WITH t AS (SELECT lang, len(string_split({_NORM_DUCK}, ' ')) AS n_tokens, n_chars FROM documents)
    SELECT lang, COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS total_tokens,
           ROUND(AVG(n_tokens), 4) AS avg_tokens, ROUND(AVG(n_chars), 4) AS avg_chars
    FROM t GROUP BY lang
"""


def _quality_cols() -> list[F.Column]:
    """The aliased quality-heuristic expressions (single-sourced so the
    standalone operator and the composed doc_profile cannot drift)."""
    norm = _norm()
    toks = F.split(norm, " ")
    n_tok = F.size(toks)
    uniq_ratio = F.round(F.size(F.array_distinct(toks)) / n_tok, 4)
    # nullif guard: Spark 4 runs ANSI mode by default, so x/0 THROWS where
    # the DuckDB twin's `/ len(nt)::DOUBLE` yields NULL — an empty document
    # must produce a NULL ratio on both engines, not kill the job
    digit_ratio = F.round(
        (F.length(norm) - F.length(F.regexp_replace(norm, "[0-9]", "")))
        / F.nullif(F.length(norm), F.lit(0)), 4)
    stop_ratio = F.round(
        F.size(F.filter(toks, lambda t: t.isin("a", "the", "of", "and"))) / n_tok, 4)
    quality = F.round(
        F.least(F.lit(1.0), n_tok / F.lit(50.0)) * (F.lit(1.0) - digit_ratio) * uniq_ratio, 4)
    return [n_tok.alias("n_tokens"), uniq_ratio.alias("uniq_ratio"),
            digit_ratio.alias("digit_ratio"), stop_ratio.alias("stop_ratio"),
            quality.alias("quality")]


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-document quality heuristics: token count, type/token ratio,
    digit ratio, stopword ratio, composite quality score in [0,1]."""
    return docs.select("doc_id", *_quality_cols())


QUALITY_SCORES_SQL = f"""
    WITH t AS (SELECT doc_id, {_NORM_DUCK} AS nt, string_split({_NORM_DUCK}, ' ') AS w FROM documents)
    SELECT doc_id,
           len(w) AS n_tokens,
           ROUND(len(list_distinct(w)) / len(w)::DOUBLE, 4) AS uniq_ratio,
           ROUND((len(nt) - len(regexp_replace(nt, '[0-9]', '', 'g'))) / len(nt)::DOUBLE, 4) AS digit_ratio,
           ROUND(len(list_filter(w, t -> t IN ('a', 'the', 'of', 'and'))) / len(w)::DOUBLE, 4) AS stop_ratio,
           ROUND(LEAST(1.0, len(w) / 50.0) * (1.0 - ROUND((len(nt) - len(regexp_replace(nt, '[0-9]', '', 'g'))) / len(nt)::DOUBLE, 4)) * ROUND(len(list_distinct(w)) / len(w)::DOUBLE, 4), 4) AS quality
    FROM t
"""


def _lang_cols() -> list[F.Column]:
    """Aliased score_<lang> expressions + pred_lang (argmax, tie-break in
    sorted lang order) — pred is built from the score EXPRESSIONS, not
    column references, so the whole set composes into one select."""
    toks = F.split(_norm(), " ")

    def marker_count(markers: tuple[str, ...]) -> F.Column:
        # single-arg lambda: a 2-arg lambda would make Spark pass the
        # element index as the second argument
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: marker_count(LANG_MARKERS[lang]) for lang in sorted(LANG_MARKERS)}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return [scores[lang].alias(f"score_{lang}") for lang in sorted(LANG_MARKERS)] \
        + [pred.alias("pred_lang")]


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language-ID: marker-word hit counts per language, prediction
    = argmax with deterministic tie-break on language code order."""
    return docs.select("doc_id", *_lang_cols())


def _lang_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    score_exprs = ",\n           ".join(
        "len(list_filter(w, t -> t IN ({}))) AS score_{}".format(
            ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang)
        for lang in langs
    )
    best = "GREATEST({})".format(", ".join(f"score_{lang}" for lang in langs))
    case = "CASE "
    for lang in langs:
        case += f"WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
        WITH t AS (SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS w FROM documents),
        s AS (SELECT doc_id,
           {score_exprs}
        FROM t)
        SELECT doc_id, {', '.join(f'score_{lang}' for lang in langs)}, {case} AS pred_lang FROM s
    """


LANG_ID_SQL = _lang_id_sql()


def doc_profile(docs: DataFrame) -> DataFrame:
    """quality_scores + lang_id in one per-doc row — one driver-gate slot
    hash-checks both the quality-scoring and language-ID operators (their
    standalone forms remain the API surface; this is the registry view).

    Column-composed (one scan), NOT a self-join: both sides are per-row
    expressions over the same documents scan, and joining them back on
    doc_id would read the corpus twice plus shuffle purely to glue columns
    — at 100 TB that doubles the dominant I/O of the query."""
    return docs.select("doc_id", *_quality_cols(), *_lang_cols())


DOC_PROFILE_SQL = f"""
    WITH q AS ({QUALITY_SCORES_SQL}), l AS ({LANG_ID_SQL})
    SELECT q.*, l.* EXCLUDE (doc_id) FROM q JOIN l USING (doc_id)
"""


def fingerprints(docs: DataFrame) -> DataFrame:
    """Per-source fingerprint dedup stats: md5 of normalized text as the
    document fingerprint (D1 analog), distinct-fingerprint counts per source."""
    fp = F.substring(F.md5(_norm()), 1, 16)
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.countDistinct("fp").alias("n_uniq_fp"))
    )


FINGERPRINTS_SQL = f"""
    WITH t AS (SELECT source, substr(md5({_NORM_DUCK}), 1, 16) AS fp FROM documents)
    SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_uniq_fp FROM t GROUP BY source
"""
