"""M7 — LLM-based operators (QA generation, relevance scoring).

Reference analogs (src/deployment/):
- QA generation: ``extract_qa.py:61-110`` — chunk a document, prompt
  gpt-3.5 with a Danish system template, receive a ``Spørgsmål n: … /
  Svar n: …`` layout, retry twice with a rate-limit sleep, write
  per-chunk outputs, skip oversize paragraphs into a bad-files ledger.
- Relevance scoring: ``assign_relevance.py:31-78`` — prompt the model
  with one question + 5 retrieved passages, parse ``Tekststykke n:
  <score>`` decimals back out with a regex.

The MODEL is out of scope offline (network, nondeterminism) — but the
operator shape is not, and that is what this module grafts Spark-first:

* ``complete_prompts`` is the transport: an iterator ``mapInPandas``
  stage with a pluggable ``completer`` callable bound once per worker
  (the thread-pool analog — Spark's task parallelism replaces
  ``ThreadPoolExecutor(workers=20)``), bounded retry with the
  reference's rate-limit sleep special case, and per-row status/error
  columns feeding the D4 ledger instead of failing the job.  A real
  deployment passes an API-client completer; offline the default is the
  deterministic synthesizer below, and ``api_completer`` raises
  ``NotImplementedError`` exactly like the multimodal codec / fetch
  transport stubs.
* The deterministic completion is ALSO expressed as a pure-JVM column
  (``synth_completion``) with an exact DuckDB twin, so the whole
  generate→parse round trip gets a hash-gated oracle; pytest asserts the
  Python completer and the JVM expression emit identical text.
* Parsing uses the REFERENCE's regexes (``Spørgsmål \\d+: (.+)`` /
  ``Svar \\d+: (.+)``, ``Tekststykke \\d+: …``) with the marker-count
  matching rule, emitting zero pairs on malformed output rather than
  crashing — create_QA_dataset.py's case-3 bail.

- Rephrasing: ``reword_questions_multiprocessing.py:21-47`` — strip
  leading/trailing whitespace, prompt for a "more general" rewording,
  store the raw response per id, ledger failures.  Multiprocessing pool
  → Spark task parallelism.
- MCQ divide: ``divide_mcq.py:16-36`` — prompt for exactly three
  subquestions in a ``Spørgsmål n: …`` layout, then
  ``split('\\n')`` + take-after-first-``': '`` per line.
- Index rerank: ``process_subquestions.py:44-67`` — emit candidate QA
  pairs, ask the model for the top indices, parse them back with
  ``re.findall(r'\\b(\\d+)\\b')`` and join the indices back to the
  candidate rows.

Scale shape: generation and parsing are whole-stage-codegen expressions
over one corpus scan; relevance pairing is an offset-explode equi-join
(never a cross join); the model path streams Arrow batches through a
per-worker client.  At 10^9 docs nothing here shuffles except the
explicit (doc → passage) equi-join and the rank window in index_rerank.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .common import explode_once, pin, retry_call

# layout constants shared by the JVM expression, the Python completer,
# and both SQL twins — change together or parity breaks
N_PAIRS = 3
SPAN_WORDS = 8
MAX_TOKENS = 2500  # extract_qa.py create_chunks oversize-skip threshold
N_PASSAGES = 5     # assign_relevance.py scores 5 passages per question
REPHRASE_KEEP = 6  # topic words kept by the rephrase stand-in
MCQ_N_SUB, MCQ_SPAN = 3, 5  # subquestions per MCQ, words per subquestion
RERANK_TOP = 3     # indices the index_rerank "model" returns

Q_MARK = "Spørgsmål"
A_MARK = "Svar"
T_MARK = "Tekststykke"


from .common import canon_col as _canon  # noqa: E402 — shared cross-engine helper


def _let(bound: Column, fn) -> Column:
    """Let-binding for expression DAGs: evaluate ``bound`` ONCE per row
    and pass it to ``fn`` as a lambda variable that can be referenced any
    number of times for free.

    Catalyst represents expressions as trees, so a subexpression used N
    times is *evaluated* N times (CollapseProject re-inlines aliases, and
    codegen CSE skips conditional branches — `when(...)` wrappers defeat
    it).  Measured on this module: the generate→parse pipeline re-derived
    `split(regexp_replace(text))` ~13× per row, 2.5s for a 5000-row scan
    vs 0.2s intrinsic.  `transform(array(x), v -> body)[0]` is the
    whole-stage-codegen-friendly way to force one evaluation: lambda
    variables are bound values, not trees."""
    return F.transform(F.array(bound), fn)[0]


from .common import canon_sql as _canon_sql  # noqa: E402


# ---------------------------------------------------------------------------
# QA generation (extract_qa.py) — deterministic completion + parse
# ---------------------------------------------------------------------------

def _completion_of(ws: Column) -> Column:
    """Completion layout over an already-bound word array (a ``_let``
    lambda variable — every ``ws`` reference below is a value lookup,
    not a re-evaluated split)."""
    span = SPAN_WORDS
    lines = []
    for i in range(1, N_PAIRS + 1):
        q0, a0 = (2 * i - 2) * span + 1, (2 * i - 1) * span + 1
        qspan = F.array_join(F.slice(ws, q0, span), " ")
        aspan = F.array_join(F.slice(ws, a0, span), " ")
        line = F.concat(
            F.lit(f"{Q_MARK} {i}: Hvad siges om "), qspan, F.lit("?\n"),
            F.lit(f"{A_MARK} {i}: "), aspan, F.lit("."))
        lines.append(F.when(F.size(ws) >= a0, line))
    return F.concat_ws("\n", *lines)  # concat_ws skips the NULL lines


def synth_completion(text_col: str = "text") -> Column:
    """Deterministic stand-in for the chat completion: pair i asks about
    words [(2i-2)s+1 .. (2i-1)s] and answers with the next s words; pairs
    whose answer span is empty are dropped (short docs yield fewer
    pairs).  Pure JVM — mirrored by the Python ``synth_completer`` and
    the SQL twin.  The word array is let-bound so the split runs once
    per row, not once per ``when`` branch."""
    return _let(F.split(_canon(text_col), " "), _completion_of)


def synth_completer(prompts: list[str]) -> list[str]:
    """Python twin of ``synth_completion`` (the default ``completer`` for
    the mapInPandas path) — pytest asserts byte-equality with the JVM
    expression."""
    from ..textops import canon_ws

    span = SPAN_WORDS
    out = []
    for text in prompts:
        # canon_ws, not re \s: Python's Unicode \s collapses NBSP etc.
        # that the JVM twin's Java \s (ASCII class) keeps inside tokens —
        # the cross-engine whitespace drift canon_ws exists to close
        ws = canon_ws(text).split(" ")
        if ws == [""]:
            ws = []
        lines = []
        for i in range(1, N_PAIRS + 1):
            q0, a0 = (2 * i - 2) * span, (2 * i - 1) * span
            if len(ws) >= a0 + 1:
                qspan = " ".join(ws[q0:q0 + span])
                aspan = " ".join(ws[a0:a0 + span])
                lines.append(f"{Q_MARK} {i}: Hvad siges om {qspan}?\n"
                             f"{A_MARK} {i}: {aspan}.")
        out.append("\n".join(lines))
    return out


def api_completer(model: str = "gpt-3.5-turbo") -> Callable[[list[str]], list[str]]:
    """The real-deployment seam (extract_qa.py:70-91 ChatCompletion
    shape).  Offline container: documented stub."""
    def call(prompts: list[str]) -> list[str]:
        raise NotImplementedError(
            f"no network/model access in this environment (model={model}); "
            "pass a completer callable to complete_prompts instead")
    return call


def complete_prompts(df: DataFrame,
                     completer: Callable[[list[str]], list[str]] | None = None,
                     max_tries: int = 2, rate_limit_sleep_s: float = 0.0,
                     batch_rows: int = 64) -> DataFrame:
    """(doc_id, completion, status, error): run every ``text`` through the
    completer with the reference's retry protocol — up to ``max_tries``
    attempts, sleeping ``rate_limit_sleep_s`` when the error mentions a
    rate limit (extract_qa.py:100-106) — and ledger failures as rows
    instead of task aborts.  Iterator mapInPandas: the completer binds
    once per worker; prompts go through in bounded sub-batches (a
    failing batch is retried whole, like the reference's per-chunk
    loop)."""
    fn = completer or synth_completer
    out_schema = "doc_id long, completion string, status string, error string"

    def rate_limit_sleep(exc: Exception, _attempt: int) -> float:
        # extract_qa.py:100-106 sleeps only on rate-limit-worded errors
        return (rate_limit_sleep_s
                if rate_limit_sleep_s and "rate limit" in str(exc).lower()
                else 0.0)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), batch_rows):
                sub = pdf.iloc[lo:lo + batch_rows]
                prompts = ["" if p is None else str(p) for p in sub["text"]]
                comps, err = retry_call(lambda p=prompts: fn(p), max_tries,
                                        rate_limit_sleep)
                if comps is not None and len(comps) != len(prompts):
                    # a batched endpoint dropping one response must become
                    # error ROWS for the sub-batch, not a ragged-DataFrame
                    # ValueError that aborts the task — the ledger contract
                    err = (f"MalformedResponse: completer returned "
                           f"{len(comps)} completions for {len(prompts)} prompts")
                    comps = None
                if comps is None:
                    comps = [None] * len(prompts)
                yield pd.DataFrame({
                    "doc_id": sub["doc_id"].astype("int64"),
                    "completion": comps,
                    "status": "ok" if err is None else "error",
                    "error": err,
                })

    return df.select("doc_id", "text").mapInPandas(run, schema=out_schema)


def qa_generate(docs: DataFrame) -> DataFrame:
    """The M7 registry entry: oversize-skip (create_chunks bad-files
    rule) → deterministic completion → reference-regex parse with the
    marker-count rule → (doc_id, pair_idx, question, answer).  One
    corpus scan, zero Python.

    The whole round trip is ONE let-bound expression feeding a single
    explode: split → completion → both regex parses run once per row.
    (The previous staged form let CollapseProject re-inline the
    completion into every downstream reference — ~13 evaluations of
    ``split(canon(text))`` per row, 2.5s vs 0.2s intrinsic at 5k docs.)
    Rows whose parse fails the marker-count rule (or that trip the
    oversize skip) yield a NULL pair array, which explode drops — same
    semantics as the old filters."""
    def parse(c: Column) -> Column:
        qs = F.regexp_extract_all(c, F.lit(Q_MARK + r" \d+: (.+)"), 1)
        ans = F.regexp_extract_all(c, F.lit(A_MARK + r" \d+: (.+)"), 1)
        return _let(qs, lambda q: _let(ans, lambda a: F.when(
            (F.size(q) > 0) & (F.size(q) == F.size(a)),
            F.transform(q, lambda x, i: F.struct(
                i.alias("pair_idx"), x.alias("question"),
                F.get(a, i).alias("answer"))))))

    pairs = _let(F.split(_canon("text"), " "), lambda w: F.when(
        F.size(w) <= MAX_TOKENS, _let(_completion_of(w), parse)))
    # explode_once, not a bare explode: the inferred size>0/isnotnull
    # Generate pre-filter would re-evaluate the whole split→completion→
    # double-regex chain a second time per row (the when() wrapper defeats
    # codegen CSE — see _let), halving the win the let-binding bought
    return (explode_once(docs, ["doc_id"], pairs, ["p"], pos=False)
            .select("doc_id", "p.pair_idx", "p.question", "p.answer"))


def qa_generate_sql() -> str:
    """DuckDB twin: same layout constants, same regexes."""
    span = SPAN_WORDS
    parts = []
    for i in range(1, N_PAIRS + 1):
        q0, a0 = (2 * i - 2) * span + 1, (2 * i - 1) * span + 1
        line = (f"'{Q_MARK} {i}: Hvad siges om ' || "
                f"array_to_string(ws[{q0}:{q0 + span - 1}], ' ') || '?' || chr(10) || "
                f"'{A_MARK} {i}: ' || "
                f"array_to_string(ws[{a0}:{a0 + span - 1}], ' ') || '.'")
        parts.append(f"CASE WHEN len(ws) >= {a0} THEN {line} END")
    comp = f"concat_ws(chr(10), {', '.join(parts)})"
    return f"""
        WITH w AS (SELECT doc_id,
                          string_split({_canon_sql("text")}, ' ') AS ws
                   FROM documents),
        c AS (SELECT doc_id, {comp} AS comp
              FROM w WHERE len(ws) <= {MAX_TOKENS}),
        p AS (SELECT doc_id,
                     regexp_extract_all(comp, '{Q_MARK} \\d+: (.+)', 1) AS qs,
                     regexp_extract_all(comp, '{A_MARK} \\d+: (.+)', 1) AS ans
              FROM c)
        SELECT doc_id,
               CAST(generate_subscripts(qs, 1) - 1 AS BIGINT) AS pair_idx,
               unnest(qs) AS question,
               ans[generate_subscripts(qs, 1)] AS answer
        FROM p
        WHERE len(qs) > 0 AND len(qs) = len(ans)
    """


# ---------------------------------------------------------------------------
# relevance scoring (assign_relevance.py) — emit-then-parse round trip
# ---------------------------------------------------------------------------

def relevance_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, t_idx, score): each document's question (its first
    ``SPAN_WORDS`` words) scored against its next ``N_PASSAGES`` documents by
    id.  The deterministic model: score = floor(10·|q∩p|/|q|)/10 over
    DISTINCT tokens — built as the reference's actual wire format
    ('Tekststykke n: 0.x' response text) and regex-parsed back
    (assign_relevance.py:68), so the protocol round-trip is what the
    oracle hashes.  Pairing is an offset-explode EQUI-join — |docs|·n
    rows, never a cross join."""
    qtok = F.array_distinct(F.slice(F.split(_canon("text"), " "), 1, SPAN_WORDS))
    q = docs.select(F.col("doc_id").alias("qid"), qtok.alias("qtok"))
    p = docs.select(F.col("doc_id").alias("pid"),
                    F.array_distinct(F.split(_canon("text"), " ")).alias("ptok"))
    pairs = (q
             .select("qid", "qtok",
                     F.explode(F.sequence(F.lit(1), F.lit(N_PASSAGES))).alias("off"))
             .join(p, F.col("qid") + F.col("off") == F.col("pid"))
             .withColumn("k", F.floor(F.lit(10) * F.size(F.array_intersect("qtok", "ptok"))
                                      / F.size("qtok")).cast("int")))
    # the wire format: one response per question, one line per passage
    line = F.concat(F.lit(f"{T_MARK} "), F.col("off").cast("string"), F.lit(": "),
                    F.when(F.col("k") >= 10, F.lit("1.0"))
                    .otherwise(F.concat(F.lit("0."), F.col("k").cast("string"))))
    by_off = F.array_sort(F.collect_list(F.struct(F.col("off"), line.alias("ln"))))
    resp = (pairs.groupBy("qid")
            .agg(F.array_join(F.transform(by_off, lambda s: s["ln"]),
                              "\n").alias("response")))
    ts = F.regexp_extract_all("response", F.lit(T_MARK + r" (\d+): \d(?:\.\d+)?"), 1)
    ss = F.regexp_extract_all("response", F.lit(T_MARK + r" \d+: (\d(?:\.\d+)?)"), 1)
    staged = resp.select(F.col("qid").alias("doc_id"), ts.alias("ts"), ss.alias("ss"))
    # explode_once: a bare posexplode's inferred pre-filter re-runs the
    # regexp_extract_all over the response a second time per row
    return (explode_once(staged, ["doc_id", "ss"], "ts", ["i", "t"], pos=True)
            .select(F.col("doc_id"),
                    F.col("t").cast("int").alias("t_idx"),
                    F.element_at("ss", F.col("i") + 1).cast("double").alias("score")))


def rephrase(docs: DataFrame) -> DataFrame:
    """(doc_id, question, rephrased): the reword_questions protocol —
    strip both ends of the input (the reference's ^\\s+ / \\s+$ subs),
    synthesize the "more general" rewording deterministically (keep the
    first ``REPHRASE_KEEP`` words as the topic, frame them as a generic search
    query), store the raw response alongside the input.  Pure JVM; the
    model-backed path is complete_prompts with an api completer."""
    q = _canon("text")
    topic = F.array_join(F.slice(F.split(q, " "), 1, REPHRASE_KEEP), " ")
    return (docs
            .filter(F.length(q) > 0)
            .select(F.col("doc_id"), q.alias("question"),
                    F.concat(F.lit("Hvad ved man om "), topic,
                             F.lit("?")).alias("rephrased")))


def rephrase_sql() -> str:
    c = _canon_sql("text")
    return f"""
        WITH q AS (SELECT doc_id, {c} AS question,
                          string_split({c}, ' ') AS ws
                   FROM documents)
        SELECT doc_id, question,
               'Hvad ved man om ' || array_to_string(ws[1:{REPHRASE_KEEP}], ' ') || '?'
                   AS rephrased
        FROM q WHERE len(question) > 0
    """


def mcq_divide(docs: DataFrame) -> DataFrame:
    """(doc_id, sub_idx, subquestion): the divide_mcq protocol.  The stem
    is the text before the first answer-option marker (' a)'); the
    deterministic completion emits ``Spørgsmål i: <stem words>?`` lines;
    parsing is the REFERENCE's split protocol — split on newlines, then
    per line ``split(': ')[1]`` (divide_mcq.py:34-35): the segment
    between the first and second ``': '``, truncating a subquestion that
    itself contains ``': '`` exactly like the reference does.  The word
    array is let-bound (one split per row) and the parse feeds a single
    explode, which drops the empty arrays the old size-filter caught."""
    span = MCQ_SPAN

    def complete(ws: Column) -> Column:
        lines = []
        for i in range(1, MCQ_N_SUB + 1):
            s0 = (i - 1) * span + 1
            sub = F.array_join(F.slice(ws, s0, span), " ")
            lines.append(F.when(
                (F.size(ws) >= s0) & (F.element_at(ws, s0) != ""),
                F.concat(F.lit(f"{Q_MARK} {i}: Hvad betyder "), sub,
                         F.lit("?"))))
        return F.concat_ws("\n", *lines)

    stem = _canon(F.split(F.col("text"), r" a\)").getItem(0))
    # reference parse: split('\n'); per line split(': ')[1]
    parsed = _let(F.split(stem, " "), lambda w: F.filter(
        F.transform(F.split(complete(w), "\n"),
                    lambda ln: F.try_element_at(F.split(ln, ": "), F.lit(2))),
        lambda s: F.length(s) > 0))
    # explode_once: the inferred Generate pre-filter would re-run the
    # split→complete→parse chain a second time per row (see qa_generate)
    return explode_once(docs, ["doc_id"], parsed,
                        ["sub_idx", "subquestion"], pos=True)


def mcq_divide_sql() -> str:
    span = MCQ_SPAN
    stem = _canon_sql("string_split_regex(text, ' a\\)')[1]")
    parts = []
    for i in range(1, MCQ_N_SUB + 1):
        s0 = (i - 1) * span + 1
        parts.append(
            f"CASE WHEN len(ws) >= {s0} AND ws[{s0}] != '' THEN "
            f"'{Q_MARK} {i}: Hvad betyder ' || "
            f"array_to_string(ws[{s0}:{s0 + span - 1}], ' ') || '?' END")
    comp = f"concat_ws(chr(10), {', '.join(parts)})"
    return f"""
        WITH w AS (SELECT doc_id, string_split({stem}, ' ') AS ws
                   FROM documents),
        c AS (SELECT doc_id, {comp} AS comp FROM w),
        p AS (SELECT doc_id,
                     list_filter(
                         list_transform(string_split(comp, chr(10)),
                                        ln -> string_split(ln, ': ')[2]),
                         s -> len(s) > 0) AS subs
              FROM c)
        SELECT doc_id,
               CAST(generate_subscripts(subs, 1) - 1 AS BIGINT) AS sub_idx,
               unnest(subs) AS subquestion
        FROM p WHERE len(subs) > 0
    """


def index_rerank(docs: DataFrame) -> DataFrame:
    """(doc_id, rank, t_idx, score): the process_subquestions protocol —
    score candidates (relevance_scores), have the "model" answer with the
    reference's ``Indeks i, Indeks j, …`` wire format for the ``RERANK_TOP``
    most relevant, parse every integer back out
    (process_subquestions.py:60 ``\\b(\\d+)\\b``), and join the parsed
    indices back to the candidate rows to recover their scores.  The
    rank window shuffles on doc_id only; the join-back is an equi-join on
    (doc_id, t_idx) — candidates are bounded by |docs|·N_PASSAGES.

    ``scored`` is persisted: it has two consumers (the rank branch and
    the parse join-back), and unpinned, the corpus-sized relevance
    scoring would be derived once per branch (same staging rationale as
    mcq_answer_pipeline's staged candidate table)."""
    scored = pin(relevance_scores(docs))
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("t_idx"))
    ranked = scored.withColumn("rk", F.row_number().over(w))
    resp = (ranked.filter(F.col("rk") <= RERANK_TOP)
            .groupBy("doc_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "t_idx"))),
                    lambda s: F.concat(F.lit("Indeks "),
                                       s["t_idx"].cast("string"))),
                ", ").alias("response")))
    idxs = F.regexp_extract_all("response", F.lit(r"\b(\d+)\b"), 1)
    parsed = (explode_once(resp, ["doc_id"], idxs, ["i", "t"], pos=True)
              .select(F.col("doc_id"), (F.col("i") + 1).alias("rank"),
                      F.col("t").cast("int").alias("t_idx")))
    return (parsed
            .join(scored, ["doc_id", "t_idx"])
            .select("doc_id", "rank", "t_idx", "score"))


def index_rerank_sql() -> str:
    scores = relevance_scores_sql()
    return f"""
        WITH scored AS ({scores}),
        ranked AS (SELECT *, row_number() OVER
                       (PARTITION BY doc_id ORDER BY score DESC, t_idx) AS rk
                   FROM scored),
        resp AS (SELECT doc_id,
                        string_agg('Indeks ' || t_idx, ', ' ORDER BY rk) AS response
                 FROM ranked WHERE rk <= {RERANK_TOP} GROUP BY doc_id),
        parsed AS (SELECT doc_id,
                          generate_subscripts(regexp_extract_all(response, '\\b(\\d+)\\b', 1), 1)
                              AS rank,
                          CAST(unnest(regexp_extract_all(response, '\\b(\\d+)\\b', 1)) AS INT)
                              AS t_idx
                   FROM resp)
        SELECT p.doc_id, CAST(p.rank AS BIGINT) AS rank, p.t_idx, s.score
        FROM parsed p JOIN scored s
          ON p.doc_id = s.doc_id AND p.t_idx = s.t_idx
    """


def mcq_answer_pipeline(docs: DataFrame, n_mcq: int = 10, k_per_sub: int = 5,
                        token_budget: int = 120) -> DataFrame:
    """The mcq_search.py deployment pipeline composed end-to-end
    (process_mcq, mcq_search.py:112-145):

    1. divide each MCQ into subquestions             (divide_mcq → mcq_divide)
    2. dense-retrieve top-k corpus docs PER subquestion — hash-embed the
       subquestions and the corpus with the M2 embedder, broadcast the
       tiny query block, window top-k per subquestion
       (relevant_qa_pairs / qa_search.py exact-cosine shape)
    3. union the candidate sets across subquestions per MCQ, keeping the
       best score per candidate (find_relevant_qa_pairs's
       ``relevant_indices.update`` — Q7 set semantics)
    4. greedy prompt-budget trim: candidates ordered by score, kept
       while the running token total stays within budget — the
       create_gpt4_prompt while-pop loop as a window prefix-sum, not a
       driver loop (mcq_search.py:124-131)
    5. emit the reference's answer wire format
       (``Svar: [x]`` … ``Indeks på relevante par: [i, j, …]``) and
       regex-parse it back (get_relevant_indices_from_response,
       mcq_search.py:75), joining the parsed indices back to the kept
       pairs.

    Returns (mcq_id, pair_idx, cand_id, score, answer).  Scale shape:
    the only |corpus|-sized stage is the broadcast-join scoring scan
    (|subs| is n_mcq·3, so the candidate set is bounded by |subs|·k);
    everything downstream shuffles on mcq_id only.

    The trimmed candidate table — tiny, bounded by |mcqs|·budget — is
    staged with an eager localCheckpoint before its two consumers (the
    response emit and the parse join-back).  Without the pin the static
    plan re-derives the corpus-sized scoring scan per consumer branch;
    the pin is the one-write staging the retrieval pipeline uses for its
    ranked corpus.  On a real cluster the same seam is a stage-table
    write (io.TableIO).
    """
    from .embed import embed_texts
    from .simsearch import _cos

    mcqs = docs.filter(F.col("doc_id") < n_mcq)
    subs = (mcq_divide(mcqs)
            .select((F.col("doc_id") * 10 + F.col("sub_idx")).alias("sid"),
                    F.col("doc_id").alias("mcq_id"), "subquestion"))
    qemb = (embed_texts(subs, text_col="subquestion", id_col="sid")
            .join(subs.select("sid", "mcq_id"), "sid"))
    # the retrieval corpus is DISJOINT from the MCQ set (mcq_search.py
    # retrieves from the QA corpus, never from other exam questions) —
    # filtering only a candidate's own mcq_id would let MCQ i surface as
    # evidence for MCQ j whenever they share topic words
    cemb = embed_texts(docs.filter(F.col("doc_id") >= n_mcq))

    scored = (cemb
              .crossJoin(F.broadcast(
                  qemb.select("sid", "mcq_id", F.col("embedding").alias("qv"))))
              .select("sid", "mcq_id", F.col("doc_id").alias("cand_id"),
                      # _cos, not a bare /: ANSI Spark throws DIVIDE_BY_ZERO
                      # on the zero-norm embedding a token-less doc produces
                      _cos("embedding", "qv").alias("score")))
    per_sub = W.partitionBy("sid").orderBy(F.desc("score"), F.asc("cand_id"))
    topk = (scored.withColumn("rk", F.row_number().over(per_sub))
            .filter(F.col("rk") <= k_per_sub))

    # Q7 union across subquestions: one row per (mcq, candidate), best score
    cands = (topk.groupBy("mcq_id", "cand_id")
             .agg(F.max("score").alias("score")))

    # token-budget trim: running token total over score-ordered candidates
    toks = docs.select(F.col("doc_id").alias("cand_id"),
                       F.size(F.split(_canon("text"), " ")).alias("n_tok"))
    per_mcq = W.partitionBy("mcq_id").orderBy(F.desc("score"), F.asc("cand_id"))
    kept = (cands.join(toks, "cand_id")
            .withColumn("cum_tok", F.sum("n_tok").over(
                per_mcq.rowsBetween(W.unboundedPreceding, W.currentRow)))
            .filter(F.col("cum_tok") <= token_budget)
            .withColumn("pair_idx", F.row_number().over(per_mcq)))
    kept = kept.localCheckpoint(eager=True)

    # the answer wire format, then the reference's regex parse
    letter = F.element_at(F.split(F.lit("a,b,c,d"), ","),
                          (F.count("*").over(W.partitionBy("mcq_id")) % 4 + 1)
                          .cast("int"))
    resp = (kept.withColumn("ans", letter)
            .groupBy("mcq_id")
            .agg(F.concat(
                F.lit("Svar: ["), F.first("ans"), F.lit("]\n\n"),
                F.lit("Forklaring: baseret på de fundne par.\n\n"),
                F.lit("Indeks på relevante par: ["),
                F.array_join(F.transform(
                    F.array_sort(F.collect_list(F.struct("pair_idx"))),
                    lambda s: s["pair_idx"].cast("string")), ", "),
                F.lit("]")).alias("response")))
    idx_blob = F.regexp_extract(
        "response", r"Indeks på relevante par: ?\[?([0-9,\s]+)\]?", 1)
    ans = F.regexp_extract("response", r"Svar: \[?([a-d])\]?", 1)
    staged = resp.select("mcq_id", ans.alias("answer"), "response")
    parsed = (explode_once(staged, ["mcq_id", "answer"],
                           F.split(idx_blob, r",\s*"), ["pi"], pos=False)
              .select("mcq_id", "answer", F.col("pi").cast("int").alias("pair_idx")))
    return (parsed
            .join(kept.select("mcq_id", "pair_idx", "cand_id", "score"),
                  ["mcq_id", "pair_idx"])
            .select("mcq_id", "pair_idx", "cand_id", "score", "answer"))


def relevance_scores_sql() -> str:
    return f"""
        WITH q AS (SELECT doc_id AS qid,
                          list_distinct(string_split({_canon_sql("text")}, ' ')[1:{SPAN_WORDS}]) AS qtok
                   FROM documents),
        p AS (SELECT doc_id AS pid,
                     list_distinct(string_split({_canon_sql("text")}, ' ')) AS ptok
              FROM documents),
        pairs AS (SELECT q.qid, o.off, p.ptok, q.qtok,
                         CAST(floor(10.0 * len(list_intersect(q.qtok, p.ptok))
                                    / len(q.qtok)) AS INT) AS k
                  FROM q
                  CROSS JOIN (SELECT unnest(range(1, {N_PASSAGES + 1})) AS off) o
                  JOIN p ON q.qid + o.off = p.pid),
        resp AS (SELECT qid,
                        string_agg('{T_MARK} ' || off || ': ' ||
                                   CASE WHEN k >= 10 THEN '1.0' ELSE '0.' || k END,
                                   chr(10) ORDER BY off) AS response
                 FROM pairs GROUP BY qid),
        parsed AS (SELECT qid,
                          regexp_extract_all(response, '{T_MARK} (\\d+): \\d(?:\\.\\d+)?', 1) AS ts,
                          regexp_extract_all(response, '{T_MARK} \\d+: (\\d(?:\\.\\d+)?)', 1) AS ss
                   FROM resp)
        SELECT qid AS doc_id,
               CAST(unnest(ts) AS INT) AS t_idx,
               CAST(ss[generate_subscripts(ts, 1)] AS DOUBLE) AS score
        FROM parsed
    """
