"""S3/S4 — document fetch + HTML/PDF text extraction.

Reference analogs:
- S3 HTTP fetch + HTML text extraction (src/data/get_files.py:19-21,45-68:
  ``requests.get(url)`` → ``BeautifulSoup(...).get_text()`` with retry and
  a ``bad_files[id] = status_code`` failure ledger, get_files.py:86-102).
- S4 PDF text extraction (src/data/get_files.py:23-35: PyPDF2 page loop
  concatenating ``extractText()`` per page).
- Boilerplate strip + blank-run collapse (get_files.py:37-42).

Spark-first split of those behaviors:

* The network transport is NOT portable to this offline environment, so
  ``fetch_documents`` takes a pluggable ``transport`` callable and ships
  with deterministic offline schemes (``file://``, ``synth://``); real
  ``http(s)://`` raises ``NotImplementedError`` exactly like the
  multimodal codec stub.  Everything around the transport is real:
  iterator ``mapInPandas`` batching, bounded retry with backoff
  (entity_alias_mapping.ipynb cell-29 ``@retry(tries=5, delay=2,
  backoff=2)``), and per-row status/error columns that feed the D4
  errors ledger instead of failing the job.
* Text EXTRACTION is pure string surgery, so it runs as JVM
  ``regexp_replace``/``split`` chains (whole-stage codegen, no Python)
  with an exactly-equivalent DuckDB twin — the S3/S4 semantics get a
  hash-gated oracle even though the wire protocol is stubbed.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .common import canon_col, retry_call

# ---------------------------------------------------------------------------
# extraction (JVM expressions + DuckDB twins)
# ---------------------------------------------------------------------------

# get_files.py:37-42 strips a fixed converter-ad boilerplate line; the
# synthetic payloads carry the same marker
_BOILERPLATE = r"PDF to HTML[^<\n]*"


def html_text(payload: Column | str) -> Column:
    """BeautifulSoup ``get_text()`` analog as a codegen'd regexp chain:
    drop script/style subtrees, strip tags, decode the common entities,
    strip the converter boilerplate, collapse whitespace."""
    c = F.col(payload) if isinstance(payload, str) else payload
    # two separate subtree patterns: the oracle twin runs on RE2 (DuckDB),
    # which has no backreferences, so <(script|style)>...</\1> is out
    c = F.regexp_replace(c, r"(?s)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?s)<style[^>]*>.*?</style>", " ")
    # boilerplate BEFORE tag-strip: the next '<' bounds the match, so the
    # wildcard can never eat document text past the boilerplate line
    c = F.regexp_replace(c, _BOILERPLATE, " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&nbsp;", " ")):
        c = F.regexp_replace(c, ent, ch)
    # canon_col, not an inline \s+ collapse: the cross-engine whitespace
    # class is single-sourced in ops.common (canon_col ↔ canon_sql) so an
    # edit there cannot skip the S3/S4 chain and reopen Spark↔DuckDB drift
    return canon_col(c)


def pdf_text(payload: Column | str) -> Column:
    """PyPDF2 page loop analog: pages arrive form-feed-separated
    (the offline stand-in for a page-addressable container); per-page
    trim, drop blanks, newline-join — get_files.py:23-35."""
    c = F.col(payload) if isinstance(payload, str) else payload
    pages = F.transform(F.split(c, "\f"), lambda p: canon_col(p))
    return F.array_join(F.filter(pages, lambda p: p != F.lit("")), "\n")


def extract_text(df: DataFrame) -> DataFrame:
    """Adds ``text_out``: ``kind``-dispatched extraction (html | pdf) of
    ``payload``."""
    return df.withColumn(
        "text_out",
        F.when(F.col("kind") == "html", html_text("payload"))
        .when(F.col("kind") == "pdf", pdf_text("payload"))
        .otherwise(F.lit(None)))


def synth_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic fetched-document stand-ins built FROM the documents
    table (no external data): even ids become HTML pages (with title,
    markup, boilerplate footer), odd ids become 2-page PDFs (text split
    at the midpoint word).  Mirrored exactly by synth_payloads-part of
    fetch_extract_sql, so the whole S3/S4 chain is oracle-checkable."""
    did, txt = F.col("doc_id"), F.col("text")
    html = F.concat(
        F.lit("<html><head><title>doc "), did.cast("string"),
        F.lit("</title><style>p{margin:0}</style></head><body><h1>Doc "),
        did.cast("string"), F.lit("</h1><p>"), txt,
        F.lit("</p><div>PDF to HTML conversion made easy</div></body></html>"))
    ws = F.split(txt, " ")
    # explicit floor: DuckDB's CAST(float AS INT) rounds, Spark's truncates
    half = F.floor(F.size(ws) / 2).cast("int")
    pdf = F.concat(
        F.array_join(F.slice(ws, F.lit(1), half), " "),
        F.lit("\fpage 2\f"),
        F.array_join(F.slice(ws, half + 1, F.size(ws)), " "))
    return docs.select(
        did.alias("doc_id"),
        F.when(did % 2 == 0, F.lit("html")).otherwise(F.lit("pdf")).alias("kind"),
        F.when(did % 2 == 0, html).otherwise(pdf).alias("payload"))


def fetch_extract(docs: DataFrame) -> DataFrame:
    """The S3/S4 registry entry: synthesize payloads, extract text back.
    (doc_id, kind, text_out) — fully JVM, one documents scan."""
    return extract_text(synth_payloads(docs)).select("doc_id", "kind", "text_out")


def fetch_extract_sql() -> str:
    """DuckDB twin of ``fetch_extract`` — same payload synthesis, same
    extraction regex chain.  The final whitespace collapse is the shared
    ``canon_sql`` form (single-sourced with the Spark side's canon_col)."""
    from .common import canon_sql

    html_inner = """regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(
                                 regexp_replace(
                                   regexp_replace(
                                     regexp_replace(payload, '<script[^>]*>.*?</script>', ' ', 'gs'),
                                     '<style[^>]*>.*?</style>', ' ', 'gs'),
                                   'PDF to HTML[^<\\n]*', ' ', 'g'),
                                 '<[^>]*>', ' ', 'g'),
                               '&amp;', '&', 'g'),
                             '&lt;', '<', 'g'),
                           '&gt;', '>', 'g'),
                         '&nbsp;', ' ', 'g')"""
    return f"""
        WITH p AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'html' ELSE 'pdf' END AS kind,
                 CASE WHEN doc_id % 2 = 0 THEN
                   '<html><head><title>doc ' || doc_id ||
                   '</title><style>p{{margin:0}}</style></head><body><h1>Doc ' ||
                   doc_id || '</h1><p>' || text ||
                   '</p><div>PDF to HTML conversion made easy</div></body></html>'
                 -- NULL text guard FIRST: Spark's concat propagates NULL
                 -- into a NULL payload, while the coalesce below would
                 -- otherwise fabricate a 'page 2' payload from nothing
                 WHEN text IS NULL THEN NULL
                 ELSE
                   -- coalesce: DuckDB's array_to_string([]) is NULL (Spark's
                   -- array_join is ''), and NULL would poison the whole payload
                   coalesce(array_to_string(ws[1:half], ' '), '') || chr(12) ||
                   'page 2' || chr(12) ||
                   coalesce(array_to_string(ws[half+1:len(ws)], ' '), '')
                 END AS payload
          FROM (SELECT doc_id, text, string_split(text, ' ') AS ws,
                       CAST(FLOOR(len(string_split(text, ' ')) / 2.0) AS INT) AS half
                FROM documents)),
        e AS (
          SELECT doc_id, kind,
                 CASE WHEN kind = 'html' THEN
                   {canon_sql(html_inner)}
                 ELSE
                   array_to_string(
                     list_filter(
                       list_transform(string_split(payload, chr(12)),
                                      pg -> {canon_sql('pg')}),
                       pg -> pg <> ''),
                     chr(10))
                 END AS text_out
          FROM p)
        SELECT doc_id, kind, text_out FROM e
    """


# Both chains decode &nbsp; -> ' ' (entity order matters and matches:
# &amp; first, so '&amp;nbsp;' becomes '&nbsp;' then ' ' in both engines).


# ---------------------------------------------------------------------------
# fetch (pluggable transport, retry, D4 ledger)
# ---------------------------------------------------------------------------

def default_transport(url: str) -> bytes:
    """Offline transports: ``file://path`` reads a local file,
    ``synth://anything`` returns deterministic bytes derived from the url
    (the test double for a remote store).  Real HTTP is a documented stub
    — this container has no network, same policy as multimodal codecs."""
    if url.startswith("file://"):
        with open(url[len("file://"):], "rb") as f:
            return f.read()
    if url.startswith("synth://"):
        from ..textops import _fnv1a

        h = _fnv1a(url)
        return (f"synthetic payload {h % 100000} for {url[len('synth://'):]}"
                ).encode()
    if url.startswith(("http://", "https://")):
        raise NotImplementedError(
            "network transport not available in this environment; inject a "
            "transport callable (requests.get shape, get_files.py:19-21)")
    raise ValueError(f"unsupported url scheme: {url}")


def fetch_documents(df: DataFrame,
                    transport: Callable[[str], bytes] | None = None,
                    max_tries: int = 3, backoff_s: float = 0.0) -> DataFrame:
    """(doc_id, url, status, payload, error): fetch every url through the
    transport with bounded exponential-backoff retry; failures become
    ``status='error'`` rows (the D4 ledger shape, get_files.py:86-102)
    instead of task failures, so one dead url never kills a 10^9-row
    fetch stage.  Iterator mapInPandas: the transport binds once per
    worker (connection-pool analog), rows stream through in Arrow
    batches."""
    fn = transport or default_transport
    out_schema = "doc_id long, url string, status string, payload binary, error string"

    def backoff(_exc: Exception, attempt: int) -> float:
        return backoff_s * (2 ** attempt) if backoff_s else 0.0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, url in zip(pdf["doc_id"], pdf["url"]):
                # NULL keys are an admitted input class (nullable schemas):
                # a None/NaN id must become a NULL-id ledger row, not an
                # int() TypeError that kills the task — the exact failure
                # the per-row ledger contract rules out.  A NULL url fails
                # inside retry_call (AttributeError) and ledgers itself.
                payload, err = retry_call(lambda u=url: fn(u), max_tries, backoff)
                rows.append((None if pd.isna(rid) else int(rid), url,
                             "ok" if err is None else "error", payload, err))
            yield pd.DataFrame(rows, columns=["doc_id", "url", "status",
                                              "payload", "error"])

    return df.select("doc_id", "url").mapInPandas(run, schema=out_schema)
