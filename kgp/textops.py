"""Pure text-processing core shared by the Spark pipeline and the pandas oracle.

Everything here is a deterministic pure function of its inputs — no wall
clock, no network, no global mutable state (besides an idempotent matcher
cache). The Spark stages call these inside Arrow-batched pandas UDFs; the
oracle calls them row-by-row; parity between the two is therefore by
construction and any divergence is a bug the test suite catches.

Reference semantics mirrored here (see SURVEY.md §2.3, §2.9):
- sentence segmentation per turn    (reference src/data/extract_entities.py:34)
- per-sentence mention detection    (reference src/data/extract_entities.py:38-44,
  flair NER replaced by a deterministic closed-gazetteer matcher so that
  precision/recall vs the oracle is measurable)
- surface-form normalization        (reference notebooks/entity_alias_mapping.ipynb
  cell-13 paren/diacritic cleanup)
- cue-phrase relation extraction    (stand-in for the role-typed edge
  predicates of notebooks/rdf_graph.ipynb cell-14..cell-23)
- minhash/shingle signatures for near-duplicate removal
  (reference src/data/remove_duplicate_paragraphs.py:104-132)
"""

from __future__ import annotations

import re
import unicodedata
from typing import NamedTuple

# ---------------------------------------------------------------------------
# Sentence segmentation (T1)
# ---------------------------------------------------------------------------

# ASCII whitespace class, not \s: the DuckDB twins ([\s\v]) must split the
# same places; Python \s would additionally split on NBSP etc.
_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])[ \t\n\r\f\v]+")
_ASCII_WS = " \t\n\r\f\v"


def split_sentences(text: str) -> list[str]:
    """Split a turn's text into sentences on terminal punctuation.

    Mirrors the reference's regex split variant
    (src/data/extract_paragraphs_faster.py:31  re.split('[?.]', ...)) but
    keeps the terminator so surface offsets stay meaningful.
    """
    if not text:
        return []
    return [s for s in _SENT_SPLIT_RE.split(text.strip(_ASCII_WS)) if s.strip(_ASCII_WS)]


# ---------------------------------------------------------------------------
# Normalization (P6/P7/P10 analogs)
# ---------------------------------------------------------------------------

# the whitespace set ALL THREE engines agree on: Java \s == this class;
# RE2 (DuckDB) spells it [\s\v]; Python \s additionally matches Unicode
# whitespace, so cross-engine-twinned ops must use this explicit class
_WS_ASCII_RE = re.compile(r"[ \t\n\r\f\v]+")
# ASCII chars str.split() treats as whitespace but the 6-char class does
# not (and neither do the JVM/DuckDB twins): the C0 separator controls
_NONSTD_WS = ("\x1c", "\x1d", "\x1e", "\x1f")
_EDGE_PUNCT = ".,!?;:()\"'«»`´’"


def _split_fast_path_ok(t: str) -> bool:
    """True when plain str.split() equals the 6-char-class split for t:
    pure ASCII containing none of the extra separators str.split() breaks
    on.  The ONE definition of the cross-engine fast-path invariant —
    scalar and batch splitters must share it or they drift apart."""
    if not t.isascii():
        return False
    for c in _NONSTD_WS:
        if c in t:
            return False
    return True


def ascii_split(s: str) -> list[str]:
    """Non-empty tokens split on the 6-char ASCII whitespace class (== the
    JVM twin's Java \\s and the DuckDB twins' [\\s\\v]).  Fast path: for
    ASCII text without \\x1c-\\x1f, plain str.split() produces the identical
    token list at C speed — the regex only runs on the rare rest (property
    test asserts equivalence on adversarial inputs)."""
    if _split_fast_path_ok(s):
        return s.split()
    return [t for t in _WS_ASCII_RE.split(s) if t]


def ascii_split_batch(texts):
    """Vectorized ``ascii_split`` over a pandas Series: rows that are pure
    ASCII without C0 separators take the C-speed ``.str.split()`` path,
    the rest fall back to the scalar — batch == scalar on every input.

    Input contract: an all-str Series with no NaN (both call sites pass
    fillna('')/astype(str)-normalized batches); re-normalizing here would
    copy every hot Arrow batch a second time for no behavioral change."""
    import numpy as np
    import pandas as pd

    s = texts
    mask = np.fromiter(
        (_split_fast_path_ok(t) for t in s), dtype=bool, count=len(s))
    out = pd.Series(np.empty(len(s), dtype=object), index=s.index)
    if mask.any():
        out[mask] = s[mask].str.split()
    if not mask.all():
        out[~mask] = s[~mask].map(ascii_split)
    return out


# Nordic letters don't decompose to ASCII under NFKD; map explicitly.
_NORDIC_MAP = {"æ": "ae", "ø": "o", "å": "a", "Æ": "Ae", "Ø": "O", "Å": "A", "ß": "ss"}


def strip_diacritics(s: str) -> str:
    out = []
    for ch in unicodedata.normalize("NFKD", s):
        if unicodedata.combining(ch):
            continue
        out.append(_NORDIC_MAP.get(ch, ch))
    return "".join(out)


NORM_STRIP_CHARS = _EDGE_PUNCT + " \t\n\r"


def normalize_surface(s: str) -> str:
    """Canonical lowercase/diacritic-free/space-collapsed form of a surface.

    Collapse uses the 6-char ASCII class (not Python \\s): the JVM/DuckDB
    twins (Java \\s / [\\s\\v]) treat the C0 separators \\x1c-\\x1f as
    ordinary characters, so Python must too or simhash/linking drift on
    such inputs.  strip_diacritics has already NFKD-mapped most Unicode
    spaces to ' ' before the collapse runs."""
    s = strip_diacritics(s).lower()
    s = _WS_ASCII_RE.sub(" ", s)
    return s.strip(NORM_STRIP_CHARS)


def normalize_surface_batch(texts):
    """Vectorized ``normalize_surface`` over a pandas Series.

    ASCII rows (the overwhelming majority of any large corpus batch) take
    the pandas ``.str`` fast path — ``strip_diacritics`` is the identity
    on ASCII, so lower → collapse → strip is the whole function; the rare
    non-ASCII rows fall back to the scalar, so batch == scalar on every
    input (property-tested in tests/test_textops.py).
    """
    import numpy as np
    import pandas as pd

    s = texts.fillna("").astype(str)
    mask = np.fromiter((t.isascii() for t in s), dtype=bool, count=len(s))
    out = pd.Series(np.empty(len(s), dtype=object), index=s.index)
    if mask.any():
        a = s[mask]
        out[mask] = (a.str.lower()
                     .str.replace(r"[ \t\n\r\f\v]+", " ", regex=True)
                     .str.strip(NORM_STRIP_CHARS))
    if not mask.all():
        out[~mask] = s[~mask].map(normalize_surface)
    return out


def clean_token(tok: str) -> str:
    """Strip sentence punctuation from token edges (vocab surfaces carry none)."""
    return tok.strip(_EDGE_PUNCT)


# ---------------------------------------------------------------------------
# Gazetteer mention matcher (M1 stand-in)
# ---------------------------------------------------------------------------

MAX_SURFACE_TOKENS = 5


class Mention(NamedTuple):
    # NamedTuple, not dataclass: the matcher allocates one per hit in the
    # corpus-wide hot loop; NamedTuple construction is a C-level tuple
    surface: str          # the vocab surface form that matched (verbatim)
    tok_start: int        # token index in the sentence (inclusive)
    tok_end: int          # token index (exclusive)
    entity_type: str      # type of the lowest-id candidate entity


class GazetteerMatcher:
    """Leftmost-longest exact n-gram matcher over a closed surface vocabulary.

    Deterministic stand-in for the reference's flair/HF NER
    (src/data/extract_entities.py:29-50): tokenizes the sentence, slides
    1..MAX_SURFACE_TOKENS grams left-to-right, prefers the longest match at
    each position, and never emits overlapping mentions.  O(tokens * 5) dict
    lookups per sentence — scales linearly, no per-entity regex alternation,
    and serializes cheaply for broadcast to executors.
    """

    def __init__(self, surface_rows: list[tuple[str, int, str]]):
        """surface_rows: (surface, entity_id, entity_type) — from entity_vocab."""
        index: dict[str, tuple[int, str]] = {}
        max_toks = 1
        for surface, eid, etype in sorted(surface_rows, key=lambda r: (r[0], r[1])):
            ntoks = len(surface.split())
            if ntoks == 0 or ntoks > MAX_SURFACE_TOKENS:
                continue
            max_toks = max(max_toks, ntoks)
            cur = index.get(surface)
            if cur is None or eid < cur[0]:
                index[surface] = (eid, etype)
        self._index = index
        self._max_toks = max_toks

    def find(self, sentence: str) -> list[Mention]:
        # ASCII split (DuckDB-twin parity: the SQL twins split on
        # [\s\v], which never matches Unicode whitespace)
        raw = ascii_split(sentence)
        toks = [clean_token(t) for t in raw]
        n = len(toks)
        out: list[Mention] = []
        i = 0
        while i < n:
            hit = None
            for size in range(min(self._max_toks, n - i), 0, -1):
                gram = " ".join(toks[i : i + size])
                ent = self._index.get(gram)
                if ent is not None:
                    hit = (gram, size, ent)
                    break
            if hit is not None:
                gram, size, (eid, etype) = hit
                out.append(Mention(gram, i, i + size, etype))
                i += size
            else:
                i += 1
        return out


# ---------------------------------------------------------------------------
# Cue-phrase relation detection (rolle-dict predicate analog)
# ---------------------------------------------------------------------------

# (pred, cue phrase) — cue phrases are all-lowercase multi-token literals.
# Analog of the role-typed predicates built from the rolle dimension tables
# (reference notebooks/rdf_graph.ipynb cell-14: rolle.replace(" ", "_")).
PRED_CUES: list[tuple[str, str]] = [
    ("asks_about", "asks about"),
    ("refers_to", "refers to"),
    ("works_with", "works with"),
    ("reports_to", "reports to"),
    ("meets_with", "meets with"),
    ("criticizes", "criticizes"),
]
DEFAULT_PAIR_PRED = "co_occurs_with"
MENTION_PRED = "mentions"
TOOL_PRED = "uses_tool"

_CUE_TOKS = [(pred, tuple(cue.split())) for pred, cue in PRED_CUES]


def find_cues(sentence: str,
              cue_toks: list[tuple[str, tuple[str, ...]]] | None = None
              ) -> list[tuple[str, int, int]]:
    """Return (pred, tok_start, tok_end) for each cue occurrence.

    ``cue_toks`` overrides the default predicate-cue dictionary (same shape
    as _CUE_TOKS) — the documents-corpus oracle entry (ops.docextract) runs
    the extractor with corpus-specific cues; the transcript pipeline always
    uses the default."""
    cues = _CUE_TOKS if cue_toks is None else cue_toks
    toks = [clean_token(t).lower() for t in ascii_split(sentence)]
    n = len(toks)
    hits: list[tuple[str, int, int]] = []
    for i in range(n):
        for pred, cue in cues:
            k = len(cue)
            if i + k <= n and tuple(toks[i : i + k]) == cue:
                hits.append((pred, i, i + k))
    hits.sort(key=lambda h: (h[1], h[2]))
    return hits


def extract_sentence(sentence: str, matcher: GazetteerMatcher,
                     cue_toks: list[tuple[str, tuple[str, ...]]] | None = None):
    """Extract (mentions, pair_triples) from one sentence.

    Pair rule (deterministic): for each consecutive mention pair (a, b) in
    token order, the predicate is the first cue lying strictly between the
    two spans, else the default ``co_occurs_with``.
    """
    mentions = matcher.find(sentence)
    pairs: list[tuple[str, str, str]] = []
    if len(mentions) >= 2:
        cues = find_cues(sentence, cue_toks)
        for a, b in zip(mentions, mentions[1:]):
            pred = DEFAULT_PAIR_PRED
            for cpred, cs, ce in cues:
                if a.tok_end <= cs and ce <= b.tok_start:
                    pred = cpred
                    break
            pairs.append((a.surface, pred, b.surface))
    return mentions, pairs


# ---------------------------------------------------------------------------
# Turn-level extraction — the single unit of work both engines share
# ---------------------------------------------------------------------------

def extract_turn(conv_id: str, turn_idx: int, text: str, tool: str | None,
                 matcher: GazetteerMatcher,
                 cue_toks: list[tuple[str, tuple[str, ...]]] | None = None):
    """Extract (mention_rows, raw_triple_rows) for one turn.

    mention_rows:    (conv_id, turn_idx, sent_idx, mention, entity_type)
    raw_triple_rows: (conv_id, turn_idx, subj, pred, obj) where subj/obj are
                     either ``conv:<id>`` / ``tool:<name>`` literals or
                     *surface forms* (prefixed ``srf:``) awaiting linking.
    """
    mention_rows = []
    triple_rows = []
    if tool:
        triple_rows.append((conv_id, turn_idx, f"conv:{conv_id}", TOOL_PRED, f"tool:{tool}"))
    for sent_idx, sent in enumerate(split_sentences(text)):
        mentions, pairs = extract_sentence(sent, matcher, cue_toks)
        for m in mentions:
            mention_rows.append((conv_id, turn_idx, sent_idx, m.surface, m.entity_type))
            triple_rows.append((conv_id, turn_idx, f"conv:{conv_id}", MENTION_PRED, f"srf:{m.surface}"))
        for subj, pred, obj in pairs:
            triple_rows.append((conv_id, turn_idx, f"srf:{subj}", pred, f"srf:{obj}"))
    return mention_rows, triple_rows


# ---------------------------------------------------------------------------
# Word-bigram shingles / minhash signatures (D2 near-dup)
# ---------------------------------------------------------------------------

# Fixed affine hash parameters (seeded, content-independent) — deterministic
# across processes/executors, unlike Python's salted hash().  The hash
# family is multiply-shift over Z_2^64 (h_i(x) = a_i*x + b_i mod 2^64,
# a_i odd): numpy uint64 arithmetic wraps at exactly 2^64, so the scalar
# and the batch-vectorized signature paths are bit-identical — the reason
# this replaced a Mersenne-prime modular family (whose 122-bit
# intermediates don't fit uint64 and forced per-shingle Python loops).
_MINHASH_A: list[int] = []
_MINHASH_B: list[int] = []
_state = 88172645463325252
for _ in range(64):
    # xorshift64 — deterministic pseudo-random parameter stream
    _state ^= (_state << 13) & 0xFFFFFFFFFFFFFFFF
    _state ^= _state >> 7
    _state ^= (_state << 17) & 0xFFFFFFFFFFFFFFFF
    _MINHASH_A.append(_state | 1)  # odd multiplier
    _state ^= (_state << 13) & 0xFFFFFFFFFFFFFFFF
    _state ^= _state >> 7
    _state ^= (_state << 17) & 0xFFFFFFFFFFFFFFFF
    _MINHASH_B.append(_state)

# minhash LSH shape: signature length and band count, read by the scalar
# oracle below, ops.dedup.minhash_near_dup_pairs and its DuckDB twin
MINHASH_NUM_HASHES, MINHASH_BANDS = 32, 8


def _fnv1a(data: str) -> int:
    h = 0xCBF29CE484222325
    for byte in data.encode("utf-8"):
        h ^= byte
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def word_bigram_shingles(s: str) -> set[int]:
    """Hashed distinct word-bigram shingles (document-level near-dup unit;
    same shingling as ops.dedup.ngram_jaccard_pairs_sqlable).

    Collapse-then-strip over the ASCII whitespace class [ \\t\\n\\r\\f\\v]
    — exactly Java's \\s (the Spark twin) and the [\\s\\v] class the DuckDB
    twins use; a bare Python .strip()/\\s would also eat Unicode whitespace
    (NBSP etc.) that the other two engines treat as ordinary characters."""
    w = ascii_split((s or "").lower())
    if len(w) < 2:
        return {_fnv1a(w[0])} if w else set()
    return {_fnv1a(f"{a} {b}") for a, b in zip(w, w[1:])}


def minhash_signature(shingles: set[int] | list[int]) -> tuple[int, ...]:
    import numpy as np

    if not shingles:
        return tuple([0] * MINHASH_NUM_HASHES)
    x = np.fromiter(shingles, dtype=np.uint64)
    a = np.array(_MINHASH_A[:MINHASH_NUM_HASHES], dtype=np.uint64)
    b = np.array(_MINHASH_B[:MINHASH_NUM_HASHES], dtype=np.uint64)
    # uint64 multiply/add wrap at 2^64 — exactly the hash family definition
    sig = (x[:, None] * a[None, :] + b[None, :]).min(axis=0)
    return tuple(int(v) for v in sig)


def minhash_band_keys(s: str) -> list[str]:
    """LSH band keys of ``s``'s word-bigram shingles: the signature split
    into ``MINHASH_BANDS`` groups of rows.

    Two documents sharing any band key are near-dup candidates.  This is
    the scalar oracle of ops.dedup.minhash_near_dup_pairs, which bands
    with the same hash family and constants.
    """
    sig = minhash_signature(word_bigram_shingles(s))
    rows = MINHASH_NUM_HASHES // MINHASH_BANDS
    return [f"{bi}:" + ",".join(str(x) for x in sig[bi * rows : (bi + 1) * rows])
            for bi in range(MINHASH_BANDS)]


# Near-duplicate boilerplate removal spec (D2): a turn is boilerplate if
# >= MIN_DUP_GROUP turns (itself included) share its dup_key — the
# normalized text with digit runs masked.  Mirrors "drop if >=5 neighbors
# within angular threshold" (reference
# src/data/remove_duplicate_paragraphs.py:117-128) with a deterministic,
# single-groupBy-scalable similarity key instead of a per-row ANN lookup
# (the reference's boilerplate examples differ only in numbers/refs, which
# the mask collapses exactly).
MIN_DUP_GROUP = 6

_DIGITS_RE = re.compile(r"[0-9]+")  # ASCII, like the JVM/DuckDB twins' [0-9]
                                    # (Python \d would also mask Unicode digits)


def dup_key(text: str) -> str:
    """Near-duplicate grouping key: lowercase, whitespace-collapsed,
    digit runs masked.

    Deliberately NOT diacritic-stripped: boilerplate instances of one
    template share their diacritics, so stripping buys no extra grouping
    while costing a per-char NFKD pass.  This scalar is the oracle; its
    JVM twin is ``ops.common.dup_key_col`` (S1 and ops.dedup's masked
    groups), equality pinned by tests/test_dup_key_col.py.
    """
    s = _WS_ASCII_RE.sub(" ", (text or "").lower()).strip(" ")
    return _DIGITS_RE.sub("#", s)


# ---------------------------------------------------------------------------
# T2 — short-sentence merge + long-sentence split
# (reference src/data/extract_paragraphs_faster.py:75-105: concatenate
# sentences shorter than 30 chars forward, then split >500-char runs at
# fixed width)
# ---------------------------------------------------------------------------

def merge_split_sentences(text: str, min_chars: int = 30, max_chars: int = 500) -> list[str]:
    """Greedy forward merge of short sentences, then fixed-width split.

    Merge rule: a sentence joins the previous segment (space-separated)
    while that segment is still shorter than ``min_chars``; a trailing
    short segment stays its own segment (the reference's start==end break).
    Split rule: segments longer than ``max_chars`` are cut into exact
    ``max_chars`` slices (reference `each[:500]` loop).
    """
    segs: list[str] = []
    for s in split_sentences(text):
        if segs and len(segs[-1]) < min_chars:
            segs[-1] = segs[-1] + " " + s
        else:
            segs.append(s)
    out: list[str] = []
    for seg in segs:
        for i in range(0, len(seg), max_chars):
            out.append(seg[i:i + max_chars])
    return out


# ---------------------------------------------------------------------------
# T4 — token-length normalization
# (reference src/data/adjust_length_paragraphs.py:42-91: <=3 passes of
# [split >max at the max boundary | merge <min with next if combined fits],
# then truncate anything still >max.  BERT wordpiece counts are replaced by
# whitespace token counts — the same policy over our corpus's token stand-in)
# ---------------------------------------------------------------------------

def canon_ws(s: str) -> str:
    """Whitespace-canonical form: single spaces, no edge whitespace.

    ASCII class (== the JVM twin ops.common.canon_col's Java \\s and the
    DuckDB twins' [\\s\\v]): after canon, splitting on the single space
    char gives the SAME tokens on all three engines — a Python .split()
    here would also break on Unicode whitespace the others keep, silently
    shifting token counts (and the T7 error ledger) on such documents."""
    return " ".join(ascii_split(s or ""))


ADJUST_MAX_PASSES = 3


def adjust_paragraph_lengths(paragraphs: list[str], min_tokens: int = 40,
                             max_tokens: int = 80,
                             max_passes: int = ADJUST_MAX_PASSES) -> list[str]:
    paras = [c for c in (canon_ws(p) for p in paragraphs) if c]
    for _ in range(max_passes):
        out: list[str] = []
        i, n = 0, len(paras)
        while i < n:
            toks = paras[i].split(" ")
            if len(toks) > max_tokens:
                # split at the boundary; both pieces are finalized this pass
                out.append(" ".join(toks[:max_tokens]))
                out.append(" ".join(toks[max_tokens:]))
                i += 1
            elif len(toks) < min_tokens and i < n - 1:
                nxt = paras[i + 1].split(" ")
                if len(toks) + len(nxt) <= max_tokens:
                    out.append(" ".join(toks + nxt))
                    i += 2  # next paragraph consumed by the merge
                else:
                    out.append(paras[i])
                    i += 1
            else:
                out.append(paras[i])
                i += 1
        paras = out
        if all(min_tokens <= len(p.split(" ")) <= max_tokens for p in paras):
            break
    return [" ".join(p.split(" ")[:max_tokens]) for p in paras]


# ---------------------------------------------------------------------------
# T7 — greedy chunk packing to a token budget
# (reference src/deployment/extract_qa.py:22-54: pack paragraphs into
# <=max_tokens chunks; a single paragraph exceeding the budget aborts the
# whole document and lands in the failure ledger)
# ---------------------------------------------------------------------------

CHUNK_ERR_OVERSIZE = "paragraph_exceeds_max_tokens"


def pack_chunks(paragraphs: list[str], max_tokens: int = 200) -> tuple[list[str], str | None]:
    """(chunks, error): greedy packing; error != None -> zero chunks
    (mirrors the reference's bad-files bail + empty return)."""
    paras = [c for c in (canon_ws(p) for p in paragraphs) if c]
    if any(len(p.split(" ")) > max_tokens for p in paras):
        return [], CHUNK_ERR_OVERSIZE
    chunks: list[str] = []
    cur: list[str] = []
    cur_tok = 0
    for p in paras:
        t = len(p.split(" "))
        if cur_tok + t <= max_tokens:
            cur.append(p)
            cur_tok += t
        else:
            chunks.append(" ".join(cur))
            cur, cur_tok = [p], t
    if cur:
        chunks.append(" ".join(cur))
    return chunks, None


# ---------------------------------------------------------------------------
# T8 — context-window expansion around a hit
# (reference src/models/reranker_function.py:26-79: 300-token budget,
# 30% spent walking backward, the rest — plus unspent backward budget —
# walking forward; whole doc returned if it fits the budget)
# ---------------------------------------------------------------------------

def context_window(tok_counts: list[int], hit_idx: int, max_tokens: int = 120,
                   before_percent: float = 0.3) -> tuple[int, int]:
    """Reference-literal outward walk; returns (start, end) inclusive
    0-based indices.  The declarative window formulation in
    ops.textseg.context_windows must agree with THIS function on every
    input (property-tested): both stop at the first paragraph that does
    not fully fit the remaining budget, which for non-negative counts is
    the maximal consecutive run with cumulative tokens within budget.
    """
    n = len(tok_counts)
    if sum(tok_counts) <= max_tokens:
        return 0, n - 1
    remaining = max_tokens - tok_counts[hit_idx]
    before = int(remaining * before_percent)
    start = hit_idx
    while before > 0 and start > 0:
        t = tok_counts[start - 1]
        if before >= t:
            before -= t
            start -= 1
        else:
            break
    after = (remaining - int(remaining * before_percent)) + before
    end = hit_idx
    while after > 0 and end < n - 1:
        t = tok_counts[end + 1]
        if after >= t:
            after -= t
            end += 1
        else:
            break
    return start, end


# ---------------------------------------------------------------------------
# T5 — subword ("wordpiece"-style) tokenization
# (reference src/data/tokenize_paragraphs.py:14-31: BERT wordpieces joined
# by spaces.  Stand-in: a deterministic consonant/vowel-group splitter —
# regex-expressible, so the whole operator stays JVM-side in Spark and
# SQL-side in DuckDB; continuation pieces carry the '##' marker)
# ---------------------------------------------------------------------------

SUBWORD_RE = r"[^aeiouy]*[aeiouy]+|[^aeiouy]+"
_SUBWORD_C = re.compile(SUBWORD_RE)


def wordpiece_tokenize(text: str) -> str:
    pieces: list[str] = []
    for word in canon_ws((text or "").lower()).split(" "):
        if not word:
            continue
        subs = _SUBWORD_C.findall(word)
        for j, p in enumerate(subs):
            pieces.append(p if j == 0 else "##" + p)
    return " ".join(pieces)


# ---------------------------------------------------------------------------
# T9 — Q/A-pair parsing from generated text
# (reference src/data/create_QA_dataset.py:15-42: 'Spørgsmål N:'/'Svar N:'
# with a count-match fallback; English markers here)
# ---------------------------------------------------------------------------

_Q_RE = re.compile(r"Question \d+: (.+)")
_A_RE = re.compile(r"Answer \d+: (.+)")
_A_MARK_RE = re.compile(r"Answer \d+:")
_Q_FALLBACK_RE = re.compile(r"^(.+)\nAnswer \d+:", re.MULTILINE)


def parse_qa_pairs(text: str, expected_fallback_count: int = 5) -> list[tuple[str, str]]:
    """Three-case parse mirroring the reference:
    1. explicit markers with matching counts;
    2. unmarked questions recovered from the line above each answer when
       the answer count equals the expected batch size;
    3. anything else -> no pairs.
    """
    questions = _Q_RE.findall(text or "")
    answers = _A_RE.findall(text or "")
    if questions and len(questions) == len(answers):
        return list(zip(questions, answers))
    if len(_A_MARK_RE.findall(text or "")) == expected_fallback_count:
        questions = _Q_FALLBACK_RE.findall(text or "")
        if len(questions) == len(answers):
            return list(zip(questions, answers))
    return []


# ---------------------------------------------------------------------------
# Token counting / quality heuristics (T6 + training-data ops)
# ---------------------------------------------------------------------------

def count_tokens(text: str) -> int:
    """Whitespace token count (reference notebooks/count_tokens.ipynb cell-1)."""
    return len(text.split()) if text else 0
