"""Single-threaded pandas reference oracle.

Implements the exact pipeline semantics (S1..S5, SURVEY.md §7.0) on small
fixtures, mirroring the reference's behavior (ordering ≙ in-file paragraph
order; extraction ≙ per-sentence NER lines extract_entities.py:42-50;
linking ≙ fuzzy grouping + same-name grouping entity_alias_mapping.ipynb
cell-20/cell-29; graph ≙ rdf_graph.ipynb cell-10..29).  The Spark pipeline
must reproduce these outputs — per-turn text equality and triple P/R >= 0.95
(BASELINE.json) are asserted against THIS module by the pytest suite.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

from . import linkspec, textops
from .textops import GazetteerMatcher, MIN_DUP_GROUP


# ---------------------------------------------------------------------------
# S1 — stable turn ordering + dedup
# ---------------------------------------------------------------------------

def order_turns(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Sort (conv_id, turn_idx, ts); drop empty-after-trim; drop within-conv
    exact duplicate texts (keep lowest turn_idx); drop near-dup boilerplate
    (dup_key shared by >= MIN_DUP_GROUP turns corpus-wide)."""
    df = transcripts.copy()
    df = df[df["conv_id"].notna() & df["turn_idx"].notna()]  # D4: ledger'd, not kept
    # strip SPACES only: the Spark twin uses F.trim (ASCII space, not the
    # Unicode-whitespace set Python's bare .strip() removes) — a tab-only
    # turn must be kept or dropped identically by both engines
    df = df[df["text"].fillna("").str.strip(" ").str.len() > 0]
    # role/tool complete the survivor key (mirrors order_turns' window):
    # pandas na_position='last' == Spark asc_nulls_last
    df = df.sort_values(["conv_id", "turn_idx", "ts", "role", "tool"],
                        kind="mergesort", na_position="last").reset_index(drop=True)
    df = df.drop_duplicates(subset=["conv_id", "text"], keep="first").reset_index(drop=True)

    keys = df["text"].map(textops.dup_key)
    key_counts = Counter(keys)
    keep = keys.map(lambda k: key_counts[k] < MIN_DUP_GROUP)
    return df[keep].reset_index(drop=True)


# ---------------------------------------------------------------------------
# S2 — mention detection + raw triple extraction
# ---------------------------------------------------------------------------

def extract(ordered: pd.DataFrame, matcher: GazetteerMatcher):
    mention_rows, triple_rows = [], []
    for conv_id, turn_idx, text, tool, ts in ordered[["conv_id", "turn_idx", "text", "tool", "ts"]].itertuples(index=False):
        # tool sanitized EXACTLY like pipeline/extract.py: pandas float NaN
        # is truthy, and an unguarded `if tool:` would emit a spurious
        # 'tool:nan' triple the Spark twin never produces
        tool = tool if isinstance(tool, str) and tool else None
        m, t = textops.extract_turn(conv_id, int(turn_idx), text, tool, matcher)
        mention_rows.extend(m)
        # ts rides along per EMITTING row (schemas.EXTRACTED semantics) —
        # a (conv_id, turn_idx) join-back would fan out when two ordered
        # rows share a turn_idx with different text
        triple_rows.extend((*row, ts) for row in t)
    mentions = pd.DataFrame(mention_rows, columns=["conv_id", "turn_idx", "sent_idx", "mention", "entity_type"])
    raw_triples = pd.DataFrame(triple_rows, columns=["conv_id", "turn_idx", "subj", "pred", "obj", "ts"])
    for df in (mentions, raw_triples):
        df["turn_idx"] = df["turn_idx"].astype("int32")
    mentions["sent_idx"] = mentions["sent_idx"].astype("int32")
    return mentions, raw_triples


# ---------------------------------------------------------------------------
# S3+S4 — linking (blocked candidates + fuzzy verify) and canonicalization
# ---------------------------------------------------------------------------

class _UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic: smaller id becomes the root
            self.parent[max(ra, rb)] = min(ra, rb)


def link_entities(vocab: pd.DataFrame) -> pd.DataFrame:
    """entity_map(surface, entity_id, canonical_id) — fixpoint of blocked
    candidate generation + fuzzy verify + connected components."""
    from .synth import vocab_surface_rows

    surface_rows = vocab_surface_rows(vocab)  # (surface, entity_id, entity_type)

    # candidate edges between entity ids: (a) any-surface normalized equality
    by_norm: dict[str, list[int]] = {}
    for surface, eid, _ in surface_rows:
        norm = textops.normalize_surface(surface)
        if norm:  # empty norms (punctuation-only aliases) must NOT link
            by_norm.setdefault(norm, []).append(eid)

    # (b)+(c) shared blocking key on canonical names, fuzzy-verified
    by_block: dict[str, list[tuple[int, str]]] = {}
    for eid, name in vocab[["entity_id", "canonical_name"]].itertuples(index=False):
        for key in linkspec.blocking_keys(name):
            by_block.setdefault(key, []).append((int(eid), name))

    uf = _UnionFind()
    for eid in vocab["entity_id"]:
        uf.find(int(eid))
    for ids in by_norm.values():
        for other in ids[1:]:
            uf.union(ids[0], other)
    for group in by_block.values():
        if len(group) < 2 or linkspec.block_is_capped(len(group)):
            continue
        for i in range(len(group)):
            for j in range(i + 1, len(group)):
                (ia, na), (ib, nb) = group[i], group[j]
                if ia != ib and linkspec.verify_pair(na, nb):
                    uf.union(ia, ib)

    rows = []
    for surface, eid, _ in surface_rows:
        rows.append((surface, eid, uf.find(eid)))
    em = pd.DataFrame(rows, columns=["surface", "entity_id", "canonical_id"]).astype(
        {"entity_id": "int64", "canonical_id": "int64"}
    )
    # a surface shared by several entities resolves to the (unique) component
    return em.sort_values(["surface", "entity_id"]).drop_duplicates(["surface", "entity_id"]).reset_index(drop=True)


def surface_map(entity_map: pd.DataFrame) -> pd.DataFrame:
    """surface -> canonical_id (unique per surface; equal-surface entities
    share a component by construction, so min() is a no-op tie-break)."""
    return (
        entity_map.groupby("surface", as_index=False)["canonical_id"].min()
        .astype({"canonical_id": "int64"})
    )


# ---------------------------------------------------------------------------
# S5 — graph materialization
# ---------------------------------------------------------------------------

def materialize(raw_triples: pd.DataFrame, entity_map: pd.DataFrame,
                vocab: pd.DataFrame):
    smap = dict(surface_map(entity_map).itertuples(index=False))

    def resolve(v: str) -> str | None:
        if v.startswith("srf:"):
            cid = smap.get(v[4:])
            return None if cid is None else f"ent:{cid}"
        return v

    t = raw_triples.copy()
    t["subj"] = t["subj"].map(resolve)
    t["obj"] = t["obj"].map(resolve)
    t = t.dropna(subset=["subj", "obj"]).reset_index(drop=True)
    triples = t[["subj", "pred", "obj", "conv_id", "turn_idx"]]

    # nodes: one per canonical component
    canon = entity_map[["entity_id", "canonical_id"]].drop_duplicates()
    vroot = vocab.merge(canon, on="entity_id")
    nodes = (
        vroot[vroot["entity_id"] == vroot["canonical_id"]][
            ["canonical_id", "canonical_name", "entity_type"]
        ]
        .rename(columns={"canonical_name": "name"})
        .sort_values("canonical_id")
        .reset_index(drop=True)
    )

    # edges: entity->entity triples with the EMITTING row's timestamp
    # (carried through extract; the former (conv_id, turn_idx) merge
    # duplicated edges whenever two ordered rows shared a turn_idx)
    ee = t[t["subj"].str.startswith("ent:") & t["obj"].str.startswith("ent:")].copy()
    ee["src"] = ee["subj"].str[4:].astype("int64")
    ee["dst"] = ee["obj"].str[4:].astype("int64")
    edges = ee[["src", "dst", "pred", "conv_id", "ts"]].reset_index(drop=True)
    return triples, nodes, edges


# ---------------------------------------------------------------------------
# full pipeline
# ---------------------------------------------------------------------------

def run_pipeline(transcripts: pd.DataFrame, vocab: pd.DataFrame) -> dict[str, pd.DataFrame]:
    from .synth import vocab_surface_rows

    matcher = GazetteerMatcher(vocab_surface_rows(vocab))
    ordered = order_turns(transcripts)
    mentions, raw_triples = extract(ordered, matcher)
    entity_map = link_entities(vocab)
    triples, nodes, edges = materialize(raw_triples, entity_map, vocab)
    return dict(
        ordered=ordered,
        mentions=mentions,
        raw_triples=raw_triples,
        entity_map=entity_map,
        surface_map=surface_map(entity_map),
        triples=triples,
        nodes=nodes,
        edges=edges,
    )
