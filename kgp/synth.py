"""Deterministic synthetic transcript corpus (FIXTURES.md).

Everything is a pure function of ``seed`` — numpy PCG64 streams keyed by
(seed, conv_id), no wall clock, no Python hash() (PYTHONHASHSEED-salted).
Conversations are generated independently, which is what lets the Spark
variant fan the generation out over ``spark.range(n_conv)`` with zero
shuffle: each executor materializes its own conversations.

Shapes mirror the reference corpus (SURVEY.md §1.1): a conversation stands
in for one document file (file ≙ conv, line index ≙ turn_idx,
reference src/features/embed_paragraphs.py:20-23), the entity vocabulary
stands in for the Aktør table + alias map
(notebooks/entity_alias_mapping.ipynb cell-3, cell-29), and head-entity
skew follows the rolleid skew observed in rdf_graph.ipynb cell-18.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .textops import PRED_CUES, DEFAULT_PAIR_PRED

SEED = 42
EPOCH = pd.Timestamp("2024-01-01 00:00:00")

FIRST_NAMES = [
    "Anna", "Søren", "Mette", "Lars", "Kirsten", "Niels", "Åse", "Henrik",
    "Birgitte", "Jørgen", "Eva", "Per", "Lone", "Ole", "Karen", "Erik",
    "Bodil", "Frederik", "Ingrid", "Mads", "Signe", "Thomas", "Ulla", "Viggo",
    "Astrid", "Bent", "Clara", "Dorte", "Emil", "Freja", "Gustav", "Helle",
]
LAST_NAMES = [
    "Jensen", "Nielsen", "Hansen", "Pedersen", "Andersen", "Christensen",
    "Larsen", "Sørensen", "Rasmussen", "Jørgensen", "Petersen", "Madsen",
    "Kristensen", "Olsen", "Thomsen", "Poulsen", "Johansen", "Møller",
    "Mortensen", "Knudsen", "Jakobsen", "Schmidt", "Holm", "Lund",
]
CITIES = [
    "København", "Aarhus", "Odense", "Aalborg", "Esbjerg", "Randers",
    "Kolding", "Horsens", "Vejle", "Roskilde", "Herning", "Silkeborg",
]
INST_KINDS = ["Ministeriet", "Styrelsen", "Instituttet", "Universitetet", "Kommunen", "Direktoratet"]
DOMAINS = ["Skat", "Miljø", "Transport", "Uddannelse", "Sundhed", "Energi", "Kultur", "Erhverv"]

TOOLS = ["search", "calculator", "browser", "code_exec", "db_query", "file_read", "translator", "planner"]

# Sentence templates. {A}/{B} are entity surface slots, {n} is a varying
# number that keeps cross-conversation exact-duplicate turns rare.
PAIR_TEMPLATES = [("{A} " + cue + " {B}.", pred) for pred, cue in PRED_CUES] + [
    ("{A} and {B} discussed item {n}.", DEFAULT_PAIR_PRED),
    ("According to the minutes, {A} together with {B} reviewed case {n}.", DEFAULT_PAIR_PRED),
]
MENTION_TEMPLATES = [
    "We talked to {A} about case {n}.",
    "{A} sent the report number {n}.",
    "The committee heard {A} on item {n}.",
    "Please forward document {n} to {A}.",
]
FILLER_TEMPLATES = [
    "Status update on case {n}.",
    "Can you check filing {n}?",
    "The deadline for item {n} was moved.",
    "Minutes of meeting {n} are attached.",
]
BOILERPLATE_TEMPLATES = [
    "Med venlig hilsen kundeservice, sag nummer {n}.",
    "Dette er en automatisk kvittering for henvendelse {n}.",
    "Tak for din besked, vi vender tilbage hurtigst muligt, ref {n}.",
]

ZIPF_ALPHA = 1.1


def _rng(seed: int, *keys: int) -> np.random.Generator:
    mix = np.uint64(seed)
    for k in keys:
        mix = np.uint64(mix * np.uint64(1000003) + np.uint64(k) + np.uint64(0x9E3779B9))
    return np.random.default_rng(int(mix))


def _typo(word: str, rng: np.random.Generator) -> str:
    if len(word) < 4:
        return word + "e"
    i = 1 + int(rng.integers(0, len(word) - 2))
    return word[:i] + word[i + 1 :]


# ---------------------------------------------------------------------------
# entity_vocab
# ---------------------------------------------------------------------------

def gen_entity_vocab(n_ent: int, seed: int = SEED) -> pd.DataFrame:
    """(entity_id, canonical_name, entity_type, aliases array<string>).

    ~53% person / 47% institution (reference split 9,352/8,307,
    entity_alias_mapping.ipynb cell-34..36); ~2% exact same-named pairs
    (cell-29 same_named_ids) and ~1% one-typo near-named pairs that the
    fuzzy >=85 linking (cell-20) must merge.
    """
    from .textops import strip_diacritics

    rows = []
    prev_name: dict[str, str] = {}
    for eid in range(n_ent):
        rng = _rng(seed, 1, eid)
        etype = "person" if rng.random() < 0.53 else "institution"
        if etype == "person":
            name = f"{FIRST_NAMES[int(rng.integers(len(FIRST_NAMES)))]} {LAST_NAMES[int(rng.integers(len(LAST_NAMES)))]}"
        else:
            name = (
                f"{CITIES[int(rng.integers(len(CITIES)))]} "
                f"{INST_KINDS[int(rng.integers(len(INST_KINDS)))]} for "
                f"{DOMAINS[int(rng.integers(len(DOMAINS)))]}"
            )
        r = rng.random()
        if eid > 0 and r < 0.02 and prev_name.get(etype):
            name = prev_name[etype]          # same-named distinct entity
        elif eid > 0 and r < 0.03 and prev_name.get(etype):
            toks = prev_name[etype].split()  # near-named (one-char typo)
            j = int(rng.integers(len(toks)))
            toks[j] = _typo(toks[j], rng)
            name = " ".join(toks)
        prev_name[etype] = name

        aliases = []
        n_alias = int(rng.integers(0, 4))
        toks = name.split()
        cand = []
        if etype == "person" and len(toks) >= 2:
            cand.append(toks[0][0] + " " + " ".join(toks[1:]))  # initials form
        stripped = strip_diacritics(name)
        if stripped != name:
            cand.append(stripped)
        j = int(rng.integers(len(toks)))
        t2 = list(toks)
        t2[j] = _typo(t2[j], rng)
        cand.append(" ".join(t2))
        for c in cand[:n_alias]:
            if c != name and c not in aliases:
                aliases.append(c)
        rows.append((eid, name, etype, aliases))
    return pd.DataFrame(rows, columns=["entity_id", "canonical_name", "entity_type", "aliases"]).astype(
        {"entity_id": "int64"}
    )


# extend_alias_chains' shape: share of entities given a typo chain, the
# longest chain, and the length of the one equality-bridged run
ALIAS_CHAIN_P, ALIAS_CHAIN_DEPTH, BRIDGE_RUN = 0.25, 3, 25


def extend_alias_chains(vocab: pd.DataFrame, seed: int = SEED) -> pd.DataFrame:
    """Deterministically deepen the alias structure (round-5 fixture ask).

    Two additions, both pure functions of ``seed``:

    - **typo chains**: for ~``ALIAS_CHAIN_P`` of entities, append
      ``alias_1 = typo(canonical)``, ``alias_{k+1} = typo(alias_k)`` up to
      ``ALIAS_CHAIN_DEPTH`` links — longer per-entity alias lists, so the
      gazetteer scan, the resolve join, and the surface-equality pass all
      see deeper alias fans (reference alias map:
      entity_alias_mapping.ipynb cell-29);
    - **equality bridges**: entities ``bridge_start+1 ..
      bridge_start+BRIDGE_RUN-1`` (``bridge_start`` drawn from ``seed``)
      each append the PREVIOUS entity's canonical name as an alias, so the
      norm-equality linking pass chains them into one ``BRIDGE_RUN``-node
      component — the CC twin then exercises a >20-node component inside
      the driver gate instead of only the 2-3-node merges the base
      generator emits.
    """
    n = len(vocab)
    bridge_run = BRIDGE_RUN
    bridge_start = int(_rng(seed, 7).integers(0, max(1, n - bridge_run)))
    names = list(vocab["canonical_name"])
    out_aliases = []
    for eid, (name, aliases) in enumerate(zip(names, vocab["aliases"])):
        rng = _rng(seed, 7, eid + 1)
        al = list(aliases)
        if rng.random() < ALIAS_CHAIN_P:
            depth = 1 + int(rng.integers(ALIAS_CHAIN_DEPTH))
            cur = name
            for _ in range(depth):
                toks = cur.split()
                j = int(rng.integers(len(toks)))
                t2 = list(toks)
                t2[j] = _typo(t2[j], rng)
                cur = " ".join(t2)
                if cur != name and cur not in al:
                    al.append(cur)
        if bridge_start < eid < bridge_start + bridge_run and names[eid - 1] != name \
                and names[eid - 1] not in al:
            al.append(names[eid - 1])
        out_aliases.append(al)
    return vocab.assign(aliases=out_aliases)


def vocab_surface_rows(vocab: pd.DataFrame) -> list[tuple[str, int, str]]:
    """Flatten vocab to (surface, entity_id, entity_type) rows."""
    out = []
    for eid, name, etype, aliases in vocab[["entity_id", "canonical_name", "entity_type", "aliases"]].itertuples(index=False):
        out.append((name, int(eid), etype))
        for a in aliases:
            out.append((a, int(eid), etype))
    return out


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------

def _zipf_probs(n_ent: int) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, n_ent + 1, dtype=np.float64), ZIPF_ALPHA)
    return p / p.sum()


def gen_conversation(k: int, surfaces_by_ent: list[list[str]], probs: np.ndarray,
                     seed: int = SEED) -> list[dict]:
    """All turns of conversation k — pure function of (seed, k)."""
    rng = _rng(seed, 2, k)
    n_ent = len(surfaces_by_ent)
    conv_id = f"conv{k:08d}"
    n_turns = 2 + (k * 7919) % 14
    conv_epoch = EPOCH + pd.Timedelta(minutes=k)
    turns = []

    def pick_surface() -> str:
        eid = int(rng.choice(n_ent, p=probs))
        forms = surfaces_by_ent[eid]
        return forms[int(rng.integers(len(forms)))]

    for t in range(n_turns):
        role = "user" if t % 2 == 0 else "assistant"
        tool = None
        r = rng.random()
        if role == "assistant" and r < 0.25:
            role = "tool"
            tool = TOOLS[int(rng.integers(len(TOOLS)))]

        kind = rng.random()
        if kind < 0.01:
            text = "   "  # empty-after-trim (dropped by S1)
        elif kind < 0.03:
            tmpl = BOILERPLATE_TEMPLATES[int(rng.integers(len(BOILERPLATE_TEMPLATES)))]
            text = tmpl.format(n=int(rng.integers(0, 50)))
        else:
            n_sent = 2 + int(rng.integers(0, 5))
            sents = []
            for _ in range(n_sent):
                u = rng.random()
                n = int(rng.integers(0, 100000))
                if u < 0.35:
                    tmpl, _pred = PAIR_TEMPLATES[int(rng.integers(len(PAIR_TEMPLATES)))]
                    sents.append(tmpl.format(A=pick_surface(), B=pick_surface(), n=n))
                elif u < 0.70:
                    tmpl = MENTION_TEMPLATES[int(rng.integers(len(MENTION_TEMPLATES)))]
                    sents.append(tmpl.format(A=pick_surface(), n=n))
                else:
                    sents.append(FILLER_TEMPLATES[int(rng.integers(len(FILLER_TEMPLATES)))].format(n=n))
            text = " ".join(sents)

        turns.append(
            dict(conv_id=conv_id, turn_idx=t, role=role, text=text, tool=tool,
                 ts=conv_epoch + pd.Timedelta(seconds=30 * t))
        )

    # ~1% of conversations repeat an earlier turn's text verbatim (exact-dup
    # case, reference remove_duplicate_paragraphs.py:81-99) as an extra turn.
    if rng.random() < 0.01 and n_turns >= 2:
        src = turns[int(rng.integers(len(turns)))]
        turns.append(
            dict(conv_id=conv_id, turn_idx=n_turns, role="assistant", text=src["text"], tool=None,
                 ts=conv_epoch + pd.Timedelta(seconds=30 * n_turns))
        )
    return turns


def surfaces_by_entity(vocab: pd.DataFrame) -> list[list[str]]:
    return [
        [name] + list(aliases)
        for name, aliases in vocab[["canonical_name", "aliases"]].itertuples(index=False)
    ]


def gen_transcripts_pandas(n_conv: int, vocab: pd.DataFrame, seed: int = SEED) -> pd.DataFrame:
    """Small-scale generator (oracle / pytest fixtures). Rows globally shuffled
    (seeded) so the window-over-conv_id sort is load-bearing."""
    sbe = surfaces_by_entity(vocab)
    probs = _zipf_probs(len(sbe))
    rows = []
    for k in range(n_conv):
        rows.extend(gen_conversation(k, sbe, probs, seed))
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = pd.to_datetime(df["ts"])
    shuf = _rng(seed, 3).permutation(len(df))
    return df.iloc[shuf].reset_index(drop=True)


def gen_transcripts_spark(spark, n_conv: int, vocab: pd.DataFrame, seed: int = SEED):
    """Distributed generator: one task generates a contiguous conv range —
    embarrassingly parallel, no shuffle, scales to any n_conv."""
    from pyspark.sql import functions as F

    sbe = surfaces_by_entity(vocab)
    probs = _zipf_probs(len(sbe))
    sc = spark.sparkContext
    b_sbe = sc.broadcast(sbe)
    b_probs = sc.broadcast(probs)

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    def gen(batches):
        for pdf in batches:
            rows = []
            for k in pdf["id"].tolist():
                rows.extend(gen_conversation(int(k), b_sbe.value, b_probs.value, seed))
            if rows:
                out = pd.DataFrame(rows)
            else:
                out = pd.DataFrame(columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
            out["turn_idx"] = out["turn_idx"].astype("int32")
            yield out

    parts = max(spark.sparkContext.defaultParallelism, 1)
    df = spark.range(0, n_conv, numPartitions=parts).mapInPandas(gen, schema=schema)
    # Seeded shuffle of the written order (turn order must be reconstructed
    # by S1, not inherited from generation order).
    return df.repartition(parts, F.crc32(F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"))))
