"""Entity-linking specification shared by the Spark stage and the oracle.

Defines, as pure functions, exactly which candidate pairs are generated
(blocking) and which survive verification (token_set_ratio >= 85, the
reference's fuzzy-grouping threshold, entity_alias_mapping.ipynb
cell-20..21).  Because BOTH engines call these functions, the resulting
link graph — and therefore the connected components and canonical ids —
are identical by construction; the pytest suite asserts it.

Blocking = ONE key family: the token deletion-neighborhood (`d:`) keys,
df-capped.  SymSpell argument: two tokens within edit distance 1
(insert/delete/substitute) always share a del-0/del-1 key — and the del-0
key IS the token itself, so `d:` subsumes the shared-token family (a
former separate `t:` family duplicated every del-0 pair verbatim), while
exact-normalized-name pairs are linked linearly by the caller's
same-norm equality edges (a former `x:` family re-generated those k(k-1)/2
pairs quadratically and uncapped).  This realizes the north rule's
"blocked candidate generation over normalized surface forms"; at cluster
scale the family is a groupBy-explode, no O(n²) pass.
"""

from __future__ import annotations

from .fuzzy import FUZZY_LINK_THRESHOLD, token_set_ratio_ge
from .textops import normalize_surface

# Frequency cap: a `d:` block with more members is dropped entirely (both
# engines apply the identical cap, so the candidate sets stay equal by
# construction).  Rarity, not token length, is what makes a block cheap
# (subset names always verify: token_set_ratio('ibm', 'ibm corp') = 100;
# typos like 'eva jensen'/'eva jnsen' score ~95): a rare key is a handful
# of candidates, a popular one ("jensen") is O(df²) verify work that AQE
# can't save — pairs in a capped block either share a rarer key too or
# are the popular-cluster junk the cap exists to drop.
MAX_BLOCK_DF = 64

MIN_DELETION_TOKEN_LEN = 3  # deleting from 1-2 char tokens over-merges


def token_deletions(tok: str) -> set[str]:
    """del-0 ∪ del-1 neighborhood of a token.  Two tokens within edit
    distance 1 (insert/delete/substitute) always share a member."""
    outs = {tok}
    if len(tok) >= MIN_DELETION_TOKEN_LEN:
        outs.update(tok[:i] + tok[i + 1:] for i in range(len(tok)))
    return outs


def blocking_keys(name: str) -> list[str]:
    """All blocking keys for one (already canonical-cased) entity name:
    `d:` token deletion-neighborhood keys (df-capped by the caller;
    Spark: groupBy(bkey) count + anti-join; oracle: block_is_capped).
    The del-0 member of each neighborhood is the token itself, so shared
    tokens and edit-distance-1 typos both land in a common block.

    A name whose normalized form is EMPTY (punctuation-only aliases like
    '...' or '?!') gets NO keys: all such names normalize equal, so one
    shared key would form a single uncapped block whose every pair also
    auto-verifies (norm == norm) — a spurious mega-merge of unrelated
    entities (the same guard lives in the callers' same-norm edges).
    """
    norm = normalize_surface(name)
    if not norm:
        return []
    toks = sorted(set(norm.split()))
    dels = sorted({d for tok in toks for d in token_deletions(tok)})
    return [f"d:{d}" for d in dels]


def block_is_capped(size: int) -> bool:
    """Shared corpus-wide frequency-cap rule."""
    return size > MAX_BLOCK_DF


def verify_pair(name_a: str, name_b: str) -> bool:
    """Candidate pair survives iff fuzzy score clears the reference
    threshold (token_set_ratio_ge short-circuits with difflib's
    quick-ratio upper bounds — exactly equivalent, ~3× cheaper on the
    ~97% of candidates that fail)."""
    na, nb = normalize_surface(name_a), normalize_surface(name_b)
    if na == nb:
        return True
    return token_set_ratio_ge(na, nb, FUZZY_LINK_THRESHOLD)
