"""Unit + property tests for the shared pure extraction core."""

import string

from hypothesis import given, settings, strategies as st

from kgp import textops
from kgp.fuzzy import token_set_ratio
from kgp.textops import GazetteerMatcher


def test_split_sentences_basic():
    assert textops.split_sentences("A b. C d? E f!") == ["A b.", "C d?", "E f!"]
    assert textops.split_sentences("") == []
    assert textops.split_sentences("no terminator") == ["no terminator"]


def test_normalize_surface():
    assert textops.normalize_surface("  Søren   JENSEN. ") == "soren jensen"
    assert textops.normalize_surface("Åse Ølgod") == "ase olgod"


def test_dup_key_masks_digits():
    a = textops.dup_key("Med venlig hilsen, sag nummer 8.")
    b = textops.dup_key("Med venlig hilsen, sag nummer 123.")
    assert a == b


def test_matcher_leftmost_longest():
    m = GazetteerMatcher([("Anna Jensen", 1, "person"), ("Anna", 2, "person"), ("Jensen", 3, "person")])
    hits = m.find("We saw Anna Jensen today.")
    assert [h.surface for h in hits] == ["Anna Jensen"]
    hits = m.find("Anna spoke, then Jensen.")
    assert [h.surface for h in hits] == ["Anna", "Jensen"]


def test_matcher_strips_edge_punct():
    m = GazetteerMatcher([("Anna Jensen", 1, "person")])
    assert [h.surface for h in m.find("Hello (Anna Jensen).")] == ["Anna Jensen"]


def test_matcher_no_overlap_and_ambiguity_min_id():
    m = GazetteerMatcher([("X Y", 5, "person"), ("X Y", 3, "institution")])
    hits = m.find("X Y arrived.")
    assert len(hits) == 1 and hits[0].entity_type == "institution"


def test_extract_sentence_cue_between_pair():
    m = GazetteerMatcher([("Anna", 1, "person"), ("Bo", 2, "person")])
    mentions, pairs = textops.extract_sentence("Anna asks about Bo.", m)
    assert pairs == [("Anna", "asks_about", "Bo")]
    mentions, pairs = textops.extract_sentence("Anna met Bo.", m)
    assert pairs == [("Anna", "co_occurs_with", "Bo")]


def test_extract_turn_tool_triple():
    m = GazetteerMatcher([("Anna", 1, "person")])
    _, triples = textops.extract_turn("c1", 0, "Anna is here.", "search", m)
    assert ("c1", 0, "conv:c1", "uses_tool", "tool:search") in triples
    assert ("c1", 0, "conv:c1", "mentions", "srf:Anna") in triples


def test_minhash_deterministic():
    s1 = textops.minhash_band_keys("hello world this is text")
    s2 = textops.minhash_band_keys("hello world this is text")
    assert s1 == s2 and len(s1) == textops.MINHASH_BANDS


def test_token_set_ratio_properties():
    assert token_set_ratio("anna jensen", "anna jensen") == 100.0
    assert token_set_ratio("anna jensen", "jensen anna") == 100.0  # order-free
    assert token_set_ratio("aaa", "zzz") < 50.0


@given(st.text(alphabet=string.ascii_letters + " .!?", max_size=200))
@settings(max_examples=100, deadline=None)
def test_split_sentences_total(text):
    sents = textops.split_sentences(text)
    assert all(s.strip() for s in sents)
    # segmentation never invents characters
    joined = "".join("".join(s.split()) for s in sents)
    assert joined == "".join(text.split())


@given(st.text(max_size=100), st.text(max_size=100))
@settings(max_examples=100, deadline=None)
def test_token_set_ratio_symmetric_bounded(a, b):
    r = token_set_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert abs(r - token_set_ratio(b, a)) < 1e-9


@given(st.text(max_size=200))
@settings(max_examples=100, deadline=None)
def test_dup_key_idempotent(t):
    assert textops.dup_key(textops.dup_key(t)) == textops.dup_key(t)
