"""Property-based tests (hypothesis) for the pure semantic layer, plus
algebraic properties of the Spark operators (SURVEY.md §5.2.5)."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from otd_semantic_framework_spark import semantics as S

_token = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
_tokens = st.lists(_token, min_size=0, max_size=30)
_gaz_keys = st.lists(
    st.tuples(_token, st.booleans()), min_size=1, max_size=15)


def _mk_gaz(entries):
    gaz = {}
    for i, (w, bigram) in enumerate(entries):
        key = f"{w} {w}x" if bigram else w
        gaz[key] = f"c{i}"
    return gaz


@settings(max_examples=300, deadline=None)
@given(_tokens, _gaz_keys)
def test_regex_equals_walk_on_random_inputs(tokens, gaz_entries):
    gaz = _mk_gaz(gaz_entries)
    text = " ".join(tokens)
    pat = S.gazetteer_pattern(gaz, max_ngram=2)
    assert S.find_mentions_regex(text, pat) == S.find_mentions(text, gaz, 2)


# Tokens over a 3-letter alphabet with a digit, so gazetteer keys share
# character prefixes within a token (ab / abc) and across tokens
# (ab / ab c / abx y): every trie branch and optional tail is exercised.
_ptoken = st.text(alphabet="ab1", min_size=1, max_size=3)
_pkey = st.lists(_ptoken, min_size=1, max_size=3).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(_pkey, max_size=12),
       st.lists(st.one_of(_ptoken, st.integers(0, 11)), max_size=20),
       st.integers(1, 3))
def test_trie_regex_equals_walk_on_shared_prefixes(keys, pieces, max_ngram):
    """A text piece is a raw token or (an int) one of the keys, so keys
    that extend each other often meet at one position."""
    gaz = {k: f"c{i}" for i, k in enumerate(keys)}
    text = " ".join(p if isinstance(p, str) else keys[p % len(keys)]
                    for p in pieces if keys or isinstance(p, str))
    pat = S.gazetteer_pattern(gaz, max_ngram)
    assert S.find_mentions_regex(text, pat) == \
        S.find_mentions(text, gaz, max_ngram)


def test_trie_regex_prefix_keys_each_match():
    """Keys that are prefixes of each other, within and across tokens:
    each one is the longest match somewhere, and the regex agrees with
    the walk on every case."""
    gaz = {k: f"c{i}" for i, k in enumerate(
        ["ab", "abc", "ab c", "abx y", "1", "12", "12 3", "12 3 4"])}
    cases = ["ab", "abc", "ab c", "ab cd", "abx y", "abx", "abx yz",
             "ab abc ab c abx y", "1 12 12 3 12 3 4 12 34", "123 1a",
             "a b c", "abcab c"]
    found = set()
    for text in cases:
        got = S.find_mentions_regex(text, S.gazetteer_pattern(gaz, 3))
        assert got == S.find_mentions(text, gaz, 3), text
        found.update(surface for surface, _, _ in got)
    assert found == set(gaz)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=80))
def test_normalize_idempotent_and_clean(s):
    n = S.normalize_text(s)
    assert S.normalize_text(n) == n
    assert n == n.strip()
    assert "  " not in n
    assert all(c.islower() or c.isdigit() or c == " " for c in n)


@settings(max_examples=100, deadline=None)
@given(_token)
def test_token_vector_unit_and_stable(tok):
    import numpy as np
    v = S.token_vector(tok)
    assert len(v) == S.EMBED_DIM
    assert abs(float(np.linalg.norm(v.astype("float64"))) - 1.0) < 1e-5
    assert np.array_equal(v, S.token_vector(tok))


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=2**62), st.integers(1, 1000))
def test_stable_hash_mod_bounds(x, mod):
    assert 0 <= S.stable_hash("k", x, mod=mod) < mod


def test_mentions_never_overlap_property():
    """Greedy matching invariant: returned spans are disjoint and sorted."""
    gaz = S.build_gazetteer(S.build_ontology())
    pat = S.gazetteer_pattern(gaz)
    for i in range(200):
        text = " ".join(
            S.VOCAB[S.stable_hash("pw", i, j, mod=len(S.VOCAB))]
            for j in range(12))
        spans = S.find_mentions_regex(text, pat)
        for (_, s1, e1), (_, s2, e2) in zip(spans, spans[1:]):
            assert e1 <= s2, (text, spans)


def test_dedup_idempotent(spark, tiny_df):
    from otd_semantic_framework_spark.operators.triples import dedup_triples
    from otd_semantic_framework_spark.plans.pipeline import build_triples_fast
    t1 = build_triples_fast(spark, tiny_df)
    t2 = dedup_triples(t1)
    k1 = sorted(map(tuple, t1.collect()))
    k2 = sorted(map(tuple, t2.collect()))
    assert k1 == k2
