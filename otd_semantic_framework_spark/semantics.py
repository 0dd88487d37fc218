"""Shared deterministic semantic configuration.

This module is the single source of truth for every *pure* (non-Spark)
semantic definition of the engine: the vocabulary, the OTD-style transport
ontology taxonomy, deterministic hash-derived token embeddings (the
stand-in for the reference's word2vec / spaCy GloVe vectors — see
SURVEY.md §7 risk 2), text normalization, and gazetteer n-gram mention
matching.

Both the Spark pipeline (via broadcast tables / Arrow UDF closures) and
the pure-pandas mini-oracle (``tests/oracle_tagger.py``) import from
here, so the two implementations cannot drift on *data* — they can only
differ in *algorithm*, which is exactly what the regression tests check.

Everything is seed-free hash-deterministic (FIXTURES.md): values are pure
functions of key strings via ``hashlib.md5``, so regeneration at any
parallelism, on any host, yields identical content.

Reference parity: the reference (tobinus/OTD-semantic-framework, absent
from /root/reference this sandbox — SURVEY.md §0) uses a SKOS taxonomy of
~100-200 transport concepts with prefLabel/altLabel strings and spaCy
word vectors; thresholds ~0.8 for autotag cosine matching [K].
"""

from __future__ import annotations

import hashlib
import re
import struct
import unicodedata
from dataclasses import dataclass, field

import numpy as np

EMBED_DIM = 64
COS_THRESHOLD = 0.8  # autotag cosine threshold [K], FIXTURES.md B4
LINK_ALPHA = 0.5     # link_score = a*cos + (1-a)*wup  (SURVEY.md P9)
CDS_THRESHOLD = 0.8  # CDS propagation threshold [K], FIXTURES.md B4
TOP_K = 5            # candidate concepts kept per mention (SURVEY.md P7)
MAX_NGRAM = 2        # mention n-gram length (SURVEY.md P4)
SCORE_DECIMALS = 6   # all emitted float scores rounded for oracle stability
INFER_DECAY = 0.8    # per-level score decay for SKOS-broader inference (P12b)

# ---------------------------------------------------------------------------
# Vocabulary — 200 words; the first portion doubles as ontology label stock
# (FIXTURES.md B1/B2: transcript text overlaps ontology labels so mention
# detection has known hits).
# ---------------------------------------------------------------------------

_TRANSPORT_WORDS = [
    # ontology-label stock (transport domain, like the OTD ontology [K])
    "transport", "bus", "train", "tram", "metro", "ferry", "bicycle",
    "car", "taxi", "airport", "harbour", "station", "stop", "route",
    "timetable", "schedule", "ticket", "fare", "zone", "passenger",
    "traffic", "congestion", "parking", "garage", "road", "street",
    "bridge", "tunnel", "toll", "freight", "cargo", "logistics",
    "travel", "journey", "trip", "departure", "arrival", "delay",
    "accessibility", "wheelchair", "platform", "track", "line",
    "network", "operator", "agency", "realtime", "position", "location",
    "map", "geodata", "coordinates", "speed", "limit", "safety",
    "accident", "incident", "weather", "snow", "ice", "maintenance",
]
_FILLER_WORDS = [
    "the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
    "data", "set", "open", "city", "public", "info", "system", "service",
    "user", "agent", "please", "show", "find", "need", "want", "about",
    "near", "from", "when", "next", "how", "many", "much", "best",
    "good", "new", "old", "big", "small", "fast", "slow", "free",
    "paid", "daily", "weekly", "live", "status", "update", "report",
    "query", "search", "result", "list", "count", "total", "value",
    "item", "thing", "place", "area", "region", "north", "south",
    "east", "west", "center", "model", "tool", "plan", "help", "check",
    "look", "give", "take", "make", "work", "run", "call", "use",
    "between", "after", "before", "during", "around", "under", "over",
    "today", "tomorrow", "morning", "evening", "night", "hour", "minute",
    "day", "week", "month", "year", "first", "last", "second", "third",
    "option", "choice", "answer", "question", "detail", "summary",
    "note", "point", "case", "fact", "idea", "goal", "task", "step",
]
_EXTRA_WORDS = [
    "express", "local", "regional", "shuttle", "terminal", "junction",
    "crossing", "signal", "lane", "curb", "sidewalk", "pavement",
    "detour", "closure", "roadwork", "portal", "dataset", "catalog",
    "license", "format", "bike", "scooter", "rail", "cable",
]
VOCAB: list[str] = (_TRANSPORT_WORDS + _FILLER_WORDS + _EXTRA_WORDS)[:200]
assert len(VOCAB) == 200, f"vocab is {len(VOCAB)}, want 200"
assert len(VOCAB) == len(set(VOCAB)), "vocab must be unique"

TOOL_NAMES = [
    "web_search", "sql_query", "code_exec", "file_read",
    "map_lookup", "calendar", "translator", "summarizer",
]

ROLES = ["user", "assistant", "tool"]

# ---------------------------------------------------------------------------
# Deterministic hashing / embeddings
# ---------------------------------------------------------------------------


def round_half_away(x, decimals: int = 6):
    """Round half away from zero — the SQL ROUND semantics shared by
    Spark (HALF_UP) and DuckDB. ``np.round`` is half-to-even (banker's),
    which diverges from the DuckDB oracle exactly on .5 boundaries
    (e.g. 0.1015625 → 0.101562 vs SQL's 0.101563), so every numpy-side
    value that is hash-compared against SQL must round through this."""
    scale = 10.0 ** decimals
    ax = np.floor(np.abs(x) * scale + 0.5) / scale
    return np.sign(x) * ax


def stable_hash(*parts: object, mod: int | None = None) -> int:
    """Deterministic 63-bit hash of the string-joined parts (md5-based).

    Pure function of its inputs — identical across processes/hosts, unlike
    Python's builtin ``hash``. Used by fixture generation and the oracle.
    """
    h = hashlib.md5("\x1f".join(str(p) for p in parts).encode()).digest()
    v = struct.unpack("<Q", h[:8])[0] & 0x7FFFFFFFFFFFFFFF
    return v % mod if mod else v


def token_vector(token: str, dim: int = EMBED_DIM) -> np.ndarray:
    """Deterministic unit vector for a token (word2vec stand-in).

    16 md5 digests of ``token#i`` → float32s in [-1, 1) → L2-normalized.
    """
    need = dim * 4
    buf = b""
    i = 0
    while len(buf) < need:
        buf += hashlib.md5(f"{token}#{i}".encode()).digest()
        i += 1
    ints = np.frombuffer(buf[:need], dtype="<u4").astype(np.float64)
    vec = (ints / 2**31) - 1.0  # [-1, 1)
    n = float(np.linalg.norm(vec))
    return (vec / n).astype(np.float32) if n > 0 else vec.astype(np.float32)


def phrase_vector(phrase: str, dim: int = EMBED_DIM) -> np.ndarray:
    """Mean-pooled token vectors, re-normalized (reference mean-pools spaCy
    token vectors for multi-word terms [K])."""
    toks = phrase.split()
    if not toks:
        return np.zeros(dim, dtype=np.float32)
    m = np.mean([token_vector(t, dim) for t in toks], axis=0)
    n = float(np.linalg.norm(m))
    return (m / n).astype(np.float32) if n > 0 else m.astype(np.float32)


def vocab_matrix(dim: int = EMBED_DIM) -> tuple[dict[str, int], np.ndarray]:
    """(token→row index, V×dim float32 matrix) for the whole vocabulary."""
    idx = {t: i for i, t in enumerate(VOCAB)}
    mat = np.stack([token_vector(t, dim) for t in VOCAB])
    return idx, mat


# ---------------------------------------------------------------------------
# Text normalization (P3) — must stay expressible with Spark built-ins:
# lower → non-alnum runs → single space → strip. NFKC first for unicode.
# ---------------------------------------------------------------------------

_NORM_RE = re.compile(r"[^a-z0-9]+")


def normalize_text(text: str) -> str:
    if text is None:
        return ""
    return _NORM_RE.sub(" ", unicodedata.normalize("NFKC", text).lower()).strip()


# ---------------------------------------------------------------------------
# Ontology — 3-level taxonomy: 1 root, 8 branches, 60 leaves (FIXTURES.md B2)
# ---------------------------------------------------------------------------

_BRANCH_LABELS = [
    "transport", "route", "ticket", "traffic",
    "travel", "network", "map", "safety",
]


@dataclass
class Concept:
    concept_id: str
    pref_label: str
    alt_labels: list[str]
    parent_id: str | None
    depth: int  # root = 1 (Wu-Palmer convention, FIXTURES.md B2)
    path: list[str] = field(default_factory=list)  # root..self


def build_ontology() -> list[Concept]:
    """Deterministic OTD-style taxonomy.

    Root C000; 8 branch concepts with single-word labels; 60 leaves whose
    labels are one- or two-word phrases drawn from the transport word
    stock. A few leaves share an alt_label with a cousin to exercise
    canonicalization (FIXTURES.md B2).
    """
    concepts: list[Concept] = []
    root = Concept("otd:C000", "open transport data", [], None, 1, ["otd:C000"])
    concepts.append(root)
    branches: list[Concept] = []
    for b, label in enumerate(_BRANCH_LABELS):
        cid = f"otd:C{b + 1:03d}"
        c = Concept(cid, label, [], root.concept_id, 2, [root.concept_id, cid])
        branches.append(c)
        concepts.append(c)
    # leaf label stock: single words not used by branches, and two-word
    # phrases "<branch-word> <word>"
    leaf_words = [w for w in _TRANSPORT_WORDS if w not in _BRANCH_LABELS]
    n_leaves = 60
    for i in range(n_leaves):
        branch = branches[i % 8]
        cid = f"otd:C{100 + i:03d}"
        w = leaf_words[i % len(leaf_words)]
        if stable_hash("leafkind", cid) % 3 == 0:
            label = f"{branch.pref_label} {w}"
        else:
            label = w if i < len(leaf_words) else f"{w} {leaf_words[(i * 7) % len(leaf_words)]}"
        alts: list[str] = []
        # some cousins share an alt label → canonicalization test cases
        if stable_hash("alt", cid) % 5 == 0:
            alts.append(f"{w} service")
        concepts.append(
            Concept(cid, label, alts, branch.concept_id, 3,
                    [root.concept_id, branch.concept_id, cid])
        )
    # labels must be unique after normalization for a well-defined gazetteer
    seen: dict[str, str] = {}
    for c in concepts:
        norm = normalize_text(c.pref_label)
        if norm in seen:
            c.pref_label = f"{c.pref_label} {c.concept_id[-3:]}"
        seen[normalize_text(c.pref_label)] = c.concept_id
    return concepts


def wup_similarity(a: Concept, b: Concept) -> float:
    """Wu-Palmer: 2*depth(LCS) / (depth(a)+depth(b)); root depth 1.

    SURVEY.md P8 [K]: the reference builds the all-pairs concept matrix
    with nltk-style wup over the SKOS tree.
    """
    common = 0
    for x, y in zip(a.path, b.path):
        if x == y:
            common += 1
        else:
            break
    return 2.0 * common / (a.depth + b.depth)


# ---------------------------------------------------------------------------
# Gazetteer n-gram mention matching (P4) — pure function shared by the
# pandas oracle and the Spark pandas_udf.
# ---------------------------------------------------------------------------


def build_gazetteer(concepts: list[Concept]) -> dict[str, str]:
    """normalized label → concept_id. pref_label wins over alt_label;
    among alt-label collisions the lexicographically smallest concept_id
    wins (deterministic)."""
    gaz: dict[str, str] = {}
    for c in sorted(concepts, key=lambda c: c.concept_id, reverse=True):
        for alt in c.alt_labels:
            gaz[normalize_text(alt)] = c.concept_id
    for c in sorted(concepts, key=lambda c: c.concept_id, reverse=True):
        gaz[normalize_text(c.pref_label)] = c.concept_id
    gaz.pop("", None)
    return gaz


def gazetteer_pattern(gazetteer, max_ngram: int = MAX_NGRAM) -> "re.Pattern[str]":
    """Compiled regex implementing the same greedy leftmost-longest
    non-overlapping semantics as :func:`find_mentions` on normalized
    text (tokens are [a-z0-9]+ single-space separated, so ``\\b``
    boundaries == token boundaries).

    The keys of at most ``max_ngram`` tokens are compiled into ONE
    character trie, ``\\b(?:…)\\b``: each trie node is an alternation
    over its next characters, and a node that ends a key makes the rest
    a greedy optional tail. At a given start, every key that can match
    is a prefix of the text there, so all of them lie on one trie path;
    the greedy tails try the deepest first and back off only when the
    trailing ``\\b`` fails. Two matching keys on one path that both end
    at token boundaries differ in token count, so deepest == most
    tokens == the key ``find_mentions`` takes first. The engine then
    continues after the match (no overlap) — the find_mentions walk, at
    C speed. A flat alternation of the keys gives the same matches but
    re-tries every key's shared prefix at each position, and scans 2-3x
    slower. An empty key set never matches.
    Equivalence is pinned by tests/test_mentions.py and
    tests/test_properties.py."""
    trie: dict = {}
    for k in gazetteer:
        if 0 < len(k.split()) <= max_ngram:
            node = trie
            for ch in k:
                node = node.setdefault(ch, {})
            node[""] = {}  # end of a key
    return re.compile(rf"\b{_trie_regex(trie)}\b" if trie else "(?!)")


def _trie_regex(node: dict) -> str:
    """Regex of one trie node of :func:`gazetteer_pattern`."""
    alts = [re.escape(ch) + _trie_regex(child)
            for ch, child in sorted(node.items()) if ch]
    if not alts:
        return ""
    body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
    return f"(?:{body})?" if "" in node else body


def find_mentions_regex(norm_text: str, pattern: "re.Pattern[str]"
                        ) -> list[tuple[str, int, int]]:
    """Regex twin of find_mentions returning the same
    (surface, tok_start, tok_end) triples."""
    out = []
    for m in pattern.finditer(norm_text):
        surface = m.group(0)
        tok_start = norm_text.count(" ", 0, m.start())
        out.append((surface, tok_start, tok_start + surface.count(" ") + 1))
    return out


def find_mentions(norm_text: str, gazetteer: dict[str, str],
                  max_ngram: int = MAX_NGRAM) -> list[tuple[str, int, int]]:
    """All gazetteer n-gram matches in normalized text.

    Returns [(surface, token_start, token_end_exclusive)]. Longest match
    wins at a given start position; matched tokens are not reused by a
    shorter overlapping match starting inside them (greedy left-to-right,
    like noun-chunk spans don't overlap in the reference [K]).
    """
    toks = norm_text.split()
    out: list[tuple[str, int, int]] = []
    i = 0
    n = len(toks)
    while i < n:
        matched = False
        for ln in range(min(max_ngram, n - i), 0, -1):
            surface = " ".join(toks[i:i + ln])
            if surface in gazetteer:
                out.append((surface, i, i + ln))
                i += ln
                matched = True
                break
        if not matched:
            i += 1
    return out
