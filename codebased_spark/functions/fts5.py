"""Pure-Python FTS5-trigram semantics: the contract every distributed path
must match.

These functions pin the *exact* behavior of SQLite FTS5 with
``tokenize="trigram"`` plus the reference's BM25 ranking, empirically
verified float-exact against SQLite 3.40.1 (see tests/test_fts5_semantics.py).

Reference citations:
- trigram tokenize + casefold: FTS5 trigram tokenizer (sqlite3 builtin),
  declared at codebased/migrations/000_initial.sql:39.
- BM25 formula + idf clamp: SQLite fts5_aux.c (public sqlite source);
  k1=1.2 b=0.75; rank = -score; ORDER BY rank ASC == best first.
- query quoting: codebased/search.py:168-179 (quote_fts_query).
- phrase grammar for highlights: codebased/search.py:30-53 (Query.parse).

Semantics pinned here (each has a probe test):
- casefold then every contiguous 3-char substring; len<3 -> no tokens.
- tf counts OVERLAPPING occurrences ("aaaa" contains "aaa" twice).
- a query is a conjunction (AND) of phrases; each phrase is an exact
  case-folded substring match. A phrase shorter than 3 chars has no
  trigrams and drops out of the conjunction (``"type" "ab"`` ranks
  exactly like ``"type"``); a query left with no phrase -> 0 rows.
- DL (document length) = sum over the 3 columns of max(0, len-2) and is
  whole-row even for column-filtered matches.
- column-filtered match (``name MATCH q``): n(p) and tf count only that
  column; DL/avgdl stay whole-row.
- idf = ln((N - n + 0.5) / (n + 0.5)); if idf <= 0 -> idf = 1e-6.
"""

from __future__ import annotations

import re

import numpy as np

from codebased_spark import B, IDF_CLAMP, K1

# FTS documents have exactly the columns path, name, content, in this
# order (000_initial.sql:39: fts5(path, name, content, ...)).
COL_PATH, COL_NAME, COL_CONTENT = 0, 1, 2

_quote_fts_re = re.compile(r'\s+|(".*?")')
_phrase_re = re.compile(r'(?:"((?:[^"\\]|\\.)*)"|\S+)')


def casefold(s: str) -> str:
    """FTS5 trigram case folding. ASCII-exact; non-ASCII follows Python
    ``str.lower()`` which matches FTS5 for the common BMP cases our
    corpora use (corpus generators emit ASCII only)."""
    return s.lower()


def quote_fts_query(query: str) -> str:
    """Wrap each whitespace token in quotes; balance odd quote counts;
    drop empty ``""`` tokens. Byte-for-byte the reference's
    quote_fts_query (codebased/search.py:168-179)."""
    if query.count('"') % 2:
        query += '"'
    bits = _quote_fts_re.split(query)
    bits = [b for b in bits if b and b != '""']
    return " ".join('"{}"'.format(b) if not b.startswith('"') else b for b in bits)


def parse_phrases(quoted_query: str) -> list[str]:
    """Split a quoted FTS query into its phrase strings (unescaping \\").

    Mirrors the grammar of codebased/search.py:30-53; applied to the
    *quoted* query every token is a phrase."""
    phrases: list[str] = []
    for m in _phrase_re.finditer(quoted_query):
        if m.group(1) is not None:
            p = m.group(1).replace('\\"', '"')
            if p:
                phrases.append(p)
        else:
            phrases.append(m.group())
    return phrases


def query_phrases(query: str) -> list[str]:
    """User query -> list of case-folded phrases (the unit of matching)."""
    return [casefold(p) for p in parse_phrases(quote_fts_query(query))]


def match_phrases(query: str) -> list[str]:
    """The phrases a query is matched and ranked on: :func:`query_phrases`
    minus those shorter than 3 chars, which FTS5 drops from the
    conjunction. Empty -> the query matches nothing."""
    return [p for p in query_phrases(query) if len(p) >= 3]


def trigrams(text: str) -> list[str]:
    """All contiguous 3-char substrings of the case-folded text."""
    t = casefold(text)
    return [t[i : i + 3] for i in range(len(t) - 2)]


def pack_trigram(tri: str) -> int:
    """Pack a 3-char trigram into a non-negative int64:
    (c0<<42)|(c1<<21)|c2 — codepoints are < 2^21 so this is injective.
    Numeric term ids shuffle/compare much faster than strings."""
    assert len(tri) == 3
    return (ord(tri[0]) << 42) | (ord(tri[1]) << 21) | ord(tri[2])


def unpack_trigram(term: int) -> str:
    return chr((term >> 42) & 0x1FFFFF) + chr((term >> 21) & 0x1FFFFF) + chr(term & 0x1FFFFF)


def phrase_terms(phrase_folded: str) -> list[int]:
    """Packed trigram ids of a phrase (len L -> L-2 terms). Empty if L<3."""
    return [pack_trigram(phrase_folded[i : i + 3]) for i in range(len(phrase_folded) - 2)]


def tokenize_packed(text: str) -> np.ndarray:
    """Vectorized trigram ids (int64) for one string, position i -> text[i:i+3].

    Encodes via UTF-32 so index == character position (matches FTS5
    trigram positions for BMP+astral alike)."""
    t = casefold(text)
    if len(t) < 3:
        return np.empty(0, dtype=np.int64)
    a = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    return (a[:-2] << 42) | (a[1:-1] << 21) | a[2:]


def count_overlapping(text_folded: str, phrase_folded: str) -> int:
    """Overlapping substring count — FTS5 trigram phrase tf."""
    if len(phrase_folded) < 3:
        return 0
    n = 0
    start = 0
    while True:
        i = text_folded.find(phrase_folded, start)
        if i < 0:
            return n
        n += 1
        start = i + 1


def doc_length(path: str, name: str, content: str) -> int:
    """Whole-row DL: tokens emitted across the 3 columns."""
    return sum(max(0, len(casefold(c)) - 2) for c in (path, name, content))


def idf(n_docs: int, df: int) -> float:
    """BM25 idf with the FTS5 clamp (<=0 -> 1e-6)."""
    v = float(np.log((n_docs - df + 0.5) / (df + 0.5)))
    return IDF_CLAMP if v <= 0.0 else v


def bm25_term(tf: float, dl: float, avgdl: float) -> float:
    """The per-phrase tf-normalization factor (score = sum idf * this)."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
