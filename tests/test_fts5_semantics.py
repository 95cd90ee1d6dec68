"""Empirical probes pinning FTS5 trigram/BM25 semantics against SQLite
itself, plus unit tests of the pure helpers in functions/fts5.py.

These are the ground truth the whole engine builds on: if SQLite's
behavior differed from our formula, every downstream parity test would
chase a phantom. (SURVEY.md §2.3-2.4, verified claims.)
"""

import math
import sqlite3

import pytest

from codebased_spark.functions.fts5 import (
    bm25_term,
    count_overlapping,
    doc_length,
    idf,
    match_phrases,
    pack_trigram,
    phrase_terms,
    query_phrases,
    quote_fts_query,
    tokenize_packed,
    trigrams,
    unpack_trigram,
)

DOCS = [
    (1, "README.md", "README.md", "Hello, world!"),
    (2, "a-directory/code.py", "a-directory/code.py", 'print("Hello, world!")'),
    (3, "src/app.py", "hello_world", "def hello_world():\n    return 'hello world hello'"),
    (4, "src/aaaa.py", "aaaa", "aaaa bbb aaaa"),
    (5, "src/other.go", "main", 'func main() { fmt.Println("Server started") }'),
]


@pytest.fixture(scope="module")
def fts():
    db = sqlite3.connect(":memory:")
    db.execute('create virtual table fts using fts5(path, name, content, tokenize="trigram")')
    db.executemany("insert into fts (rowid, path, name, content) values (?,?,?,?)", DOCS)
    return db


def hand_bm25(phrases, col=None):
    n = len(DOCS)
    dls = {r[0]: doc_length(r[1], r[2], r[3]) for r in DOCS}
    avgdl = sum(dls.values()) / n
    out = {}
    for rowid, path, name, content in DOCS:
        cols = [path.lower(), name.lower(), content.lower()]
        total, ok = 0.0, True
        for p in phrases:
            if col is None:
                tf = sum(count_overlapping(c, p) for c in cols)
                dfp = sum(
                    1
                    for r in DOCS
                    if any(count_overlapping(c.lower(), p) for c in r[1:4])
                )
            else:
                tf = count_overlapping(cols[col], p)
                dfp = sum(1 for r in DOCS if count_overlapping(r[1 + col].lower(), p))
            if tf == 0:
                ok = False
                break
            total += idf(n, dfp) * bm25_term(tf, dls[rowid], avgdl)
        if ok:
            out[rowid] = -total
    return out


@pytest.mark.parametrize(
    "q,phrases",
    [
        ('"hello world"', ["hello world"]),
        ('"hello"', ["hello"]),  # idf clamp: matches all-but-one doc
        ('"aaa"', ["aaa"]),  # overlapping tf
        ('"hello" "world"', ["hello", "world"]),  # multi-phrase AND
        ('"server started"', ["server started"]),
    ],
)
def test_all_column_rank_matches_sqlite(fts, q, phrases):
    got = dict(fts.execute(f"select rowid, rank from fts('{q}')").fetchall())
    exp = hand_bm25(phrases)
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k] - exp[k]) < 1e-12


@pytest.mark.parametrize("q,phrases", [('"hello"', ["hello"]), ('"code"', ["code"])])
def test_name_column_rank_matches_sqlite(fts, q, phrases):
    got = dict(
        fts.execute("select rowid, rank from fts where name match ?", (q,)).fetchall()
    )
    exp = hand_bm25(phrases, col=1)
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k] - exp[k]) < 1e-12


def test_short_phrase_yields_nothing(fts):
    assert fts.execute("select count(*) from fts('\"ab\"')").fetchone()[0] == 0


@pytest.mark.parametrize("q,kept", [
    ('"hello" "ab"', '"hello"'),
    ('"ab" "hello" "x"', '"hello"'),
    ('"hello" "world" ")"', '"hello" "world"'),
    ('"ab" "cd"', None),
])
def test_short_phrase_drops_out_of_conjunction(fts, q, kept):
    """FTS5 drops a phrase under 3 chars from the AND when another
    phrase remains (identical ranks, in both branches), and matches
    nothing when none remains — the rule match_phrases encodes."""
    def ranks(query, where):
        return fts.execute(
            f"select rowid, rank from fts where {where} match ? order by rowid",
            (query,)).fetchall()

    for where in ("fts", "name"):
        got = ranks(q, where)
        if kept is None:
            assert got == []
        else:
            assert got and got == ranks(kept, where)
    want = [] if kept is None else query_phrases(kept)
    assert match_phrases(q) == want


def test_quote_fts_query_matches_reference():
    # codebased/search.py:168-179 behavior
    assert quote_fts_query("Hello world") == '"Hello" "world"'
    assert quote_fts_query('hello "world" how are you') == '"hello" "world" "how" "are" "you"'
    assert quote_fts_query('unbalanced "quote') == '"unbalanced" "quote"'
    assert quote_fts_query("") == ""
    assert quote_fts_query('""') == ""


def test_query_phrases():
    assert query_phrases("Hello world") == ["hello", "world"]
    assert query_phrases('"Hello world"') == ["hello world"]
    assert query_phrases("print('print(\"Hello world\");');") == [
        "print('print(",
        "hello world",
        ");');",
    ]


def test_trigrams_and_packing():
    assert trigrams("Hey") == ["hey"]
    assert trigrams("ab") == []
    assert trigrams("AbCd") == ["abc", "bcd"]
    for t in ["abc", "  x", "\n\t!"]:
        assert unpack_trigram(pack_trigram(t)) == t
    assert list(tokenize_packed("AbCd")) == [pack_trigram("abc"), pack_trigram("bcd")]
    assert phrase_terms("hello") == [pack_trigram(x) for x in ("hel", "ell", "llo")]


def test_count_overlapping():
    assert count_overlapping("aaaa", "aaa") == 2
    assert count_overlapping("abcabcabc", "abcabc") == 2
    assert count_overlapping("xyz", "ab") == 0  # <3 chars -> no tokens


def test_idf_clamp():
    assert idf(5, 4) == 1e-6  # ln((5-4+.5)/(4+.5)) < 0 -> clamped
    assert idf(5, 1) == pytest.approx(math.log((5 - 1 + 0.5) / 1.5))


# --- property-level parity: random corpora/queries vs SQLite itself ----------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORD = st.text(alphabet="abcdex YZ_().", min_size=0, max_size=24)


@given(
    docs=st.lists(st.tuples(_WORD, _WORD, _WORD), min_size=1, max_size=12),
    phrases=st.lists(st.text(alphabet="abcdex YZ", min_size=3, max_size=8),
                     min_size=1, max_size=3),
)
@settings(max_examples=150, deadline=None)
def test_formula_matches_sqlite_on_random_corpora(docs, phrases):
    """Random small corpora + random phrase sets: the pure-Python formula
    (the contract every distributed path is tested against) must match
    SQLite FTS5 rank float-exactly, including clamps and column filters."""
    import numpy as np

    db = sqlite3.connect(":memory:")
    db.execute('create virtual table f using fts5(path, name, content, tokenize="trigram")')
    rows = [(i + 1, p or "p", n or "n", c) for i, (p, n, c) in enumerate(docs)]
    db.executemany("insert into f (rowid, path, name, content) values (?,?,?,?)", rows)

    n_docs = len(rows)
    dls = {r[0]: doc_length(r[1], r[2], r[3]) for r in rows}
    avgdl = sum(dls.values()) / n_docs
    folded = [tuple(c.lower() for c in r[1:4]) for r in rows]
    phrases = [p.lower() for p in phrases]

    expected = {}
    for (rowid, *_), cols in zip(rows, folded):
        total, ok = 0.0, True
        for ph in phrases:
            tf = sum(count_overlapping(c, ph) for c in cols)
            if tf == 0:
                ok = False
                break
            dfp = sum(1 for fc in folded if any(count_overlapping(c, ph) for c in fc))
            total += idf(n_docs, dfp) * bm25_term(tf, dls[rowid], avgdl)
        if ok:
            expected[rowid] = -total

    q = " ".join('"' + p.replace('"', '""') + '"' for p in phrases)
    try:
        got = dict(db.execute("select rowid, rank from f(?)", (q,)).fetchall())
    except sqlite3.OperationalError:
        return  # syntactically-empty query -> reference surfaces 0 rows
    assert set(got) == set(expected)
    for k, v in got.items():
        assert abs(v - expected[k]) < 1e-9, (k, v, expected[k])
