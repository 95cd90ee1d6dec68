"""P5/Q9/Q12/Q13: render, highlight, hybrid merge, search cache — the
reference's own unit expectations (tests/test_main.py:854-1035) ported
verbatim, plus merge/render/cache behavior."""

import sys
import time
from concurrent.futures import ThreadPoolExecutor

from codebased_spark.operators.render import (
    Query,
    find_highlights,
    merge_results,
    render_object,
)


# --- Query.parse (test_main.py:854-913) --------------------------------------

def test_parse_empty_and_quoted_empty():
    for q in ("", '""'):
        parsed = Query.parse(q)
        assert parsed.phrases == () and parsed.keywords == ()
        assert parsed.original == q


def test_parse_escaped_quotes():
    assert Query.parse('"print(\\"hello world\\")"').phrases == ('print("hello world")',)


def test_parse_basic_and_multi():
    q = Query.parse('hello "world" how are you')
    assert q.phrases == ("world",) and q.keywords == ("hello", "how", "are", "you")
    q = Query.parse('"hello world" test "foo bar" baz')
    assert q.phrases == ("hello world", "foo bar") and q.keywords == ("test", "baz")
    q = Query.parse('hello! "world?" how_are_you')
    assert q.phrases == ("world?",) and q.keywords == ("hello!", "how_are_you")


def test_parse_pathological_no_backtracking():
    s = '"' + "a" * 100 + '" ' + "b" * 100
    t0 = time.time()
    q = Query.parse(s)
    assert time.time() - t0 < 1.0
    assert q.phrases == ("a" * 100,) and q.keywords == ("b" * 100,)


# --- find_highlights (test_main.py:916-1035) ----------------------------------

def test_highlight_empty():
    for q in ("", '""'):
        for t in ("", '""'):
            assert find_highlights(Query.parse(q), t) == ([], [])


def test_highlights_basic():
    q = Query.parse('hello "world" how are you')
    h, lines = find_highlights(q, 'hello "world" how are you')
    assert h == [(0, 5), (7, 12), (14, 17), (18, 21), (22, 25)]
    assert lines == [(0, 0)] * 5
    h, lines = find_highlights(q, "hello world how are you")
    assert h == [(0, 5), (6, 11), (12, 15), (16, 19), (20, 23)]


def test_highlights_out_of_order_and_phrase():
    q = Query.parse('hello "world" how are you')
    h, lines = find_highlights(q, "you are how hello world")
    assert h == [(0, 3), (4, 7), (8, 11), (12, 17), (18, 23)]
    q = Query.parse('"sea world"')
    h, _ = find_highlights(q, "have you been to sea world?")
    assert h == [(17, 26)]
    assert find_highlights(q, "world seap") == ([], [])


def test_highlights_multiline_and_case():
    q = Query.parse('hello "world" how are you')
    h, lines = find_highlights(q, "hello\nworld\nhow\nare\nyou")
    assert lines == [(i, i) for i in range(5)]
    h, lines = find_highlights(q, "\nhello\nworld\n")
    assert h == [(1, 6), (7, 12)] and lines == [(1, 1), (2, 2)]
    assert find_highlights(Query.parse('"hello world"'), "\nhello\nworld\n")[0] == []
    h, _ = find_highlights(Query.parse('HELLO "WoRlD" how ARE you'), "hello world HOW are YOU")
    assert h == [(0, 5), (6, 11), (12, 15), (16, 19), (20, 23)]


def test_highlights_overlap_merge():
    q = Query.parse("overlapping overlap lap")
    text = "this is an overlapping text"
    left = text.index("overlapping")
    h, _ = find_highlights(q, text)
    assert h == [(left, left + len("overlapping"))]
    q = Query.parse('overlapping "an over"')
    left = text.index("an")
    h, _ = find_highlights(q, text)
    assert h == [(left, left + len("an overlapping"))]


# --- render_object (parser.py:564-605 semantics) ------------------------------

def test_render_object():
    lines = ["class Point:", "    def __init__(self):", "        pass", ""]
    row = {"path": "src/main.py", "start_row": 1, "end_row": 2,
           "context_before": [0]}
    out = render_object(row, lines, line_numbers=True)
    assert out.splitlines() == [
        "src/main.py", "",
        "1 class Point:",
        "2     def __init__(self):",
        "3         pass",
    ]
    # trailing-newline-at-EOF guard: end_row one past the last line
    row2 = {"path": "a.md", "start_row": 0, "end_row": 1, "context_before": []}
    assert render_object(row2, ["Hello"], file=False) == "Hello"


# --- merge_results (search.py:317-375 3-tier semantics) ------------------------

def test_merge_results_tiers():
    fts = [
        {"doc_id": 10, "name_match": True, "score": 5.0},
        {"doc_id": 11, "name_match": False, "score": 4.0},
        {"doc_id": 12, "name_match": True, "score": 3.0},  # not in leading run
    ]
    sem = [
        {"doc_id": 11, "distance": 0.1},
        {"doc_id": 99, "distance": 0.2},
    ]
    out = merge_results(sem, fts)
    ids = [r["doc_id"] for r in out]
    # tier -1: leading name-match run (10); tier 0: in-both (11);
    # tier 1: remaining in source order (12 at fts index 2, 99 at sem index 1)
    assert ids == [10, 11, 99, 12]
    merged_11 = next(r for r in out if r["doc_id"] == 11)
    assert merged_11["distance"] == 0.1 and merged_11["score"] == 4.0


def test_merge_results_fts_only():
    fts = [{"doc_id": i, "name_match": False, "score": float(-i)} for i in range(3)]
    assert [r["doc_id"] for r in merge_results([], fts)] == [0, 1, 2]


# --- Q13 search cache ----------------------------------------------------------

def test_search_cache(spark, tmp_path):
    from codebased_spark.plans.engine import build_index
    from codebased_spark.sources.corpus import SIMPLE_REPO, fixture_corpus

    idx = build_index(spark, fixture_corpus(spark, SIMPLE_REPO),
                      str(tmp_path / "c"), num_blocks=2)
    a = idx.search("Hello world", 10)
    b = idx.search("Hello world", 10)
    assert a is b  # memoized DataFrame (materialized via localCheckpoint)
    assert idx.search("Hello world", 5) is not a
    t0 = time.time()
    a.collect()
    assert time.time() - t0 < 2.0


def test_search_cache_is_a_bounded_lru(spark, tmp_path, monkeypatch):
    from codebased_spark.plans.engine import SEARCH_CACHE_MAX, build_index
    from codebased_spark.sources.corpus import SIMPLE_REPO, fixture_corpus

    idx = build_index(spark, fixture_corpus(spark, SIMPLE_REPO),
                      str(tmp_path / "c"), num_blocks=2)
    scans = []

    class Result:
        def __init__(self, key):
            self.key = key

        def drop(self, _col):
            return self

    def fake_batch(queries, top_k):  # the cache, not the scan, is under test
        scans.append(queries[0])
        return Result((queries[0], top_k))

    monkeypatch.setattr(idx, "_search_batch", fake_batch)
    kept = idx.search("q0", 10)
    for i in range(1, SEARCH_CACHE_MAX + 5):
        idx.search(f"q{i}", 10)
        if i % 8 == 0:
            assert idx.search("q0", 10) is kept  # a hit refreshes recency
    assert len(idx._search_cache) == SEARCH_CACHE_MAX
    assert ("q0", 10) in idx._search_cache
    assert ("q1", 10) not in idx._search_cache  # least recently used
    assert scans.count("q0") == 1 and len(scans) == SEARCH_CACHE_MAX + 5
    idx.clear_search_cache()
    assert len(idx._search_cache) == 0
    idx.search("q0", 10)
    assert scans.count("q0") == 2

    # concurrent searches and clears: the bound holds and no entry is
    # filed under another key
    def worker(w):
        for i in range(400):
            key = f"s{(w * 7 + i * 13) % (SEARCH_CACHE_MAX + 40)}"
            assert idx.search(key, 10).key == (key, 10)
            if i % 97 == 0:
                idx.clear_search_cache()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            for f in [ex.submit(worker, w) for w in range(8)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert len(idx._search_cache) <= SEARCH_CACHE_MAX
    assert all(v.key == k for k, v in idx._search_cache.items())
