"""The search trace (FtsIndex.last_trace): every search and search_batch
leaves one record of the route it took, the shards it scanned before
and after presence pruning, its phrase-df coverage, the queries it
rescanned with known dfs, the rows of each collect and the phase
timings. The record is
filled from values the query path computes anyway, so each route's
record is checked here against the private helpers that compute them
(shard counts against _prune_batch, the route and candidate rows
against a re-run of the same scan through the reader dispatch), and
each route's results against SQLite FTS5."""

import pytest

import codebased_spark.operators.query as q
from codebased_spark.operators.phrasedf import build_phrase_df
from codebased_spark.oracle import Fts5Oracle
from codebased_spark.plans.engine import FtsIndex, build_index
from codebased_spark.sources.corpus import CORPUS_SCHEMA, fixture_corpus
from tests.parity import (
    assert_rank_identical,
    oracle_hits,
    skyband_rows,
    spark_hits,
)

FIELDS = {"route", "rescanned", "shards_total", "shards_scanned", "covered",
          "collects", "candidate_rows", "parse_prune_s", "scan_collect_s",
          "finish_s"}
COVERED = '"server started"'  # one phrase, the fixture's phrase-df table
TOP_K = 10


def _oracle(index, corpus):
    content = {(r["repo"], r["path"]): r["content"] for r in corpus.collect()}
    return Fts5Oracle(
        (r["doc_id"], r["path"], r["name"], content[(r["repo"], r["path"])])
        for r in index.doc_stats.select("doc_id", "repo", "path", "name").collect())


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("trace") / "idx")
    corpus = fixture_corpus(spark)
    index = build_index(spark, corpus, idx_dir, num_blocks=4)
    build_phrase_df(spark, index, ["server started"])
    return idx_dir, _oracle(index, corpus)


def _parsed(index, queries):
    dfs = {qi: d for qi, d in ((qi, index._covering_dfs(qq))
                               for qi, qq in enumerate(queries)) if d}
    return q._parse_batch(queries, index.n_docs, dfs)


def _pruned(index, queries):
    """(files, parsed, known_idfs, needed) as the query path prunes."""
    parsed, known = _parsed(index, queries)
    return q._prune_batch(index.posting_files, parsed, known, index.term_blocks)


def _candidate_rows(index, queries):
    """(route, candidate rows) of the same scan, re-run through the
    reader dispatch on the index's own reader and feeder."""
    files, parsed, known, needed = _pruned(index, queries)
    route, _n_tasks, scan = q._reader(
        index, needed, {pb for pb, _ in files} or None, index.driver_direct)
    body = q._candidate_body([(qi, t) for qi, _, t in parsed], TOP_K,
                             index.avgdl, known)
    return route, len(scan(body, q.BATCH_SCHEMA))


def _search(index, oracle, query):
    """Search ``query`` past the cache, check it against FTS5 and
    return the trace."""
    index._search_cache.clear()
    hits = spark_hits(index.search(query, TOP_K))
    assert_rank_identical(hits, oracle_hits(oracle.search(query, TOP_K)), TOP_K)
    trace = index.last_trace
    assert set(trace) == FIELDS
    assert all(trace[k] >= 0.0 for k in
               ("parse_prune_s", "scan_collect_s", "finish_s"))
    return trace


def _assert_shards(index, queries, trace):
    files = _pruned(index, queries)[0]
    assert trace["shards_total"] == len(index.posting_files)
    assert trace["shards_scanned"] == len(files)


def test_direct_route(spark, built):
    idx_dir, oracle = built
    index = FtsIndex(spark, idx_dir)
    assert index.last_trace is None and index.driver_direct
    trace = _search(index, oracle, "hello world")
    assert (trace["route"], trace["rescanned"], trace["covered"]) == \
        ("direct", 0, 0)
    _assert_shards(index, ["hello world"], trace)
    assert trace["shards_scanned"] > 0
    assert (trace["route"], trace["candidate_rows"]) == \
        _candidate_rows(index, ["hello world"])
    assert trace["candidate_rows"] > 0


def test_spark_route_driver_tail(spark, built):
    idx_dir, oracle = built
    index = FtsIndex(spark, idx_dir)
    index.driver_direct = False
    trace = _search(index, oracle, "hello world")
    assert (trace["route"], trace["rescanned"]) == ("spark", 0)
    _assert_shards(index, ["hello world"], trace)
    assert (trace["route"], trace["candidate_rows"]) == \
        _candidate_rows(index, ["hello world"])
    assert trace["candidate_rows"] > 0
    assert trace["collects"] == [trace["candidate_rows"]]


def test_spark_route_rescan(spark, tmp_path, monkeypatch):
    """A two-phrase query whose k-skyband outgrows its per-task share:
    its first pass yields markers, and it is rescanned as a covered
    query, so the record holds two collects, each under the cap."""
    top_k = 3
    corpus = spark.createDataFrame(skyband_rows(), CORPUS_SCHEMA)
    index = build_index(spark, corpus, str(tmp_path / "sky"), num_blocks=4)
    index.driver_direct = False
    oracle = _oracle(index, corpus)
    cap = q._scan_tasks(spark, len(index.posting_files)) * (2 * top_k + 2)
    monkeypatch.setattr(q, "DRIVER_FINISH_MAX", cap)
    hits = spark_hits(index.search("value xke", top_k))
    assert_rank_identical(hits, oracle_hits(oracle.search("value xke", top_k)),
                          top_k)
    trace = index.last_trace
    assert set(trace) == FIELDS
    assert (trace["route"], trace["rescanned"], trace["covered"]) == \
        ("spark", 1, 0)
    _assert_shards(index, ["value xke"], trace)
    assert len(trace["collects"]) == 2 and max(trace["collects"]) <= cap
    assert trace["candidate_rows"] == sum(trace["collects"])


def test_generic_route(spark, built):
    idx_dir, oracle = built
    index = FtsIndex(spark, idx_dir, force_generic_scan=True)
    trace = _search(index, oracle, "hello world")
    assert (trace["route"], trace["rescanned"]) == ("generic", 0)
    assert trace["shards_total"] is None and trace["shards_scanned"] is None
    assert (trace["route"], trace["candidate_rows"]) == \
        _candidate_rows(index, ["hello world"])
    assert trace["candidate_rows"] > 0


def test_pruned_to_zero_and_unparsable(spark, built):
    idx_dir, oracle = built
    index = FtsIndex(spark, idx_dir)
    assert index.term_blocks is not None
    for query in ("zqxjkw notthere", "ab"):
        trace = _search(index, oracle, query)
        assert (trace["route"], trace["rescanned"], trace["collects"]) == \
            ("none", 0, []), query
        assert trace["shards_total"] == len(index.posting_files)
        assert trace["shards_scanned"] == 0
        assert trace["candidate_rows"] == 0
    assert _pruned(index, ["zqxjkw notthere"])[0] == []


def test_phrase_df_covered(spark, built):
    idx_dir, oracle = built
    index = FtsIndex(spark, idx_dir)
    index.driver_direct = False
    assert "server started" in index.phrase_dfs
    trace = _search(index, oracle, COVERED)
    assert (trace["route"], trace["covered"]) == ("spark", 1)
    _assert_shards(index, [COVERED], trace)
    assert (trace["route"], trace["candidate_rows"]) == \
        _candidate_rows(index, [COVERED])
    assert trace["candidate_rows"] > 0

    queries = [COVERED, "hello world", "zqxjkw notthere"]
    rows = index.search_batch(queries, TOP_K).collect()
    trace = index.last_trace
    assert (trace["route"], trace["rescanned"], trace["covered"]) == \
        ("spark", 0, 1)
    _assert_shards(index, queries, trace)
    assert (trace["route"], trace["candidate_rows"]) == \
        _candidate_rows(index, queries)
    for qi, qq in enumerate(queries):
        got = sorted(((int(r["doc_id"]), bool(r["name_match"]),
                       float(r["score"])) for r in rows if r["qid"] == qi),
                     key=lambda h: (not h[1], -h[2], h[0]))
        assert_rank_identical(got, oracle_hits(oracle.search(qq, TOP_K)),
                              TOP_K)


def test_cache_hit(spark, built):
    idx_dir, oracle = built
    index = FtsIndex(spark, idx_dir)
    first = _search(index, oracle, "hello world")
    assert first["route"] == "direct"
    cached = index._search_cache[("hello world", TOP_K)]
    assert index.search("hello world", TOP_K) is cached
    trace = index.last_trace
    assert set(trace) == FIELDS
    assert (trace["route"], trace["rescanned"], trace["shards_scanned"],
            trace["collects"], trace["candidate_rows"]) == \
        ("cache", 0, 0, [], 0)


RARE = "zqvx_kw sentinel_jqzz"  # trigrams found in no other file


def test_presence_prunes_a_query_with_hits(spark, tmp_path):
    """Rare content planted in a few files of a 16-block index: a search
    that finds it scans at most that many shards, and returns what an
    unpruned handle and FTS5 return."""
    n_rare = 3
    rows = [(f"r{i % 12}", f"src/f{i}.py", "c" * 40, "python",
             f"def handler_{i}():\n    return value + {i}  # server started\n")
            for i in range(180)]
    rows += [("rare", f"src/rare_{i}.py", "e" * 40, "python",
              f'"""{RARE} module."""\nRARE = "{RARE} {i}"\n')
             for i in range(n_rare)]
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    idx_dir = str(tmp_path / "rare_idx")
    index = build_index(spark, corpus, idx_dir, num_blocks=16)
    assert len(index.posting_files) > 2 * n_rare
    unpruned = FtsIndex(spark, idx_dir)
    unpruned.term_blocks = None
    oracle = _oracle(index, corpus)

    query = f'"{RARE}"'
    trace = _search(index, oracle, query)
    got = spark_hits(index.search(query, TOP_K))
    assert len(got) == n_rare
    assert 0 < trace["shards_scanned"] <= n_rare
    assert trace["shards_total"] == len(index.posting_files)
    assert got == spark_hits(unpruned.search(query, TOP_K))
    assert unpruned.last_trace["shards_scanned"] == len(index.posting_files)


def _consistent(trace):
    """A record one search could have left: its fields agree."""
    if set(trace) != FIELDS:
        return False
    if trace["route"] in ("none", "cache"):
        return trace["collects"] == [] and trace["candidate_rows"] == 0 \
            and trace["shards_scanned"] == 0
    return trace["rescanned"] == 0 and len(trace["collects"]) == 1 \
        and trace["candidate_rows"] == trace["collects"][0] > 0 \
        and trace["shards_scanned"] > 0


def test_concurrent_searches_leave_whole_records(spark, built):
    """Searches racing on one handle each fill their own record, so the
    record any search leaves is one search's, never a mix of two."""
    import sys
    import threading

    idx_dir, _ = built
    index = FtsIndex(spark, idx_dir)
    assert index.driver_direct  # no Spark job: the threads really race
    queries = ["hello world", "zqxjkw notthere", "server started", "ab"]
    seen, errors = [], []

    def run(i):
        try:
            for j in range(8):
                index.search(queries[(i + j) % len(queries)], 3 + j).collect()
                seen.append(dict(index.last_trace))
        except Exception as e:  # reported by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(seen) == 64
    assert {t["route"] for t in seen} >= {"direct", "none"}
    assert all(_consistent(t) for t in seen)
