"""M1/M2: rank-identical BM25 parity — Spark brute-force scorer vs the
SQLite FTS5 oracle, over the reference's own fixture corpora and query
set (FIXTURES.md §2/§4, reference tests/test_main.py)."""

import hashlib

import pytest

from codebased_spark.operators.docs import build_docs, corpus_stats
from codebased_spark.operators.score import search_bruteforce
from codebased_spark.oracle import Fts5Oracle
from codebased_spark.sources.corpus import (
    ALL_FIXTURES,
    GITIGNORE_FOLDER,
    SIMPLE_REPO,
    fixture_corpus,
)
from tests.parity import assert_rank_identical, oracle_hits, spark_hits

QUERIES = [
    "Hello world",
    "Server started",
    "print('print(\"Hello world\");');",
    'hello "world" how are you',
    '"hello world" test "foo bar" baz',
    '"this is a test"',
    'hello! "world?" how_are_you',
    "",
    '"' + "a" * 100 + '" ' + "b" * 100,
    '"hello" "ab"',  # a sub-trigram phrase drops out of the AND
    '"ab" "cd"',     # ...and a query left with none matches nothing
]


def _docs_and_oracle(spark, rows):
    docs = build_docs(fixture_corpus(spark, rows), num_blocks=4)
    docs = docs.persist()
    collected = docs.select("doc_id", "path", "name", "content").collect()
    oracle = Fts5Oracle(
        (r["doc_id"], r["path"], r["name"], r["content"]) for r in collected
    )
    return docs, oracle


@pytest.fixture(scope="module")
def combined(spark):
    docs, oracle = _docs_and_oracle(spark, ALL_FIXTURES)
    n, avgdl = corpus_stats(docs)
    yield docs, oracle, n, avgdl
    docs.unpersist()


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("top_k", [10, 32])
def test_rank_identical_combined(combined, query, top_k):
    docs, oracle, n, avgdl = combined
    ours = spark_hits(search_bruteforce(docs, query, top_k, n, avgdl))
    ref = oracle_hits(oracle.search(query, top_k))
    assert_rank_identical(ours, ref, top_k)


@pytest.mark.parametrize("rows", [SIMPLE_REPO, GITIGNORE_FOLDER], ids=["simple", "gitignore"])
def test_rank_identical_single_repo(spark, rows):
    docs, oracle = _docs_and_oracle(spark, rows)
    try:
        for query in ["Hello world", "Server started", "code"]:
            for top_k in (10, 32):
                ours = spark_hits(search_bruteforce(docs, query, top_k))
                ref = oracle_hits(oracle.search(query, top_k))
                assert_rank_identical(ours, ref, top_k)
    finally:
        docs.unpersist()


def test_doc_ids_deterministic_and_unique(spark, combined):
    docs, *_ = combined
    ids1 = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    docs2 = build_docs(fixture_corpus(spark, ALL_FIXTURES), num_blocks=4)
    ids2 = sorted(r["doc_id"] for r in docs2.select("doc_id").collect())
    assert ids1 == ids2
    assert len(ids1) == len(set(ids1)) == len(ALL_FIXTURES)


def test_sha256_invariant(combined):
    """input_hint invariant: sha256(content) carried end-to-end equals a
    local recompute (reference verifies at search.py:440-442)."""
    docs, *_ = combined
    for r in docs.select("sha256", "content").collect():
        assert r["sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_doc_lengths_match_fts5_definition(combined):
    docs, _, n, avgdl = combined
    rows = docs.select("path", "name", "content", "dl").collect()
    from codebased_spark.functions.fts5 import doc_length

    for r in rows:
        assert r["dl"] == doc_length(r["path"], r["name"], r["content"])
    assert n == len(rows)
