"""Concurrent query execution on one shared FtsIndex (VERDICT r04 #6).

The engine's "build once, query many" story implies many callers hit
one index handle from threads (Spark supports concurrent actions from
driver threads). Shared mutable state under test: the search cache,
the per-search trace records, and the
covered-path memoization — results must be deterministic and identical
to single-thread execution, covered and uncovered alike."""

from concurrent.futures import ThreadPoolExecutor

import pytest

from codebased_spark.operators.phrasedf import build_phrase_df
from codebased_spark.plans.engine import FtsIndex, build_index
from codebased_spark.sources.corpus import fixture_corpus

QUERIES = [
    "hello world",
    '"hello world" world',
    "server started",
    "index.js",
    "print hello",
    "world",
]


@pytest.fixture(scope="module")
def _conc_idx_dir(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("conc") / "idx")
    index = build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4)
    build_phrase_df(spark, index, ["hello world", "world", "server started"])
    return idx_dir


# both routes race in every test: "distributed" pins the Spark-job path
# (concurrent plain collects), "direct" the zero-job
# driver-side scan (shared reader pool). A fixture-sized index would
# otherwise auto-route direct and leave the distributed state untested.
@pytest.fixture(scope="module", params=["distributed", "direct"])
def shared_index(request, spark, _conc_idx_dir):
    index = FtsIndex(spark, _conc_idx_dir)  # phrase table -> mixed coverage
    index.driver_direct = request.param == "direct"
    return index


def _hits(index, q, top_k=10):
    return tuple(
        (int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
        for r in index.search(q, top_k).collect()
    )


def test_concurrent_searches_deterministic(spark, shared_index):
    index = shared_index
    baseline = {q: _hits(index, q) for q in QUERIES}

    def worker(tid: int):
        # interleave query order per thread so threads genuinely overlap
        # on different queries, not in lockstep
        order = QUERIES[tid % len(QUERIES):] + QUERIES[:tid % len(QUERIES)]
        return {q: _hits(index, q) for q in order}

    n_threads = 8
    for _round in range(2):  # second round hits the warm cache path
        with ThreadPoolExecutor(max_workers=n_threads) as ex:
            results = list(ex.map(worker, range(n_threads)))
        for r in results:
            assert r == baseline


def test_concurrent_mixed_single_and_batch(spark, shared_index):
    """search() and search_batch() racing on the same index agree with
    their single-thread answers."""
    index = shared_index
    want_single = {q: _hits(index, q) for q in QUERIES}
    want_batch = sorted(
        (int(r["qid"]), int(r["doc_id"]), float(r["rank"]))
        for r in index.search_batch(QUERIES, 10).collect()
    )

    def single(_):
        return {q: _hits(index, q) for q in QUERIES}

    def batch(_):
        return sorted(
            (int(r["qid"]), int(r["doc_id"]), float(r["rank"]))
            for r in index.search_batch(QUERIES, 10).collect()
        )

    with ThreadPoolExecutor(max_workers=8) as ex:
        singles = [ex.submit(single, i) for i in range(4)]
        batches = [ex.submit(batch, i) for i in range(4)]
        for f in singles:
            assert f.result() == want_single
        for f in batches:
            assert f.result() == want_batch


def test_concurrent_cache_clear_is_safe(spark, shared_index):
    """A cache clear racing live searches must never corrupt results
    (clear-on-reload runs while queries are in flight operationally)."""
    index = shared_index
    baseline = {q: _hits(index, q) for q in QUERIES}

    def searcher(_):
        out = {}
        for q in QUERIES:
            out[q] = _hits(index, q)
            index.clear_search_cache()
        return out

    with ThreadPoolExecutor(max_workers=8) as ex:
        for r in ex.map(searcher, range(8)):
            assert r == baseline
