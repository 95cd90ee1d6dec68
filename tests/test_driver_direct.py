"""Zero-job driver-direct read-through (operators/query.py r5): a
(sub-)batch whose work is small runs through a driver-side pyarrow
scan — same reads, same block machinery, same scoring pipeline, NO
Spark job. Results must be bit-identical to the distributed path in every shape (covered,
uncovered, tombstones, batch, empty) and rank-identical to FTS5,
routing must obey the route rule (operators/query._direct_route) and
the ``driver_direct`` pin, and the path must genuinely never launch
the distributed scan."""

import pytest

from codebased_spark.operators.phrasedf import build_phrase_df
from codebased_spark.oracle import Fts5Oracle
from codebased_spark.plans.engine import FtsIndex, build_index
from codebased_spark.sources.corpus import fixture_corpus
from tests.parity import assert_rank_identical, oracle_hits

QUERIES = [
    "hello world",
    '"hello world" world',
    "server started",
    "index.js",
    "zqxjkw notthere",   # no hits
    "ab",                # sub-trigram -> empty, no reads
    "hello ab",          # sub-trigram phrase drops out of the AND
    "print hello",
]


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("dd") / "idx")
    build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4)
    direct = FtsIndex(spark, idx_dir)
    dist = FtsIndex(spark, idx_dir)
    direct.driver_direct, dist.driver_direct = True, False
    return direct, dist, idx_dir


def _hits(df):
    return [(int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]),
             float(r["score"])) for r in df.collect()]


def _route_store(spark, tmp_path_factory):
    """A 16-shard store: every file holds "server started" and "value",
    and three hold a rare phrase found in no other file."""
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    rows = [(f"r{i % 12}", f"src/f{i}.py", "c" * 40, "python",
             f"def handler_{i}():\n    return value + {i}  # server started\n")
            for i in range(180)]
    rows += [("rare", f"src/rare_{i}.py", "e" * 40, "python",
              f'"""{RARE} module."""\nRARE = "{RARE} {i}"\n')
             for i in range(3)]
    idx_dir = str(tmp_path_factory.mktemp("route") / "idx")
    build_index(spark, spark.createDataFrame(rows, CORPUS_SCHEMA), idx_dir,
                num_blocks=16)
    return idx_dir


RARE = "zqvx_kw sentinel_jqzz"


def _routed(spark, index, run):
    """(rows, route, Spark jobs) of ``run(index)`` past the cache."""
    index.clear_search_cache()
    group = f"route_{id(index)}_{len(index.query_log)}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = sorted(tuple(r) for r in run(index).collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, index.last_trace["route"], \
        len(sc.statusTracker().getJobIdsForGroup(group))


def test_routing_flags(spark, tmp_path_factory, monkeypatch):
    """The route rule, read back from ``last_trace``: a single query
    over a 16-shard store runs direct (no Spark job), a 32-query batch
    on the same store runs on Spark, and under a byte bound the store
    exceeds a rare phrase presence-pruned to a few shards still runs
    direct while a query keeping every shard does not; both pins
    override the rule. Results agree on every route."""
    import codebased_spark.operators.query as q

    idx_dir = _route_store(spark, tmp_path_factory)
    auto, dist, direct = (FtsIndex(spark, idx_dir) for _ in range(3))
    dist.driver_direct, direct.driver_direct = False, True
    assert auto.driver_direct is None
    assert len(auto.posting_files) == 16
    single = lambda ix: ix.search("server started", 10)  # noqa: E731
    batch = lambda ix: ix.search_batch(  # noqa: E731
        [f"handler_{i} value" for i in range(32)], 10)
    rare = lambda ix: ix.search(f'"{RARE}"', 10)  # noqa: E731

    rows, route, jobs = _routed(spark, auto, single)
    assert (route, jobs, auto.last_trace["route_work"]) == ("direct", 0, 16)
    assert rows == _routed(spark, dist, single)[0]
    rows, route, _ = _routed(spark, auto, batch)
    assert route == "spark" and auto.last_trace["route_work"] > 16
    assert rows == _routed(spark, direct, batch)[0]

    # a byte bound the kept shards of the rare phrase fit, the store not
    kept = sum(auto.shard_bytes[p] for _pb, p in
               q._prune_batch(auto.posting_files,
                              *q._parse_batch([f'"{RARE}"'], auto.n_docs, {}),
                              auto.term_blocks)[0])
    assert kept < sum(auto.shard_bytes.values())
    monkeypatch.setattr(q, "DRIVER_DIRECT_MAX_BYTES", kept)
    rows, route, _ = _routed(spark, auto, rare)
    assert (route, auto.last_trace["route_bytes"]) == ("direct", kept)
    assert 0 < auto.last_trace["route_work"] <= 3
    assert rows == _routed(spark, dist, rare)[0] and len(rows) == 3
    assert _routed(spark, auto, single)[1] == "spark"

    # both pins override the rule
    assert _routed(spark, direct, single)[1:] == ("direct", 0)
    assert _routed(spark, direct, batch)[1] == "direct"
    assert _routed(spark, dist, rare)[1] == "spark"
    monkeypatch.undo()
    assert _routed(spark, dist, single)[1] == "spark"


def test_direct_bit_identical_single_and_batch(spark, pair):
    """Direct feeder == Spark feeder bit for bit, single and batch, and
    both rank-identical to the FTS5 oracle."""
    direct, dist, _ = pair
    content = {(r["repo"], r["path"]): r["content"]
               for r in fixture_corpus(spark).collect()}
    oracle = Fts5Oracle(
        (r["doc_id"], r["path"], r["name"], content[(r["repo"], r["path"])])
        for r in direct.doc_stats.select("doc_id", "repo", "path",
                                         "name").collect())
    for qq in QUERIES:
        got = _hits(direct.search(qq, 10))
        assert got == _hits(dist.search(qq, 10)), qq
        assert_rank_identical([(d, nm, s) for d, nm, _rk, s in got],
                              oracle_hits(oracle.search(qq, 10)), 10)
    got = sorted(tuple(r) for r in direct.search_batch(QUERIES, 10).collect())
    want = sorted(tuple(r) for r in dist.search_batch(QUERIES, 10).collect())
    assert got == want
    # top_k < 1 asks for no rows: an empty result on both feeders (a
    # single-trigram query would otherwise reach the chunk-skipping WAND)
    for qq in ("hel", "hello world"):
        assert _hits(direct.search(qq, 0)) == _hits(dist.search(qq, 0)) == []
    # schemas agree exactly (the gate hashes sorted columns + dtypes)
    assert direct.search("hello world", 5).schema \
        == dist.search("hello world", 5).schema
    assert direct.search_batch(["hello world"], 5).schema \
        == dist.search_batch(["hello world"], 5).schema


def test_direct_covered_and_tombstones(spark, tmp_path):
    """Direct path composes with the phrase-df covered fast path and
    with task-side tombstones — identical to distributed in both."""
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import incremental_update

    v1 = [
        ("r1", "a.py", "c" * 40, "python", 'print("hello world")'),
        ("r1", "b.py", "c" * 40, "python", 'print("hello world twice")'),
        ("r1", "c.md", "c" * 40, "text", "hello hello world hello world"),
    ]
    idx_dir = str(tmp_path / "ddt")
    index = build_index(
        spark, spark.createDataFrame(v1, CORPUS_SCHEMA), idx_dir, num_blocks=2)
    index = incremental_update(  # tombstone b.py
        spark, idx_dir, spark.createDataFrame([v1[0], v1[2]], CORPUS_SCHEMA),
        full_snapshot=True)
    build_phrase_df(spark, index, ["hello world", "hello", "zqxjkw"])

    direct = FtsIndex(spark, idx_dir)
    dist = FtsIndex(spark, idx_dir)
    direct.driver_direct, dist.driver_direct = True, False
    for qq in ['"hello world"', '"hello world" hello', "hello",
               '"hello world" zqxjkw']:
        assert direct._covering_dfs(qq) is not None, qq
        assert _hits(direct.search(qq, 10)) == _hits(dist.search(qq, 10)), qq
    # covered df-0 AND-fail: empty with no reads on either path
    assert _hits(direct.search('"hello world" zqxjkw', 10)) == []


def test_direct_truly_runs_no_spark_scan(spark, pair, monkeypatch):
    """The direct path must never touch the distributed scan: poison
    _scan_df (the range-sourced mapInPandas feeder) — direct searches
    still answer, and the same searches on the distributed handle now
    fail."""
    import codebased_spark.operators.query as q

    direct, dist, _ = pair

    def boom(*_a, **_k):
        raise AssertionError("distributed scan launched")

    monkeypatch.setattr(q, "_scan_df", boom)
    direct._search_cache.clear()
    assert _hits(direct.search("hello world", 5)) is not None
    assert direct.search_batch(["hello world", "server started"], 5).count() >= 0
    dist._search_cache.clear()
    with pytest.raises(Exception):
        dist.search("hello world", 5)
