"""Incremental maintenance (S6/S7/S11): after updates the index must be
semantically identical to a fresh FTS index of the current corpus —
verified against a fresh SQLite FTS5 oracle over the live docs."""

import os

import pytest
from pyspark.sql import functions as F

from codebased_spark.oracle import Fts5Oracle
from codebased_spark.plans.engine import build_index
from codebased_spark.sources.corpus import CORPUS_SCHEMA, fixture_corpus
from codebased_spark.streaming.incremental import (
    incremental_update,
    stream_corpus_updates,
    tombstone_ratio,
)
from tests.parity import assert_rank_identical, oracle_hits, spark_hits


def _deleted(index):
    """The index's tombstoned doc ids, collected."""
    d = index.deletes_df()
    return set() if d is None else {int(r["doc_id"]) for r in d.collect()}


V1 = [
    ("r1", "a.py", "c" * 40, "python", 'print("Hello, world!")'),
    ("r1", "b.md", "c" * 40, "text", "Hello, world!"),
    ("r1", "srv.js", "c" * 40, "javascript", 'console.log("Server started");'),
    ("r1", "gone.py", "c" * 40, "python", "X = 1  # hello"),
]
# v2: a.py modified, b.md unchanged, srv.js unchanged, gone.py removed, new.go added
V2 = [
    ("r1", "a.py", "d" * 40, "python", 'print("Hello there, world!")\nY = 2'),
    ("r1", "b.md", "c" * 40, "text", "Hello, world!"),
    ("r1", "srv.js", "c" * 40, "javascript", 'console.log("Server started");'),
    ("r1", "new.go", "d" * 40, "go", 'func main() { println("hello world") }'),
]

QUERIES = ["Hello world", "Server started", "hello", "main"]


def _live_docs(spark, index, corpus_rows):
    """The index's live docs (tombstones applied) with content pulled
    from the corpus rows — input for a fresh FTS5 oracle."""
    content = {(r[0], r[1]): r[4] for r in corpus_rows}
    docs = index.doc_stats.select("doc_id", "repo", "path", "name").collect()
    dead = _deleted(index)
    out = []
    for r in docs:
        if int(r["doc_id"]) in dead:
            continue
        out.append((int(r["doc_id"]), r["path"], r["name"], content[(r["repo"], r["path"])]))
    return out


def test_incremental_matches_fresh_oracle(spark, tmp_path):
    idx_dir = str(tmp_path / "inc")
    v1 = spark.createDataFrame(V1, CORPUS_SCHEMA)
    v2 = spark.createDataFrame(V2, CORPUS_SCHEMA)

    build_index(spark, v1, idx_dir, num_blocks=2)
    index = incremental_update(
        spark, idx_dir, v2, full_snapshot=True, num_blocks=2
    )

    assert index.n_docs == 4  # a.py(new), b.md, srv.js, new.go
    assert len(_deleted(index)) == 2  # old a.py + gone.py

    live = _live_docs(spark, index, V2)
    assert len(live) == 4
    oracle = Fts5Oracle(live)
    for q in QUERIES:
        for k in (10, 32):
            ours = spark_hits(index.search(q, k))
            ref = oracle_hits(oracle.search(q, k))
            assert_rank_identical(ours, ref, k)

    # avgdl/N maintained exactly (FTS5 'averages' semantics)
    dls = {
        (r["repo"], r["path"]): int(r["dl"])
        for r in index.doc_stats.collect()
        if int(r["doc_id"]) not in _deleted(index)
    }
    assert index.total_dl == sum(dls.values())
    assert index.n_docs == len(dls)


def test_incremental_noop_when_unchanged(spark, tmp_path):
    idx_dir = str(tmp_path / "noop")
    v1 = spark.createDataFrame(V1, CORPUS_SCHEMA)
    build_index(spark, v1, idx_dir, num_blocks=2)
    before = sorted(os.listdir(os.path.join(idx_dir, "postings")))
    index = incremental_update(spark, idx_dir, v1, full_snapshot=True, num_blocks=2)
    assert index.n_docs == 4
    assert _deleted(index) == set()
    assert sorted(os.listdir(os.path.join(idx_dir, "postings"))) == before


def test_resurfacing_old_content_is_reindexed(spark, tmp_path):
    """path content A -> B -> A: the sha gate must compare against LIVE
    docs, not tombstoned history."""
    idx_dir = str(tmp_path / "aba")
    a = [("r", "f.py", "c" * 40, "python", "AAA version one")]
    b = [("r", "f.py", "c" * 40, "python", "BBB version two")]
    build_index(spark, spark.createDataFrame(a, CORPUS_SCHEMA), idx_dir, num_blocks=2)
    incremental_update(spark, idx_dir, spark.createDataFrame(b, CORPUS_SCHEMA),
                       full_snapshot=True, num_blocks=2)
    index = incremental_update(spark, idx_dir, spark.createDataFrame(a, CORPUS_SCHEMA),
                               full_snapshot=True, num_blocks=2)
    assert index.n_docs == 1
    hits = spark_hits(index.search("AAA", 10))
    assert len(hits) == 1
    assert len(spark_hits(index.search("BBB", 10))) == 0
    assert tombstone_ratio(index) == pytest.approx(2 / 3)


def test_compaction_drops_tombstones_same_results(spark, tmp_path):
    from codebased_spark.streaming.incremental import compact_index

    idx_dir = str(tmp_path / "cmp")
    v1 = spark.createDataFrame(V1, CORPUS_SCHEMA)
    v2 = spark.createDataFrame(V2, CORPUS_SCHEMA)
    build_index(spark, v1, idx_dir, num_blocks=2)
    before = incremental_update(spark, idx_dir, v2, full_snapshot=True, num_blocks=2)
    pre = {
        q: [(r["name_match"], round(r["score"], 9)) for r in before.search(q, 10).collect()]
        for q in QUERIES
    }
    assert _deleted(before)

    compacted = compact_index(spark, idx_dir, v2, num_blocks=2)
    assert _deleted(compacted) == set()
    assert compacted.n_docs == before.n_docs
    assert compacted.doc_stats.count() == 4  # tombstoned rows physically gone
    for q in QUERIES:
        post = [(r["name_match"], round(r["score"], 9))
                for r in compacted.search(q, 10).collect()]
        assert post == pre[q], q


def test_streaming_foreachbatch_updates_index(spark, tmp_path):
    """Structured Streaming file source -> foreachBatch incremental
    merge (the reference's watchdog/debounce loop, §3.3)."""
    idx_dir = str(tmp_path / "stream_idx")
    in_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=2)
    n0 = build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=2).n_docs

    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(in_dir)
    q = stream_corpus_updates(spark, idx_dir, stream, ckpt)
    try:
        spark.createDataFrame(
            [("streamed", "x.py", "e" * 40, "python", "STREAMEDTOKEN = 1")],
            CORPUS_SCHEMA,
        ).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    from codebased_spark.plans.engine import FtsIndex

    index = FtsIndex(spark, idx_dir)
    assert index.n_docs == n0 + 1
    hits = index.search_with_metadata("STREAMEDTOKEN", 5).collect()
    assert len(hits) == 1 and hits[0]["path"] == "x.py"


def test_fresh_block_offset_survives_postingless_blocks(spark, tmp_path):
    """ADVICE.md r01 (medium): the fresh-block offset must come from
    stored doc ids, not posting files. A doc whose every column is
    shorter than 3 chars produces ZERO postings; if it occupies the
    highest block alone, an offset derived from posting files collides
    new doc_ids with its block — silent index corruption."""
    from codebased_spark.operators.docs import DOC_ID_BLOCK_BITS, build_docs

    # find a tiny path that hash-partitions into the TOP block (1 of 2)
    probes = [(f"r1", f"{c}", "c" * 40, "text", "x") for c in "abcdefghij"]
    placed = build_docs(
        spark.createDataFrame(probes, CORPUS_SCHEMA), num_blocks=2
    ).select("path", F.shiftright("doc_id", DOC_ID_BLOCK_BITS).alias("pb")).collect()
    tiny_path = next(r["path"] for r in placed if r["pb"] == 1)
    normal_path = "normal.py"
    # ... and confirm the normal doc lands in block 0 (else pick another)
    for cand in ("normal.py", "other.py", "third.py", "fourth.py"):
        pb = build_docs(
            spark.createDataFrame(
                [("r1", cand, "c" * 40, "python", "def hello(): pass")],
                CORPUS_SCHEMA),
            num_blocks=2,
        ).select(F.shiftright("doc_id", DOC_ID_BLOCK_BITS).alias("pb")).first()["pb"]
        if pb == 0:
            normal_path = cand
            break
    else:
        pytest.skip("no probe path hashed to block 0")

    idx_dir = str(tmp_path / "offset")
    v1 = [
        ("r1", normal_path, "c" * 40, "python", "def hello(): pass"),
        ("r1", tiny_path, "c" * 40, "text", "x"),  # zero postings, block 1
    ]
    index = build_index(
        spark, spark.createDataFrame(v1, CORPUS_SCHEMA), idx_dir, num_blocks=2
    )
    assert max(pb for pb, _ in index.posting_files) == 0  # block 1 is posting-less

    v2 = v1 + [("r1", "added.go", "d" * 40, "go", 'println("added token")')]
    index = incremental_update(spark, idx_dir, spark.createDataFrame(v2, CORPUS_SCHEMA))

    ids = [int(r["doc_id"]) for r in index.doc_stats.select("doc_id").collect()]
    assert len(ids) == len(set(ids)), "doc_id collision after incremental update"
    new_block = next(
        int(r["doc_id"]) >> DOC_ID_BLOCK_BITS
        for r in index.doc_stats.filter(F.col("path") == "added.go").collect()
    )
    assert new_block >= 2  # strictly above every STORED block, not file-derived
    hits = index.search_with_metadata("added token", 5).collect()
    assert len(hits) == 1 and hits[0]["path"] == "added.go"


@pytest.mark.parametrize("query,top_k", [('"value"', 5), ('"val"', 5)])
def test_pruning_respects_tombstones_at_scale(spark, tmp_path, query, top_k):
    """The round-2 pruning layers (emission top-k, single-trigram WAND)
    must compose with tombstones: WAND is bypassed for blocks carrying
    deletes, emission pruning runs AFTER the deleted filter, and df/idf
    reflect live docs only. 600 docs, 150 tombstoned, scores compared
    against a brute-force run over the live corpus by natural key."""
    from codebased_spark.operators.docs import build_docs, corpus_stats
    from codebased_spark.operators.score import search_bruteforce
    from codebased_spark.plans.engine import build_index

    rows = []
    for i in range(600):
        reps = 1 + (i % 7)
        pad = "x" * ((i * 13) % 97)
        rows.append(("r1", f"f{i:05d}.txt", "c" * 40, "text",
                     ("value " * reps) + pad))
    v1 = spark.createDataFrame(rows, CORPUS_SCHEMA)
    live_rows = [r for i, r in enumerate(rows) if i % 4 != 0]  # drop 150
    v2 = spark.createDataFrame(live_rows, CORPUS_SCHEMA)

    idx_dir = str(tmp_path / "prune_tomb")
    build_index(spark, v1, idx_dir, num_blocks=2)
    index = incremental_update(spark, idx_dir, v2, full_snapshot=True)
    assert index.has_deletes and index.n_docs == len(live_rows)

    got = sorted(
        (r["path"], bool(r["name_match"]), round(float(r["score"]), 9))
        for r in index.search_with_metadata(query, top_k).collect()
    )
    docs = build_docs(v2, num_blocks=2)
    n, avgdl = corpus_stats(docs)
    hits = search_bruteforce(docs, query, top_k, n, avgdl)
    want = sorted(
        (r["path"], bool(r["name_match"]), round(float(r["score"]), 9))
        for r in docs.select("doc_id", "path").join(hits, "doc_id").collect()
    )
    assert got == want and len(got) == top_k
