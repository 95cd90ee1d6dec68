"""Q8/Q9 hybrid pipeline: semantic retrieval + 3-tier merge end-to-end,
plus resume-after-partial-build and tombstones-in-batch coverage."""

import os
import shutil

import pytest

from codebased_spark.operators.semantic import doc_features, hybrid_search, semantic_topk
from codebased_spark.plans.engine import build_index
from codebased_spark.sources.corpus import ALL_FIXTURES, fixture_corpus


@pytest.fixture(scope="module")
def hybrid_setup(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("hyb") / "idx")
    index = build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4)
    from codebased_spark.operators.docs import build_docs

    docs = build_docs(fixture_corpus(spark), num_blocks=4).persist()
    feats = doc_features(docs).persist()
    feats.count()
    return index, docs, feats


def test_semantic_topk_self_similarity(spark, hybrid_setup):
    """A doc's own content embeds to distance ~0 of itself; unrelated
    text ranks behind related text."""
    index, docs, feats = hybrid_setup
    express_doc = docs.filter(docs.path == "src/index.js").select("doc_id", "content").collect()[0]
    top = semantic_topk(feats, express_doc["content"], 3).collect()
    assert top[0]["doc_id"] == express_doc["doc_id"]
    assert top[0]["distance"] == pytest.approx(0.0, abs=1e-6)


def test_semantic_deterministic(spark, hybrid_setup):
    _, _, feats = hybrid_setup
    a = [(r["doc_id"], round(r["distance"], 9)) for r in semantic_topk(feats, "hello world server", 5).collect()]
    b = [(r["doc_id"], round(r["distance"], 9)) for r in semantic_topk(feats, "hello world server", 5).collect()]
    assert a == b


def test_hybrid_merge_tiers(spark, hybrid_setup):
    index, docs, feats = hybrid_setup
    merged = hybrid_search(index, feats, "Server started", top_k=10)
    assert merged
    # the fts top hit (index.js) must appear, carrying its bm25 score;
    # docs found by both sources carry both fields
    ids = {m["doc_id"] for m in merged}
    fts_top = index.search("Server started", 10).collect()[0]
    assert int(fts_top["doc_id"]) in ids
    both = [m for m in merged if "score" in m and "distance" in m]
    for m in both:
        assert m["score"] is not None and m["distance"] is not None


def test_resume_after_partial_build(spark, tmp_path):
    """Kill-between-stages: wipe the postings stage (dir + manifest),
    resume — only postings rebuilds; doc_stats output untouched."""
    idx_dir = str(tmp_path / "partial")
    build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4)
    ds = os.path.join(idx_dir, "doc_stats")
    mtime_before = max(os.path.getmtime(os.path.join(ds, f)) for f in os.listdir(ds))

    shutil.rmtree(os.path.join(idx_dir, "postings"))
    os.remove(os.path.join(idx_dir, "_manifest", "postings.json"))

    idx = build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4, resume=True)
    assert idx.n_docs == len(ALL_FIXTURES)
    assert len(idx.posting_files) == 4
    mtime_after = max(os.path.getmtime(os.path.join(ds, f)) for f in os.listdir(ds))
    assert mtime_after == mtime_before  # completed stage was NOT recomputed
    assert idx.search("Hello world", 5).count() > 0


def test_batch_search_respects_tombstones(spark, tmp_path):
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import incremental_update

    idx_dir = str(tmp_path / "tomb")
    v1 = [("r", "a.md", "c" * 40, "text", "unique marker ALPHABRAVO here"),
          ("r", "b.md", "c" * 40, "text", "another doc ALPHABRAVO too")]
    v2 = [v1[1]]  # a.md deleted
    build_index(spark, spark.createDataFrame(v1, CORPUS_SCHEMA), idx_dir, num_blocks=2)
    idx = incremental_update(
        spark, idx_dir, spark.createDataFrame(v2, CORPUS_SCHEMA),
        full_snapshot=True,
    )
    res = idx.search_batch(["ALPHABRAVO"], 10).collect()
    assert len(res) == 1  # the tombstoned doc is gone from batch results too
    single = idx.search("ALPHABRAVO", 10).collect()
    assert len(single) == 1
    assert res[0]["doc_id"] == single[0]["doc_id"]
    assert res[0]["score"] == pytest.approx(single[0]["score"], abs=1e-12)
