"""M4: the posting-list index path must be rank-identical to BOTH the
SQLite FTS5 oracle and the brute-force Spark path, on the reference
query set — plus index determinism and resume behavior."""

import glob
import os

import pytest

from codebased_spark.operators.score import search_bruteforce
from codebased_spark.oracle import Fts5Oracle
from codebased_spark.plans.engine import FtsIndex, build_index
from codebased_spark.sources.corpus import ALL_FIXTURES, fixture_corpus, gen_corpus
from tests.parity import assert_rank_identical, oracle_hits, spark_hits

QUERIES = [
    "Hello world",
    "Server started",
    "print('print(\"Hello world\");');",
    'hello "world" how are you',
    '"hello world" test "foo bar" baz',
    '"this is a test"',
    "express require",  # cross-column conjunction exercise
    "code hello",       # phrases matching in *different* columns
    "",
    '"hello" "ab"',     # a sub-trigram phrase drops out of the AND
    '"ab" "cd"',        # ...and a query left with none matches nothing
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("idx") / "fixtures")
    index = build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4)
    rows = index.doc_stats.select("doc_id", "path", "name").collect()
    content = {
        (r["repo"], r["path"]): r["content"]
        for r in fixture_corpus(spark).collect()
    }
    full = index.doc_stats.select("doc_id", "repo", "path", "name").collect()
    oracle = Fts5Oracle(
        (r["doc_id"], r["path"], r["name"], content[(r["repo"], r["path"])])
        for r in full
    )
    return index, oracle


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("top_k", [10, 32])
def test_index_rank_identical_to_oracle(built, query, top_k):
    index, oracle = built
    ours = spark_hits(index.search(query, top_k))
    ref = oracle_hits(oracle.search(query, top_k))
    assert_rank_identical(ours, ref, top_k)


@pytest.mark.parametrize("query", ["Hello world", "Server started", "code hello"])
def test_index_matches_bruteforce_exactly(spark, built, query):
    from codebased_spark.operators.docs import build_docs

    index, _ = built
    docs = build_docs(fixture_corpus(spark), num_blocks=4)
    ours = spark_hits(index.search(query, 32))
    brute = spark_hits(search_bruteforce(docs, query, 32, index.n_docs, index.avgdl))
    assert [(d, n, round(s, 12)) for d, n, s in ours] == [
        (d, n, round(s, 12)) for d, n, s in brute
    ]


def test_cross_column_and_matches_sqlite(built):
    """FTS5 row-level AND: phrases may match in different columns
    ('code' in path, 'hello' in content)."""
    index, oracle = built
    ref = oracle.search("code hello", 10)
    assert len(ref) > 0  # the probe is only meaningful if something matches
    ours = spark_hits(index.search("code hello", 10))
    assert_rank_identical(ours, oracle_hits(ref), 10)


# FTS5 drops a phrase under 3 chars (no trigrams) from the conjunction
# when another phrase remains — with identical BM25 scores — and
# matches nothing when none does (probed against SQLite 3.40.1)
SUB_TRIGRAM_QUERIES = [
    '"type"',
    '"type" "ab"',
    '"ab" "type" "x"',
    '"" "type"',
    '"type" "hello world" ")"',
    '"type" "hello world")"',   # quotes to the query above
    '"type" "hello world"',
    '"ab" "cd"',
]


@pytest.fixture(scope="module")
def sub_trigram(spark, tmp_path_factory):
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    rows = []
    for i in range(40):
        parts = ["type " * (1 + i % 4)] if i % 3 == 0 else []
        if i % 4 == 0:
            parts.append("hello world")
        if i % 2 == 0:
            parts.append("f(x)")
        parts.append("ab cd x" if i % 5 == 0 else "filler")
        name = f"types{i}.py" if i % 6 == 0 else f"m{i}.py"
        rows.append(("r1", f"src/{name}", "c" * 40, "python", " ".join(parts)))
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    index = build_index(spark, corpus,
                        str(tmp_path_factory.mktemp("st") / "idx"), num_blocks=2)
    content = {r[1]: r[4] for r in rows}
    oracle = Fts5Oracle(
        (r["doc_id"], r["path"], r["name"], content[r["path"]])
        for r in index.doc_stats.select("doc_id", "path", "name").collect()
    )
    return index, oracle, corpus


@pytest.mark.parametrize("query", SUB_TRIGRAM_QUERIES)
def test_sub_trigram_phrase_drops_like_fts5(spark, sub_trigram, query,
                                            monkeypatch):
    """Every engine path ranks a query holding a sub-trigram phrase
    exactly as FTS5 does: the index on both scan feeders, the generic
    DataFrame scan and the brute-force scan."""
    from codebased_spark.operators.docs import build_docs

    index, oracle, corpus = sub_trigram
    ref = oracle_hits(oracle.search(query, 10))
    assert ref or query == '"ab" "cd"'  # the probe must match something
    try:
        for direct in (True, False):
            monkeypatch.setattr(index, "driver_direct", direct)
            index._search_cache.clear()
            assert_rank_identical(spark_hits(index.search(query, 10)), ref, 10)
    finally:
        index._search_cache.clear()
    generic = FtsIndex(spark, index.index_dir, force_generic_scan=True)
    assert_rank_identical(spark_hits(generic.search(query, 10)), ref, 10)
    brute = search_bruteforce(build_docs(corpus, num_blocks=2), query, 10,
                              index.n_docs, index.avgdl)
    assert_rank_identical(spark_hits(brute), ref, 10)


def _postings_digest(spark, d):
    """(sha256, row count) over every posting row of the index at ``d``."""
    import hashlib

    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(d, "postings", "**", "*.parquet"), recursive=True))
    assert files
    rows = (
        spark.read.parquet(os.path.join(d, "postings"))
        .orderBy("pblock", "term", "col")
        .select("pblock", "term", "col", "df", "doc_bytes", "tf_bytes", "pos_bytes")
        .collect()
    )
    for r in rows:
        h.update(repr((r["pblock"], r["term"], r["col"], r["df"])).encode())
        h.update(bytes(r["doc_bytes"]))
        h.update(bytes(r["tf_bytes"]))
        h.update(bytes(r["pos_bytes"]))
    return h.hexdigest(), len(rows)


def test_index_build_deterministic(spark, tmp_path):
    """Two builds of the same corpus produce byte-identical posting
    shards (SURVEY.md §5.3 item 6)."""
    corpus = gen_corpus(spark, n_repos=6, files_per_repo=4, seed=11)
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus, d1, num_blocks=4)
    build_index(spark, corpus, d2, num_blocks=4)
    assert _postings_digest(spark, d1) == _postings_digest(spark, d2)


@pytest.mark.parametrize("query", ["Hello world", "Server started", "code hello"])
def test_file_scan_path_matches_df_path(spark, built, query):
    """The pyarrow shard-scan search must equal the generic DataFrame
    scan bit-for-bit."""
    index, _ = built
    assert index.posting_files
    fast = spark_hits(index.search(query, 32))
    generic = spark_hits(
        FtsIndex(spark, index.index_dir, force_generic_scan=True).search(query, 32)
    )
    assert [(d, n, round(s, 12)) for d, n, s in fast] == [
        (d, n, round(s, 12)) for d, n, s in generic
    ]


def test_empty_and_single_doc_corpora(spark, tmp_path):
    """Degenerate corpora must build and search cleanly (posting schema
    is pinned on read, so file-less partition dirs don't break load)."""
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    e = build_index(spark, spark.createDataFrame([], CORPUS_SCHEMA),
                    str(tmp_path / "e"), num_blocks=2)
    assert e.n_docs == 0
    assert e.search("hello", 5).count() == 0
    assert e.search_batch(["hello"], 5).count() == 0

    s = build_index(
        spark,
        spark.createDataFrame(
            [("r", "a.py", "c" * 40, "python", "X = 1  # hello world")], CORPUS_SCHEMA
        ),
        str(tmp_path / "s"), num_blocks=2,
    )
    assert s.n_docs == 1
    hit = s.search("hello world", 5).collect()
    assert len(hit) == 1 and hit[0]["score"] > 0


def _generic_rows(index, query, top_k):
    """(name_match, rank, doc_id) of the generic DataFrame scan — the
    independent reference for the shard-scan path (no shard list, no
    presence pruning, no task-level prune, per-block candidates)."""
    generic = FtsIndex(index.spark, index.index_dir, force_generic_scan=True)
    return sorted(
        (bool(r["name_match"]), round(float(r["rank"]), 12), int(r["doc_id"]))
        for r in generic.search(query, top_k).collect()
    )


def test_batch_search_matches_individual(spark, built):
    """Every query of a search_batch must be bit-identical to the
    generic DataFrame scan of that query alone and rank-identical to
    FTS5, with invalid/no-match queries mixed into the batch."""
    index, oracle = built
    queries = ["Hello world", "Server started", "code hello", "zz", "nomatchxyz", "",
               '"wor"', '"hel" "wor"']  # single-trigram WAND + shared-phrase mix
    batch = index.search_batch(queries, top_k=10)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(int(r["qid"]), []).append(
            (int(r["doc_id"]), bool(r["name_match"]), float(r["score"]))
        )
    for qi, q in enumerate(queries):
        got = by_q.get(qi, [])
        assert sorted((nm, round(-s, 12), d) for d, nm, s in got) == \
            _generic_rows(index, q, 10), q
        got.sort(key=lambda t: (not t[1], -t[2], t[0]))
        assert_rank_identical(got, oracle_hits(oracle.search(q, 10)), 10)
    assert 3 not in by_q and 4 not in by_q and 5 not in by_q


def test_batch_search_100_queries_sub_batches(spark, built, monkeypatch):
    """A batch whose candidate bound exceeds DRIVER_FINISH_MAX splits,
    in order, into sub-batches that each fit: 100 two-phrase queries
    under a cap of ten queries' bound run as several collects, none
    over the cap, bit-identical to the generic scan."""
    import codebased_spark.operators.query as q

    index, _ = built
    index._search_cache.clear()
    words = ["hello", "world", "server", "started", "code", "scan",
             "return", "port", "table", "merge"]
    queries = [f"{words[i % 10]} {words[(i * 3 + 1) % 10]}" for i in range(100)]
    want = {qi: _generic_rows(index, queries[qi], 10) for qi in range(0, 100, 11)}
    monkeypatch.setattr(index, "driver_direct", True)
    n_tasks = len(q._direct_chunks(index.posting_files))
    cap = 10 * n_tasks * (2 + 2 * 10)  # ten queries at a 2*top_k share
    monkeypatch.setattr(q, "DRIVER_FINISH_MAX", cap)
    batch = index.search_batch(queries, top_k=10)
    trace = index.last_trace
    assert trace["route"] == "direct" and trace["rescanned"] == 0
    # the queries presence leaves (some fail their AND with no read)
    # run ten to a collect
    assert len(trace["collects"]) >= 2 and max(trace["collects"]) <= cap
    assert trace["candidate_rows"] == sum(trace["collects"])
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(int(r["qid"]), []).append(
            (bool(r["name_match"]), round(float(r["rank"]), 12), int(r["doc_id"]))
        )
    assert any(want.values())
    for qi, rows in want.items():  # sample parity vs the generic scan
        assert sorted(by_q.get(qi, [])) == rows, queries[qi]


def test_multichunk_selective_decode_parity(spark, tmp_path):
    """Blocks with many 128-doc chunks: the chunk-selective membership /
    position reads must give the same scores as the brute-force scan."""
    from codebased_spark.operators.docs import build_docs

    corpus = gen_corpus(spark, n_repos=120, files_per_repo=10, seed=21)  # 1200 files
    idx = build_index(spark, corpus, str(tmp_path / "mc"), num_blocks=2)
    nchunks = max(len(r["skip_last"]) for r in
                  idx.postings.select("skip_last").collect())
    assert nchunks >= 4  # the selective path is actually multi-chunk

    docs = build_docs(corpus, num_blocks=2)
    for q in ["hello world", '"server started on port"', "return scan"]:
        fast = spark_hits(idx.search(q, 32))
        brute = spark_hits(search_bruteforce(docs, q, 32, idx.n_docs, idx.avgdl))
        assert [(d, n, round(s, 12)) for d, n, s in fast] == [
            (d, n, round(s, 12)) for d, n, s in brute
        ], q


def test_fused_build_matches_two_stage(spark):
    """build_postings_fused output is byte-identical to the two-stage
    tokenize -> sort -> encode path."""
    from codebased_spark.operators.build import (
        build_postings,
        build_postings_fused,
        tokenize_docs,
    )
    from codebased_spark.operators.docs import build_docs

    docs = build_docs(fixture_corpus(spark), num_blocks=4).persist()
    try:
        def key(rows):
            return sorted(
                (r["pblock"], r["term"], r["col"], r["df"], bytes(r["doc_bytes"]),
                 bytes(r["tf_bytes"]), bytes(r["pos_bytes"]), bytes(r["dl_bytes"]),
                 tuple(r["skip_last"]), tuple(r["skip_max_tf"]), tuple(r["skip_min_dl"]))
                for r in rows
            )

        fused = key(build_postings_fused(docs).collect())
        staged = key(build_postings(tokenize_docs(docs)).collect())
        assert fused == staged and len(fused) > 0
    finally:
        docs.unpersist()


def test_resume_skips_completed_stages(spark, tmp_path, monkeypatch):
    """Wiping the postings record re-runs only that stage, and with no
    stats aggregation: the doc_stats record already holds the totals."""
    import codebased_spark.plans.engine as engine

    idx_dir = str(tmp_path / "resume")
    corpus = fixture_corpus(spark, ALL_FIXTURES)
    build_index(spark, corpus, idx_dir, num_blocks=4)
    want = _postings_digest(spark, idx_dir)
    doc_stats = os.path.join(idx_dir, "_manifest", "doc_stats.json")
    with open(doc_stats) as f:
        recorded = f.read()
    os.remove(os.path.join(idx_dir, "_manifest", "postings.json"))

    def no_agg(*_a, **_k):
        raise AssertionError("a postings-only resume ran the stats aggregation")

    monkeypatch.setattr(engine, "get_block_rows", no_agg)
    idx = build_index(spark, corpus, idx_dir, num_blocks=4, resume=True)
    assert idx.n_docs == len(ALL_FIXTURES)
    assert os.path.exists(os.path.join(idx_dir, "_manifest", "postings.json"))
    with open(doc_stats) as f:
        assert f.read() == recorded
    assert _postings_digest(spark, idx_dir) == want


def test_resume_rebuilds_stale_format_stages(spark, tmp_path):
    """ADVICE r02: a stage manifest recorded by an OLDER engine format
    is NOT done — resuming over a v1 partial build must re-run the
    stage, or the finished index would mix formats under a current
    version stamp."""
    import json

    idx_dir = str(tmp_path / "resume_v1")
    corpus = fixture_corpus(spark, ALL_FIXTURES)
    build_index(spark, corpus, idx_dir, num_blocks=4)
    # simulate a partial build left by an older engine: postings stage
    # claims done at version 1, and its shards are gone
    man = os.path.join(idx_dir, "_manifest", "postings.json")
    with open(man) as f:
        rec = json.load(f)
    rec["version"] = 1
    with open(man, "w") as f:
        json.dump(rec, f)
    import shutil

    shutil.rmtree(os.path.join(idx_dir, "postings"))
    idx = build_index(spark, corpus, idx_dir, num_blocks=4, resume=True)
    with open(man) as f:
        rec2 = json.load(f)
    from codebased_spark.plans.engine import FORMAT_VERSION

    assert rec2["version"] == FORMAT_VERSION  # stage re-ran
    assert idx.posting_files  # shards exist again
    assert idx.postings.count() > 0


def test_resume_after_crash_before_stats_manifests(spark, tmp_path, monkeypatch):
    """A build killed after every table is written but before the
    doc_stats manifest lands records no stage at all, so a resume with
    a different num_blocks rebuilds the postings at the block count the
    resumed doc_stats manifest records — never postings from the killed
    build paired with a regenerated num_blocks."""
    import json

    import codebased_spark.plans.engine as engine

    corpus = fixture_corpus(spark)
    idx_dir = str(tmp_path / "crashed")
    real = engine._write_manifest

    def crash_on_doc_stats(fs, index_dir, stage, payload):
        if stage == "doc_stats":
            raise RuntimeError("killed before the doc_stats manifest")
        real(fs, index_dir, stage, payload)

    monkeypatch.setattr(engine, "_write_manifest", crash_on_doc_stats)
    with pytest.raises(RuntimeError, match="killed"):
        build_index(spark, corpus, idx_dir, num_blocks=4)
    monkeypatch.setattr(engine, "_write_manifest", real)

    index = build_index(spark, corpus, idx_dir, num_blocks=2, resume=True)
    with open(os.path.join(idx_dir, "_manifest", "doc_stats.json")) as f:
        recorded = json.load(f)["num_blocks"]
    assert index.num_blocks == recorded == 2
    clean = str(tmp_path / "clean")
    build_index(spark, corpus, clean, num_blocks=recorded)
    assert _postings_digest(spark, idx_dir) == _postings_digest(spark, clean)

    full = index.doc_stats.select("doc_id", "repo", "path", "name").collect()
    content = {(r["repo"], r["path"]): r["content"] for r in corpus.collect()}
    oracle = Fts5Oracle(
        (r["doc_id"], r["path"], r["name"], content[(r["repo"], r["path"])])
        for r in full
    )
    for query in QUERIES:
        assert_rank_identical(spark_hits(index.search(query, 10)),
                              oracle_hits(oracle.search(query, 10)), 10)


def test_rebuild_over_existing_index_starts_clean(spark, tmp_path, monkeypatch):
    """A non-resume build_index over an existing index replaces it
    whole: the earlier generation's tombstones, incremental manifests
    and phrase-df table do not survive, so the rebuild equals a fresh
    build; and a crash inside the rebuild resumes onto none of the
    earlier generation's manifests."""
    import codebased_spark.plans.engine as engine
    from codebased_spark.operators.phrasedf import build_phrase_df
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import incremental_update

    v = [
        ("r1", "a.py", "c" * 40, "python", 'print("hello")'),
        ("r1", "b.py", "c" * 40, "python", "hello again"),
        ("r1", "c.md", "c" * 40, "text", "hello hello there"),
    ]
    corpus = spark.createDataFrame(v, CORPUS_SCHEMA)
    idx_dir = str(tmp_path / "rebuilt")
    fresh_dir = str(tmp_path / "fresh")
    fresh = build_index(spark, corpus, fresh_dir, num_blocks=2)
    want = spark_hits(fresh.search("hello", 10))
    assert len(want) == 3

    def earlier_generation():
        """Build, add a phrase-df table, then commit a snapshot that
        drops b.py and rewrites c.md (tombstones + appended blocks)."""
        index = build_index(spark, corpus, idx_dir, num_blocks=2)
        build_phrase_df(spark, index, ["hello"])
        batch = [v[0], v[2][:4] + ("hello there again",)]
        incremental_update(spark, idx_dir,
                           spark.createDataFrame(batch, CORPUS_SCHEMA),
                           full_snapshot=True)

    earlier_generation()
    rebuilt = build_index(spark, corpus, idx_dir, num_blocks=2)
    assert (rebuilt.n_docs, rebuilt.has_deletes) == (3, False)
    assert rebuilt.phrase_dfs == {}
    assert not os.path.exists(os.path.join(idx_dir, "phrase_df"))
    assert not [f for f in os.listdir(os.path.join(idx_dir, "_manifest"))
                if f.startswith("incr_")]
    assert spark_hits(rebuilt.search("hello", 10)) == want
    assert _postings_digest(spark, idx_dir) == _postings_digest(spark, fresh_dir)

    earlier_generation()

    def killed(*_a, **_k):
        raise RuntimeError("killed during the posting write")

    monkeypatch.setattr(engine, "_write_postings", killed)
    with pytest.raises(RuntimeError, match="killed"):
        build_index(spark, corpus, idx_dir, num_blocks=2)
    monkeypatch.undo()
    resumed = build_index(spark, corpus, idx_dir, num_blocks=2, resume=True)
    assert _postings_digest(spark, idx_dir) == _postings_digest(spark, fresh_dir)
    assert spark_hits(resumed.search("hello", 10)) == want


def test_build_docs_runs_once_per_build(spark, tmp_path, monkeypatch):
    """The docs lineage is built once per fresh build (shared by the
    stats thread and the posting write), and not at all by a resume
    that only has the presence table left to write."""
    import codebased_spark.plans.engine as engine

    calls = []
    real = engine.build_docs

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(engine, "build_docs", counting)
    idx_dir = str(tmp_path / "once")
    corpus = fixture_corpus(spark)
    build_index(spark, corpus, idx_dir, num_blocks=4)
    assert len(calls) == 1
    os.remove(os.path.join(idx_dir, "_manifest", "term_blocks.json"))
    index = build_index(spark, corpus, idx_dir, num_blocks=4, resume=True)
    assert len(calls) == 1
    assert index.term_blocks is not None
    assert index.term_blocks.covered == {pb for pb, _p in index.posting_files}


def test_manifest_lineage(spark, tmp_path):
    import json

    idx_dir = str(tmp_path / "lineage")
    build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4)
    with open(os.path.join(idx_dir, "_manifest", "postings.json")) as f:
        m = json.load(f)
    assert m["stage"] == "postings"
    assert sum(v["rows"] for v in m["per_block"].values()) > 0
    with open(os.path.join(idx_dir, "_manifest", "doc_stats.json")) as f:
        d = json.load(f)
    assert sum(d["docs_per_block"].values()) == len(ALL_FIXTURES)


def test_cogrouped_deletes_match_fast_path(spark, tmp_path):
    """The generic DataFrame scan applies tombstones via a per-pblock
    cogroup (distributed — nothing on the driver); results must equal
    the pyarrow fast path, which reads deletes/pblock=N task-side."""
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import incremental_update

    v1 = [
        ("r1", "a.py", "c" * 40, "python", 'print("hello world")'),
        ("r1", "b.py", "c" * 40, "python", 'print("hello again world")'),
        ("r1", "c.md", "c" * 40, "text", "hello hello hello world"),
    ]
    v2 = [v1[0], v1[2]]  # b.py deleted
    idx_dir = str(tmp_path / "cg")
    build_index(spark, spark.createDataFrame(v1, CORPUS_SCHEMA), idx_dir, num_blocks=2)
    index = incremental_update(
        spark, idx_dir, spark.createDataFrame(v2, CORPUS_SCHEMA), full_snapshot=True
    )
    assert index.has_deletes

    fast = spark_hits(index.search("hello world", 32))
    generic = spark_hits(
        FtsIndex(spark, idx_dir, force_generic_scan=True).search("hello world", 32)
    )
    assert fast == generic
    live_paths = {r["path"] for r in index.search_with_metadata("hello world", 32).collect()}
    assert "b.py" not in live_paths and live_paths == {"a.py", "c.md"}


def _mk_corpus_rows(n):
    """n docs all containing 'value' with varying tf and dl, plus tie
    groups (identical tf+dl -> identical norms -> doc_id tie-breaks)."""
    rows = []
    for i in range(n):
        reps = 1 + (i % 7)          # tf varies
        pad = "x" * ((i * 13) % 97)  # dl varies
        if i % 11 == 0:
            reps, pad = 3, "y" * 20  # tie group: same tf, same dl
        rows.append(
            ("r1", f"f{i:05d}.txt", "c" * 40, "text",
             ("value " * reps) + pad)
        )
    return rows


@pytest.mark.parametrize("query,top_k", [
    ('"value"', 5),    # single phrase, 3 trigrams -> emission pruning
    ('"val"', 5),      # single trigram, content-only -> Block-Max WAND path
    ('"val"', 32),
    ('"alu"', 7),
])
def test_topk_pruning_stays_exact(spark, tmp_path, query, top_k):
    """The exact-pruning layers (emission top-k + single-trigram WAND)
    must be invisible in results: index path == brute force bit-for-bit
    on a corpus big enough that every block prunes (600 docs >> 2*k,
    multiple skip chunks per posting row, planted norm ties)."""
    from codebased_spark.operators.query import SKIP_EVERY  # noqa: F401
    from codebased_spark.operators.score import search_bruteforce
    from codebased_spark.operators.docs import build_docs, corpus_stats
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    rows = _mk_corpus_rows(600)
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    idx_dir = str(tmp_path / f"prune_{top_k}")
    index = build_index(spark, corpus, idx_dir, num_blocks=2)

    docs = build_docs(corpus, num_blocks=2)
    n, avgdl = corpus_stats(docs)
    want = [
        (r["doc_id"], r["name_match"], round(r["score"], 12))
        for r in search_bruteforce(docs, query, top_k, n, avgdl).collect()
    ]
    got = [
        (r["doc_id"], r["name_match"], round(r["score"], 12))
        for r in index.search(query, top_k).collect()
    ]
    assert got == want
    assert len(got) == top_k  # the corpus saturates every k we test


def test_single_trigram_wand_unit(spark):
    """_single_trigram_wand == full-decode ranking on a synthetic row
    with many chunks, adversarial bounds, and norm ties."""
    import numpy as np

    from codebased_spark.functions.codec import encode_posting_chunked
    from codebased_spark.operators.build import _encode_row, POSTING_SCHEMA  # noqa: F401
    from codebased_spark.operators.query import _Row, _norm_np, _single_trigram_wand

    rng = np.random.RandomState(5)
    n = 1000
    doc_ids = np.sort(rng.choice(10**6, size=n, replace=False)).astype("int64")
    tfs = rng.randint(1, 40, size=n).astype("int64")
    tfs[::50] = 39  # ties at the top
    dls = rng.randint(10, 5000, size=n).astype("int64")
    flat_pos = np.concatenate([np.arange(t) for t in tfs]).astype("int64")
    avgdl = 812.5

    row = _encode_row(0, 123, 2, doc_ids, tfs, flat_pos, dls)
    cols = ["pblock", "term", "col", "df",
            "doc_bytes", "tf_bytes", "pos_bytes", "dl_bytes",
            "skip_last", "skip_max_tf", "skip_min_dl",
            "skip_doc_off", "skip_tf_off", "skip_pos_off", "skip_dl_off"]
    rec = dict(zip(cols, row))
    r = _Row(rec)

    for k in (1, 5, 32, 500, 2000):
        kd, kt, kl = _single_trigram_wand(_Row(dict(rec)), k, avgdl)
        norms = _norm_np(tfs, dls, avgdl)
        sel = np.lexsort((doc_ids, -norms))[:k]
        want = np.sort(doc_ids[sel])
        assert (kd == want).all(), k
        idx = np.searchsorted(doc_ids, kd)
        assert (kt == tfs[idx]).all() and (kl == dls[idx]).all()


def _brute_dfs(spark, index, phrase):
    """(df_all, df_name) of a phrase over the fixture corpus, counted in
    python — the phrase-df side table's values, without building it."""
    from codebased_spark.functions.fts5 import casefold, count_overlapping

    content = {(r["repo"], r["path"]): r["content"]
               for r in fixture_corpus(spark).collect()}
    da = dn = 0
    for r in index.doc_stats.select("repo", "path", "name").collect():
        cols = [r["path"], r["name"], content[(r["repo"], r["path"])]]
        da += any(count_overlapping(casefold(c), phrase) for c in cols)
        dn += count_overlapping(casefold(r["name"]), phrase) > 0
    return da, dn


def _with_covered(spark, index, monkeypatch):
    """Give the shared fixture index phrase-df coverage for one
    multi-phrase query (restored by monkeypatch) and return the query."""
    covered = "hello print"
    monkeypatch.setattr(index, "phrase_dfs", {
        p: _brute_dfs(spark, index, p) for p in ("hello", "print")})
    assert index._covering_dfs(covered) is not None
    return covered


SKY_QUERIES = ['"value"', "value xke", "value xke merge", "xke merge"]
SKY_COVERED = "xke merge"  # every phrase in the fixture's phrase-df table
SKY_TOP_K = 3


@pytest.fixture(scope="module")
def skyband(spark, tmp_path_factory):
    """A 4-block index whose multi-phrase k-skybands outgrow a small
    per-task share (tests.parity.skyband_rows), with a phrase-df table
    covering SKY_COVERED, and its FTS5 oracle."""
    from codebased_spark.operators.phrasedf import build_phrase_df
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from tests.parity import skyband_rows

    rows = skyband_rows()
    idx_dir = str(tmp_path_factory.mktemp("sky") / "idx")
    index = build_index(spark, spark.createDataFrame(rows, CORPUS_SCHEMA),
                        idx_dir, num_blocks=4)
    build_phrase_df(spark, index, ["merge", "xke"])
    content = {r[1]: r[4] for r in rows}
    oracle = Fts5Oracle(
        (r["doc_id"], r["path"], r["name"], content[r["path"]])
        for r in index.doc_stats.select("doc_id", "path", "name").collect())
    return idx_dir, oracle


def _readers(spark, idx_dir):
    """{reader: (FtsIndex, task count)} over one index: the direct and
    Spark feeders of the pyarrow reader, and the generic reader."""
    import codebased_spark.operators.query as q

    direct, spark_fed = FtsIndex(spark, idx_dir), FtsIndex(spark, idx_dir)
    direct.driver_direct, spark_fed.driver_direct = True, False
    generic = FtsIndex(spark, idx_dir, force_generic_scan=True)
    files = direct.posting_files
    return {"direct": (direct, len(q._direct_chunks(files))),
            "spark": (spark_fed, q._scan_tasks(spark, len(files))),
            "generic": (generic, q._scan_tasks(spark))}


def _forced_cap(n_tasks):
    """A DRIVER_FINISH_MAX that fits one single-phrase or covered query
    per task (2*top_k + 1 rows) or one two-phrase query at a 2*top_k
    share, and no more: below the skyband fixture's multi-phrase
    skybands, above one query's covered bound."""
    return n_tasks * (2 * SKY_TOP_K + 2)


def _ranked(df, with_qid=False):
    rows = [((int(r["qid"]),) if with_qid else ())
            + (int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
            for r in df.collect()]
    return sorted(rows) if with_qid else rows


def test_overflow_rescan_matches_unforced(spark, skyband, monkeypatch):
    """Forced overflow on every reader: under a cap below the
    multi-phrase skybands, each multi-phrase query yields markers and
    is rescanned with the dfs its first pass summed, the batch splits
    into sub-batches, no collect exceeds the cap, and every result is
    bit-identical to the unforced run (itself equal across the three
    readers, so to the generic scan) and rank-identical to FTS5."""
    import codebased_spark.operators.query as q

    idx_dir, oracle = skyband
    unforced = None
    for reader, (index, n_tasks) in _readers(spark, idx_dir).items():
        assert index._covering_dfs(SKY_COVERED) is not None
        monkeypatch.setattr(q, "DRIVER_FINISH_MAX", 200_000)
        want = {qq: _ranked(index.search(qq, SKY_TOP_K)) for qq in SKY_QUERIES}
        want_b = _ranked(index.search_batch(SKY_QUERIES, SKY_TOP_K), True)
        assert index.last_trace["rescanned"] == 0
        for qq in SKY_QUERIES:
            assert len(want[qq]) == SKY_TOP_K
            assert_rank_identical([(d, nm, -rk) for d, nm, rk in want[qq]],
                                  oracle_hits(oracle.search(qq, SKY_TOP_K)),
                                  SKY_TOP_K)
        if unforced is None:
            unforced = (want, want_b)
        assert (want, want_b) == unforced, reader

        cap = _forced_cap(n_tasks)
        monkeypatch.setattr(q, "DRIVER_FINISH_MAX", cap)
        index.clear_search_cache()
        for qq in SKY_QUERIES:
            assert _ranked(index.search(qq, SKY_TOP_K)) == want[qq], (reader, qq)
            trace = index.last_trace
            multi = qq in ("value xke", "value xke merge")
            assert trace["rescanned"] == int(multi), (reader, qq)
            assert len(trace["collects"]) == 1 + int(multi)
            assert max(trace["collects"]) <= cap
        got_b = _ranked(index.search_batch(SKY_QUERIES, SKY_TOP_K), True)
        assert got_b == want_b, reader
        trace = index.last_trace
        assert trace["rescanned"] == 2
        assert len(trace["collects"]) == len(SKY_QUERIES) + 2  # one each
        assert max(trace["collects"]) <= cap
        index.clear_search_cache()


def test_pareto_skyband_matches_bruteforce():
    """The sort-filter-skyline sweep returns EXACTLY the brute-force
    k-skyband (docs with < top_k dominators), including tie groups and
    duplicate norm vectors — across sizes, phrase counts, and k."""
    import numpy as np

    from codebased_spark.operators.query import _norm_np, _pareto_survivors

    rng = np.random.RandomState(42)
    for n, p, k in [(50, 2, 3), (200, 3, 5), (500, 2, 10), (300, 4, 1)]:
        tfs = rng.randint(1, 8, size=(n, p)).astype(np.int64)
        tfs[:: 7] = tfs[0]  # duplicate-vector tie groups
        dl = rng.randint(10, 200, size=n).astype(np.int64)
        dl[::7] = dl[0]
        doc_ids = np.arange(n, dtype=np.int64) * 3 + 1
        avgdl = 55.5
        got = _pareto_survivors(tfs, dl, doc_ids, avgdl, k, chunk=64)
        N = np.stack([_norm_np(tfs[:, i], dl, avgdl) for i in range(p)], axis=1)
        ge = (N[None, :, :] >= N[:, None, :]).all(axis=2)
        gt = (N[None, :, :] > N[:, None, :]).any(axis=2)
        idlt = doc_ids[None, :] < doc_ids[:, None]
        dom = ge & (gt | idlt)
        want = dom.sum(axis=1) < k
        assert (got == want).all(), (n, p, k)


def test_pareto_prunes_above_old_cap():
    """VERDICT r02 #4: blocks beyond the old 8,192-survivor cap must
    still prune (the cap is gone) — and quickly, since the kept
    frontier stays near the skyband size."""
    import time

    import numpy as np

    from codebased_spark.operators.query import _pareto_survivors

    rng = np.random.RandomState(7)
    n = 20_000
    tfs = rng.randint(1, 30, size=(n, 2)).astype(np.int64)
    dl = rng.randint(10, 500, size=n).astype(np.int64)
    doc_ids = np.arange(n, dtype=np.int64)
    t0 = time.time()
    keep = _pareto_survivors(tfs, dl, doc_ids, 100.0, 32)
    took = time.time() - t0
    assert keep.sum() < n // 4  # actual pruning happened above the old cap
    assert took < 10.0  # and not via an O(n^2) matrix


@pytest.mark.parametrize("query,top_k", [
    ('"value" "xke"', 3),
    ("table merge", 5),
    ('"aa" "bb"', 5),       # sub-trigram phrases -> empty, no pruning crash
])
def test_multiphrase_pareto_pruning_exact(spark, tmp_path, query, top_k):
    """Multi-phrase emission pruning (Pareto dominance) must be
    invisible: index == brute force on a corpus where both phrases are
    common, tfs are correlated AND anti-correlated, and ties exist."""
    from codebased_spark.operators.docs import build_docs, corpus_stats
    from codebased_spark.operators.score import search_bruteforce
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    rows = []
    for i in range(400):
        a = 1 + (i % 5)          # "value" tf
        b = 1 + ((i * 7) % 4)    # "xke" tf (anti-correlated pattern)
        if i % 13 == 0:
            a, b = 2, 2          # tie groups
        body = ("value " * a) + ("xke " * b) + ("table merge " * (i % 3)) + "z" * (i % 50)
        rows.append(("r1", f"p{i:04d}.txt", "c" * 40, "text", body))
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    index = build_index(spark, corpus, str(tmp_path / "mp"), num_blocks=2)

    docs = build_docs(corpus, num_blocks=2)
    n, avgdl = corpus_stats(docs)
    want = [(r["doc_id"], r["name_match"], round(r["score"], 12))
            for r in search_bruteforce(docs, query, top_k, n, avgdl).collect()]
    got = [(r["doc_id"], r["name_match"], round(r["score"], 12))
           for r in index.search(query, top_k).collect()]
    assert got == want


def _jobs_of(spark, group, action):
    """(action(), Spark jobs it ran), counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_tail_bound_routing(spark, skyband, monkeypatch):
    """Every route ends in one plain collect per (sub-)batch finished
    on the driver: no persist, no limit. Under the default cap each
    query is one Spark job. Under a forced cap, single-phrase and
    covered queries still are, and exactly the queries that carried an
    overflow marker are rescanned, each with one more job."""
    from pyspark.sql import DataFrame

    import codebased_spark.operators.query as q

    idx_dir, _ = skyband
    index, n_tasks = _readers(spark, idx_dir)["spark"]

    def refused(*_a, **_k):
        raise AssertionError("the query path persisted or limited")

    monkeypatch.setattr(DataFrame, "persist", refused)
    monkeypatch.setattr(DataFrame, "limit", refused)
    marked = []
    real_tail = q._driver_tail

    def spy(*a):
        out, rescan = real_tail(*a)
        marked.extend(rescan)
        return out, rescan

    monkeypatch.setattr(q, "_driver_tail", spy)
    for cap in (200_000, _forced_cap(n_tasks)):
        monkeypatch.setattr(q, "DRIVER_FINISH_MAX", cap)
        for qq in SKY_QUERIES:
            index.clear_search_cache()
            del marked[:]
            _, n_jobs = _jobs_of(spark, f"route_{cap}_{qq}",
                                 lambda: index.search(qq, SKY_TOP_K).collect())
            overflow = cap < 200_000 and qq in ("value xke", "value xke merge")
            assert marked == ([0] if overflow else []), (cap, qq)
            assert index.last_trace["rescanned"] == len(marked)
            assert n_jobs == 1 + int(overflow), (cap, qq)
        del marked[:]
        index.search_batch(SKY_QUERIES, SKY_TOP_K).collect()
        assert sorted(marked) == ([1, 2] if cap < 200_000 else [])
        assert index.last_trace["rescanned"] == len(marked)


def test_tail_bound_derivation(monkeypatch):
    """_tail_bound is exact for every query shape: per task, n_ph
    summed stat rows plus 2*top_k doc rows for a single-phrase or
    covered query, and for each uncovered multi-phrase query an even
    split of what the cap leaves, never under 2*top_k; times the task
    count. _sub_batches cuts a batch over the cap into runs that fit."""
    import codebased_spark.operators.query as q
    from codebased_spark.operators.query import DRIVER_FINISH_MAX, _tail_bound

    assert _tail_bound(4, [1], 32) == (4 * (2 * 32 + 1), 64)
    per_task = DRIVER_FINISH_MAX // 10
    assert _tail_bound(10, [3], 32) == (DRIVER_FINISH_MAX, per_task - 3)
    per_task = DRIVER_FINISH_MAX // 5
    assert _tail_bound(5, [1, 2], 32) == (
        DRIVER_FINISH_MAX, per_task - (2 * 32 + 1) - 2)
    assert _tail_bound(3, [2, 3], 32) == (
        3 * (5 + 2 * ((DRIVER_FINISH_MAX // 3 - 5) // 2)),
        (DRIVER_FINISH_MAX // 3 - 5) // 2)
    # block count never enters: a 32-task scan keeps a 6-query
    # single-phrase batch under the cap however many shards it reads
    assert _tail_bound(32, [1] * 6, 32) == (32 * 6 * 65, 64)
    assert 32 * 6 * 65 <= DRIVER_FINISH_MAX
    # past the cap even at the 2*top_k floor: the bound says so, and the
    # batch runs one query per sub-batch
    bound, share = _tail_bound(4_000, [2], 32)
    assert share == 64 and bound == 4_000 * 66 > DRIVER_FINISH_MAX
    parsed = [(qi, ["p"] * n_ph, None) for qi, n_ph in enumerate([1, 2, 3])]
    assert q._sub_batches(parsed, {}, 4_000, 32) == [([p], 64) for p in parsed]
    # ten queries' floor costs fit, eleven do not
    monkeypatch.setattr(q, "DRIVER_FINISH_MAX", 4 * 10 * (2 + 2 * 10))
    parsed = [(qi, ["a", "b"], None) for qi in range(25)]
    subs = q._sub_batches(parsed, {}, 4, 10)
    assert [len(s) for s, _share in subs] == [10, 10, 5]
    assert [p for s, _share in subs for p in s] == parsed
    for s, share in subs:
        assert (q._tail_bound(4, [2] * len(s), 10)[1], share >= 20) == \
            (share, True)
        assert q._tail_bound(4, [2] * len(s), 10)[0] <= q.DRIVER_FINISH_MAX
    # a covered query is charged like a single phrase (2*top_k + 1 per
    # task): under room for eleven of those, eleven covered queries fit
    # in a run where eleven uncovered ones do not
    monkeypatch.setattr(q, "DRIVER_FINISH_MAX", 4 * 11 * (1 + 2 * 10))
    known = {qi: ([1.0, 1.0], [0.0, 0.0]) for qi in range(25)}
    assert [len(s) for s, _share in q._sub_batches(parsed, known, 4, 10)] \
        == [11, 11, 3]
    assert [len(s) for s, _share in q._sub_batches(parsed, {}, 4, 10)] \
        == [10, 10, 5]


def test_tail_bound_charges_per_task(spark, tmp_path, monkeypatch):
    """A 16-block index with DRIVER_FINISH_MAX set between the per-task
    and the per-block candidate bounds: a single search and a batch
    both run as exactly ONE Spark job, one collect and no rescan. (A
    per-block charge would split the batch into sub-batches, one job
    each, although per-task emission keeps its rows under the cap.)"""
    import codebased_spark.operators.query as q
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    n_blocks, top_k = 16, 5
    corpus = spark.createDataFrame(_mk_corpus_rows(600), CORPUS_SCHEMA)
    index = build_index(spark, corpus, str(tmp_path / "pt"), num_blocks=n_blocks)
    index.driver_direct = False
    assert len(index.posting_files) == n_blocks
    queries = ['"value"', '"val"']  # single-phrase: exact bounds
    want = {qq: _generic_rows(index, qq, top_k) for qq in queries}

    n_tasks = q._scan_tasks(spark, n_blocks)
    per_task = q._tail_bound(n_tasks, [1, 1], top_k)[0]
    per_block = q._tail_bound(n_blocks, [1, 1], top_k)[0]
    assert per_task < per_block
    monkeypatch.setattr(q, "DRIVER_FINISH_MAX", (per_task + per_block) // 2)

    rows, n_jobs = _jobs_of(
        spark, "per_task_single",
        lambda: index.search(queries[0], top_k).collect())
    assert n_jobs == 1
    assert len(index.last_trace["collects"]) == 1
    assert index.last_trace["rescanned"] == 0
    assert sorted((bool(r["name_match"]), round(float(r["rank"]), 12),
                   int(r["doc_id"])) for r in rows) == want[queries[0]]

    rows, n_jobs = _jobs_of(
        spark, "per_task_batch",
        lambda: index.search_batch(queries, top_k).collect())
    assert n_jobs == 1
    assert len(index.last_trace["collects"]) == 1
    assert index.last_trace["rescanned"] == 0
    for qi, qq in enumerate(queries):
        assert sorted((bool(r["name_match"]), round(float(r["rank"]), 12),
                       int(r["doc_id"])) for r in rows
                      if r["qid"] == qi) == want[qq], qq


# the generic reader's shuffle by pblock: its map stage and the scan
GENERIC_SCAN_JOBS = 2


@pytest.mark.parametrize("reader,jobs", [
    ("direct", 0), ("spark", 1), ("generic", GENERIC_SCAN_JOBS)])
def test_common_path_job_counts(spark, built, monkeypatch, reader, jobs):
    """The common path gains no job: single-phrase, covered and
    multi-phrase queries under their share, and the 6-query batch, each
    run as one scan (one Spark job on the Spark feeder, none on the
    direct one; the generic reader's pblock shuffle runs its map stage
    as a job of its own) with one collect and no rescan."""
    base, _ = built
    covered = _with_covered(spark, base, monkeypatch)
    index = _readers(spark, base.index_dir)[reader][0]
    monkeypatch.setattr(index, "phrase_dfs", base.phrase_dfs)
    for name, run in [
            ("single", lambda: index.search('"world"', 10).collect()),
            ("covered", lambda: index.search(covered, 10).collect()),
            ("multi", lambda: index.search("code hello", 10).collect()),
            ("batch6", lambda: index.search_batch(QUERIES[:6], 10).collect())]:
        _, n_jobs = _jobs_of(spark, f"common_{reader}_{name}", run)
        trace = index.last_trace
        assert (trace["route"], n_jobs) == (reader, jobs), name
        assert len(trace["collects"]) == 1 and trace["rescanned"] == 0, name
        assert trace["covered"] == int(name == "covered"), name


def test_concurrent_searches_one_session(spark, built):
    """VERDICT r03 #6: query tails racing on one SparkSession stay
    deterministic. The tail once scoped a session-conf override around
    its collect; every collect is now plain, so the check that the
    session conf is left as it was pins that the query path sets no
    session conf at all."""
    import threading

    index, _ = built
    key = "spark.sql.limit.initialNumPartitions"
    before = spark.conf.get(key)
    queries = ["code hello", "hello world how", "Server started", "table aa"]
    want = {}
    for qq in queries:
        want[qq] = [(int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
                    for r in index.search(qq, 10).collect()]
        index._search_cache.clear()

    errs = []

    def run(qq):
        try:
            for _ in range(3):
                got = [
                    (int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
                    for r in index.search(qq, 10).collect()
                ]
                assert got == want[qq], qq
                index._search_cache.clear()
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append((qq, e))

    threads = [threading.Thread(target=run, args=(qq,)) for qq in queries]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert spark.conf.get(key) == before


def test_pareto_skyband_float_sum_tie(monkeypatch):
    """ADVICE r03 (query.py:295): a strict dominator whose float norm
    SUM rounds equal to the dominated doc's — and whose doc_id is
    larger — must still be counted. The sweep order now breaks sum
    ties on the full norm vector before doc_id."""
    import numpy as np

    import codebased_spark.operators.query as q

    # inject exact norms: norm := tf / 2.0
    monkeypatch.setattr(
        q, "_norm_np", lambda tf, dl, avgdl: np.asarray(tf, dtype=np.float64) / 2.0
    )
    big = 2 * 10 ** 16  # -> norm 1e16, where float64 spacing is 2.0
    # doc 1 = (1e16, 0.5); doc 2 = (1e16, 1.0) strictly dominates doc 1,
    # both sums round to exactly 1e16; dominator has the LARGER doc_id
    tfs = np.array([[big, 1], [big, 2]], dtype=np.int64)
    dl = np.array([1, 1], dtype=np.int64)
    doc_ids = np.array([1, 2], dtype=np.int64)
    assert float(1e16 + 0.5) == float(1e16 + 1.0) == 1e16  # the tie is real
    keep = q._pareto_survivors(tfs, dl, doc_ids, 1.0, 1)
    assert list(keep) == [False, True]  # dominated doc dropped: exact 1-skyband
