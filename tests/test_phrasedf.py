"""Hot-phrase df side table (operators/phrasedf.py) + the covered
multi-trigram WAND path it unlocks: stored dfs must equal brute-force
truth, covered searches must be bit-identical to uncovered ones, and
staleness must disable the table rather than corrupt idf."""

import numpy as np
import pytest

from codebased_spark.functions.fts5 import casefold, count_overlapping
from codebased_spark.operators.phrasedf import (
    build_phrase_df,
    hot_phrases_from_corpus,
    load_phrase_df,
)
from codebased_spark.plans.engine import FtsIndex, build_index
from codebased_spark.sources.corpus import fixture_corpus

PHRASES = [
    "hello world",     # hot multi-trigram phrase
    "server started",
    "world",           # multi-trigram single word
    "wor",             # exactly one trigram
    "index.js",        # matches name + path columns
    "zqxjkw notthere", # matches nothing -> df 0
    "ab",              # sub-trigram -> stored as df 0
]

QUERIES = [
    "hello world",
    '"hello world" world',
    "server started",
    "world wor",
    "index.js",
    '"hello world" zqxjkw notthere',  # covered AND-fail -> empty
]


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("pdf") / "idx")
    index = build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4)
    return index, idx_dir


def _hits(df):
    return [(int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
            for r in df.collect()]


def _brute_dfs(spark, phrase):
    """Ground-truth per-branch dfs: overlapping-substring occurrence in
    any column (df_all) / the name column (df_name), per doc."""
    from codebased_spark.operators.docs import build_docs

    p = casefold(phrase)
    da = dn = 0
    for r in build_docs(fixture_corpus(spark), num_blocks=4).collect():
        texts = [r["path"], r["name"], r["content"]]
        if any(count_overlapping(casefold(t or ""), p) > 0 for t in texts):
            da += 1
        if count_overlapping(casefold(r["name"] or ""), p) > 0:
            dn += 1
    return da, dn


def test_phrase_df_values_match_bruteforce(spark, indexed):
    index, _ = indexed
    table = build_phrase_df(spark, index, PHRASES)
    assert set(table) == {casefold(p) for p in PHRASES}
    for p in ["hello world", "server started", "world", "wor", "index.js",
              "zqxjkw notthere"]:
        assert table[p] == _brute_dfs(spark, p), p
    assert table["ab"] == (0, 0)  # sub-trigram: unmatchable, stored as 0


def test_covered_search_bit_identical(spark, indexed):
    """The covered WAND path (known idfs, lazy position verification,
    exact branch-top-k emission) must return byte-identical rows to the
    uncovered path, single and batch, across phrase shapes."""
    index, idx_dir = indexed
    build_phrase_df(spark, index, PHRASES)
    covered = FtsIndex(spark, idx_dir)
    assert covered.phrase_dfs  # table loaded

    plain = FtsIndex(spark, idx_dir)
    plain.phrase_dfs = {}  # force the uncovered path

    for q in QUERIES:
        want = _hits(plain.search(q, 10))
        got = _hits(covered.search(q, 10))
        assert got == want, q
    assert _hits(covered.search('"hello world" zqxjkw notthere', 10)) == []

    got_b = sorted(
        (int(r["qid"]), int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
        for r in covered.search_batch(QUERIES, 10).collect()
    )
    want_b = sorted(
        (int(r["qid"]), int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
        for r in plain.search_batch(QUERIES, 10).collect()
    )
    assert got_b == want_b

    # mixed-coverage batch: add a query the table does not cover
    mixed = QUERIES + ["print hello"]
    got_m = sorted(
        (int(r["qid"]), int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
        for r in covered.search_batch(mixed, 10).collect()
    )
    want_m = sorted(
        (int(r["qid"]), int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
        for r in plain.search_batch(mixed, 10).collect()
    )
    assert got_m == want_m


def test_covered_path_with_tombstones(spark, tmp_path):
    """Covered search honors tombstones, and an incremental commit
    refreshes the table for the new generation (stale dfs must never
    reach idf)."""
    import shutil

    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import incremental_update

    v1 = [
        ("r1", "a.py", "c" * 40, "python", 'print("hello world")'),
        ("r1", "b.py", "c" * 40, "python", 'print("hello again world")'),
        ("r1", "c.md", "c" * 40, "text", "hello hello world hello world"),
    ]
    idx_dir = str(tmp_path / "tomb_idx")
    index = build_index(
        spark, spark.createDataFrame(v1, CORPUS_SCHEMA), idx_dir, num_blocks=2)
    build_phrase_df(spark, index, ["hello world", "hello"])
    assert FtsIndex(spark, idx_dir).phrase_dfs

    # tombstone b.py; the commit refreshes the table, which equals a
    # scratch build over the committed index
    index2 = incremental_update(
        spark, idx_dir,
        spark.createDataFrame([v1[0], v1[2]], CORPUS_SCHEMA),
        full_snapshot=True,
    )
    scratch = str(tmp_path / "tomb_scratch")
    shutil.copytree(idx_dir, scratch)
    assert index2.phrase_dfs == build_phrase_df(
        spark, FtsIndex(spark, scratch), ["hello world", "hello"])

    # rebuild over the new generation: dfs reflect the deletion and the
    # covered path matches the uncovered one under tombstones
    table = build_phrase_df(spark, index2, ["hello world", "hello"])
    assert table["hello world"] == (2, 0)  # b.py gone
    covered = FtsIndex(spark, idx_dir)
    assert covered.phrase_dfs
    plain = FtsIndex(spark, idx_dir)
    plain.phrase_dfs = {}
    for q in ["hello world", '"hello world" hello']:
        assert _hits(covered.search(q, 10)) == _hits(plain.search(q, 10)), q


def test_stale_fingerprint_rejected(spark, indexed):
    """A manifest whose (n_docs, total_dl) fingerprint disagrees with
    the index's manifest record must cause load_phrase_df to return
    {}."""
    import json
    import os

    index, idx_dir = indexed
    build_phrase_df(spark, index, ["hello world"])
    man = os.path.join(idx_dir, "_manifest", "phrase_df.json")
    rec = json.load(open(man))
    rec["n_docs"] = rec["n_docs"] + 1
    json.dump(rec, open(man, "w"))
    assert load_phrase_df(spark, FtsIndex(spark, idx_dir)) == {}
    # restore for other tests
    rec["n_docs"] = rec["n_docs"] - 1
    json.dump(rec, open(man, "w"))
    assert load_phrase_df(spark, FtsIndex(spark, idx_dir))


def test_hot_phrases_from_corpus(spark):
    phrases = hot_phrases_from_corpus(fixture_corpus(spark), top_n=8)
    assert 0 < len(phrases) <= 8
    assert all(len(p) >= 3 and p == casefold(p) for p in phrases)


def test_generic_store_build_matches_files_build(spark, tmp_path, monkeypatch):
    """On a store only the Spark reader can read (posting_files == []),
    build_phrase_df computes the pyarrow reader's dfs, and a commit's
    update_phrase_df splices its dirty blocks (no full rebuild) into a
    table equal to a scratch build."""
    import shutil

    import codebased_spark.operators.phrasedf as phrasedf
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import incremental_update

    idx_dir = str(tmp_path / "gen_idx")
    index = build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4)
    via_files = build_phrase_df(spark, index, PHRASES)

    blind = FtsIndex(spark, idx_dir)
    blind.posting_files = []  # force the generic branch
    via_generic = build_phrase_df(spark, blind, PHRASES)
    assert via_generic == via_files

    # full snapshot: drop one file, touch another -> tombstones in old
    # blocks plus fresh appended blocks
    rows = [tuple(r) for r in fixture_corpus(spark).collect()]
    batch = rows[1:]
    batch[0] = batch[0][:4] + (batch[0][4] + "\nhello world server started",)
    spliced = []
    real_update = phrasedf.update_phrase_df

    def update(spark_, handle, dirty, prior_fingerprint):
        assert handle.posting_files == []
        spliced.append(real_update(spark_, handle, dirty, prior_fingerprint))
        return spliced[-1]

    def no_full_rebuild(*_a, **_k):
        raise AssertionError("full build_phrase_df instead of a splice")

    monkeypatch.setattr(phrasedf, "update_phrase_df", update)
    monkeypatch.setattr(phrasedf, "build_phrase_df", no_full_rebuild)
    committed = incremental_update(
        spark, idx_dir, spark.createDataFrame(batch, CORPUS_SCHEMA),
        full_snapshot=True, force_generic_scan=True)
    monkeypatch.undo()
    assert committed.posting_files == [] and committed.has_deletes
    assert len(spliced) == 1 and spliced[0] is not None

    scratch = str(tmp_path / "gen_scratch")
    shutil.copytree(idx_dir, scratch)
    want = build_phrase_df(spark, FtsIndex(spark, scratch), PHRASES)
    assert spliced[0] == want
    assert committed.phrase_dfs == want
    assert FtsIndex(spark, idx_dir).phrase_dfs == want


def test_scalars_for_matches_rows_for(spark, indexed):
    """_Row.scalars_for (position-free) must agree with rows_for's tf
    lens and dls on every subset shape."""
    import pyarrow.parquet as pq

    from codebased_spark.operators.query import _Row

    index, _ = indexed
    path = index.posting_files[0][1]
    tbl = pq.read_table(path)
    pdf = tbl.to_pandas()
    # the widest row exercises multi-chunk selective decode best
    rec = pdf.iloc[int(pdf["df"].idxmax())]
    r1, r2 = _Row(rec), _Row(rec)
    docs = r1.docs
    rng = np.random.RandomState(3)
    for frac in (1.0, 0.5, 0.1):
        sub = np.sort(rng.choice(docs, size=max(1, int(docs.size * frac)),
                                 replace=False))
        _p, lens, dls = r1.rows_for(sub)
        tfs2, dls2 = r2.scalars_for(sub)
        assert (lens == tfs2).all() and (dls == dls2).all()


def test_manifest_without_data_is_ignored(spark, tmp_path):
    """Crash-window robustness (r4 review): a phrase-df manifest whose
    data dir is missing must disable the table, never make the index
    unopenable."""
    import os
    import shutil

    idx_dir = str(tmp_path / "crash_idx")
    index = build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=2)
    build_phrase_df(spark, index, ["hello world"])
    shutil.rmtree(os.path.join(idx_dir, "phrase_df"))  # data gone, manifest stays
    reopened = FtsIndex(spark, idx_dir)  # must not raise
    assert reopened.phrase_dfs == {}
    assert reopened.search("hello world", 5).count() >= 0


def test_manifest_without_epoch_reads_absent(spark, tmp_path):
    """Every table this engine writes stamps its manifest with the
    commit epoch; a manifest without one (a table from before per-block
    rows) reads as absent, and searches rank as FTS5 does."""
    import json
    import os

    from codebased_spark.oracle import Fts5Oracle
    from tests.parity import assert_rank_identical, oracle_hits, spark_hits

    idx_dir = str(tmp_path / "no_epoch_idx")
    corpus = fixture_corpus(spark)
    index = build_index(spark, corpus, idx_dir, num_blocks=2)
    build_phrase_df(spark, index, ["server started"])
    assert FtsIndex(spark, idx_dir).phrase_dfs
    man = os.path.join(idx_dir, "_manifest", "phrase_df.json")
    rec = json.load(open(man))
    del rec["epoch"]
    json.dump(rec, open(man, "w"))

    reopened = FtsIndex(spark, idx_dir)
    assert load_phrase_df(spark, reopened) == {}
    assert reopened.phrase_dfs == {}
    content = {(r["repo"], r["path"]): r["content"] for r in corpus.collect()}
    oracle = Fts5Oracle(
        (r["doc_id"], r["path"], r["name"], content[(r["repo"], r["path"])])
        for r in reopened.doc_stats.select("doc_id", "repo", "path",
                                           "name").collect())
    for q in ['"server started"', "hello world"]:
        got = spark_hits(reopened.search(q, 10))
        assert got, q
        assert reopened.last_trace["covered"] == 0
        assert_rank_identical(got, oracle_hits(oracle.search(q, 10)), 10)


def test_covered_block_frame_prunes_and_stays_exact(spark, tmp_path, monkeypatch):
    """The lazy-verification loop's pruning branches (ub-ordered
    batches, in-batch dead filtering, early break) only ENGAGE on
    blocks larger than one batch — build a 4,000-doc single-block
    index with strong dl variance, drive _covered_block_frame
    directly, and assert (a) results identical to the uncovered
    machinery + driver tail, (b) position verification actually
    skipped most candidates."""
    import pyarrow.parquet as pq

    import codebased_spark.operators.query as q
    from codebased_spark.functions.fts5 import idf as idf_fn
    from codebased_spark.functions.fts5 import phrase_terms
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    n = 4000
    rows_in = [
        (
            "r1",
            f"f{i:05d}.txt",
            "c" * 40,
            "text",
            # every doc matches "hello world"; tf and dl vary so the
            # ub ranks discriminate and thresholds converge fast
            ("hello world " * (1 + i % 7)) + ("filler pad " * (i % 97)),
        )
        for i in range(n)
    ]
    idx_dir = str(tmp_path / "bigblock")
    index = build_index(
        spark, spark.createDataFrame(rows_in, CORPUS_SCHEMA), idx_dir,
        num_blocks=1)
    assert len(index.posting_files) >= 1

    phrases = ["hello world"]
    term_ids = [phrase_terms(p) for p in phrases]
    needed = sorted({t for ts in term_ids for t in ts})

    def load_rows():
        out = {}
        for _pb, path in index.posting_files:
            t = pq.read_table(
                path, filters=[("term", "in", list(needed))],
                columns=q._POSTING_READ_COLUMNS,
            ).to_pandas()
            for _, r in t.iterrows():
                out[(int(r["term"]), int(r["col"]))] = q._Row(r)
        return out

    top_k = 10
    # uncovered machinery: stats (global dfs) + full skyband frame
    stats, frame_plain = q._query_block_frames(
        load_rows(), term_ids, None, top_k=top_k, avgdl=index.avgdl)
    dfs = {pi: (da, dn) for pi, da, dn in stats}
    assert dfs[0][0] == n  # every doc matches
    idf_all = [idf_fn(index.n_docs, dfs[0][0])]
    idf_name = [idf_fn(index.n_docs, dfs[0][1]) if dfs[0][1] else 0.0]

    verified = []
    real_vp = q._verify_positions
    monkeypatch.setattr(
        q, "_verify_positions",
        lambda recs, common: verified.append(common.size) or real_vp(recs, common),
    )
    frame_cov = q._covered_block_frame(
        load_rows(), term_ids, None, idf_all, idf_name, top_k, index.avgdl)
    monkeypatch.undo()
    assert frame_cov is not None and frame_plain is not None

    def finish(frame):
        docs, dl, ta, tn = frame
        rows = [
            {"kind": 1, "doc_id": int(d), "dl": int(l),
             "tfs_all": list(a), "tfs_name": list(b)}
            for d, l, a, b in zip(docs, dl, ta, tn)
        ]
        return q._finish_rows(rows, 1, index.n_docs, index.avgdl, top_k,
                              dfs_override=[dfs[0]])

    assert finish(frame_cov) == finish(frame_plain)  # exact same top-k
    # the whole point: most of the 4,000 candidates were never
    # position-verified (per-column sums; each column counts once)
    assert verified and sum(verified) < n  # pruning engaged
    assert sum(verified) <= 4 * max(4 * top_k, 256)  # a few batches at most


def test_hot_phrases_digest_matches_text(spark):
    """VERDICT r04 #4: the digest-keyed miner (8-byte xxhash64 shuffle
    keys, text recovered only for boundary candidates) must return the
    exact top-N the text-keyed one-pass groupBy returns, including the
    (count desc, phrase asc) tie-break."""
    from codebased_spark.sources.corpus import gen_corpus

    for corpus in (fixture_corpus(spark), gen_corpus(spark, n_repos=20,
                                                     files_per_repo=10)):
        for top_n in (8, 64):
            for ngrams in ((1, 2), (2,)):
                via_text = hot_phrases_from_corpus(
                    corpus, top_n=top_n, key="text", ngrams=ngrams)
                via_digest = hot_phrases_from_corpus(
                    corpus, top_n=top_n, key="digest", ngrams=ngrams)
                assert via_digest == via_text
                if 1 not in ngrams:
                    assert all(" " in p for p in via_text)
    with pytest.raises(ValueError):
        hot_phrases_from_corpus(fixture_corpus(spark), key="md5")


def test_incremental_rebuild_phrase_df(spark, tmp_path):
    """VERDICT r04 #3: incremental_update keeps the side table current
    after every commit, so a covered query STILL takes the covered
    path, with dfs correct for the NEW corpus generation; compaction
    carries it across the dir swap."""
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import (
        compact_index,
        incremental_update,
    )

    v1 = [
        ("r1", "a.py", "c" * 40, "python", 'print("hello world")'),
        ("r1", "b.py", "c" * 40, "python", 'print("hello again world")'),
        ("r1", "c.md", "c" * 40, "text", "hello hello world hello world"),
    ]
    idx_dir = str(tmp_path / "auto_idx")
    index = build_index(
        spark, spark.createDataFrame(v1, CORPUS_SCHEMA), idx_dir, num_blocks=2)
    build_phrase_df(spark, index, ["hello world", "hello"])

    # delete b.py: the returned index is covered again
    index2 = incremental_update(
        spark, idx_dir,
        spark.createDataFrame([v1[0], v1[2]], CORPUS_SCHEMA),
        full_snapshot=True,
    )
    assert index2.phrase_dfs  # table rebuilt, not silently dropped
    assert index2.phrase_dfs["hello world"] == (2, 0)  # new-generation df
    # quoted -> ONE phrase, present in the table -> covered path engages
    # (unquoted "hello world" is two single-word phrases; "world" is not
    # in the hot set, so that shape correctly stays uncovered)
    assert index2._covering_dfs('"hello world" hello') is not None
    assert index2._covering_dfs("hello world") is None
    reopened = FtsIndex(spark, idx_dir)  # fingerprint matches on reload
    assert reopened.phrase_dfs == index2.phrase_dfs
    plain = FtsIndex(spark, idx_dir)
    plain.phrase_dfs = {}
    for q in ["hello world", '"hello world" hello']:
        assert _hits(reopened.search(q, 10)) == _hits(plain.search(q, 10)), q

    # a no-op batch (same shas) must NOT drop or rebuild the table
    table_before = dict(index2.phrase_dfs)
    index3 = incremental_update(
        spark, idx_dir,
        spark.createDataFrame([v1[0], v1[2]], CORPUS_SCHEMA),
        full_snapshot=True,
    )
    assert index3.phrase_dfs == table_before

    # a plain upsert (b.py back) keeps the table too
    index4 = incremental_update(
        spark, idx_dir, spark.createDataFrame([v1[1]], CORPUS_SCHEMA))
    assert index4.phrase_dfs == {"hello world": (2, 0), "hello": (3, 0)}
    with pytest.raises(ValueError):
        incremental_update(spark, idx_dir,
                           spark.createDataFrame([v1[1]], CORPUS_SCHEMA),
                           rebuild_phrase_df=False)

    # compaction carries the table across the dir swap
    live = spark.createDataFrame(v1, CORPUS_SCHEMA)
    index5 = compact_index(spark, idx_dir, live)
    assert index5.phrase_dfs
    # a.py + c.md match; b.py ("hello again world") has no "hello world"
    assert index5.phrase_dfs["hello world"] == (2, 0)
    assert index5.phrase_dfs["hello"] == (3, 0)  # all three contain "hello"


def test_query_log_mining(spark, indexed):
    """The operational loop: searches fill FtsIndex.query_log; mining
    the log yields the frequency-ranked phrase set; building the table
    from it covers the hot traffic (and the DataFrame variant of the
    miner agrees with the in-memory one)."""
    from codebased_spark.operators.phrasedf import hot_phrases_from_query_log

    _index, idx_dir = indexed
    index = FtsIndex(spark, idx_dir)
    index.phrase_dfs = {}  # isolate: no coverage yet
    assert len(index.query_log) == 0
    traffic = (['"hello world"'] * 5) + (["server started"] * 3) + ["ok"]
    for q in traffic[:6]:
        index.search(q, 5)
    index.search_batch(traffic[6:], 5)
    assert len(index.query_log) == len(traffic)

    mined = hot_phrases_from_query_log(index.query_log, top_n=4)
    # "ok" is sub-trigram -> dropped; phrase ranks: hello world (5),
    # then server started's two single-word phrases (3 each, tie ->
    # lexicographic)
    assert mined == ["hello world", "server", "started"]

    log_df = spark.createDataFrame(
        [(q,) for q in index.query_log], "query string")
    assert hot_phrases_from_query_log(log_df, top_n=4) == mined

    # close the loop: table from the log covers the hot traffic
    build_phrase_df(spark, index, mined)
    assert index._covering_dfs('"hello world"') is not None
    assert index._covering_dfs("server started") is not None
    plain = FtsIndex(spark, idx_dir)
    plain.phrase_dfs = {}
    for q in ['"hello world"', "server started"]:
        assert _hits(index.search(q, 10)) == _hits(plain.search(q, 10)), q

    # the log is bounded: a flood never grows it past QUERY_LOG_MAX
    from codebased_spark.plans.engine import QUERY_LOG_MAX

    assert index.query_log.maxlen == QUERY_LOG_MAX


def test_sampled_miner_matches_exact_on_zipf(spark):
    """sample_fraction runs candidate generation over a doc sample but
    re-counts candidates exactly over the full corpus: on Zipfian
    corpora (the shape mining targets) the result equals the exact
    miner; fraction=1.0 must agree by construction."""
    from codebased_spark.operators.phrasedf import top_ngrams_df
    from codebased_spark.sources.corpus import gen_corpus

    corpus = gen_corpus(spark, n_repos=20, files_per_repo=10)
    for top_n in (8, 32):
        exact = hot_phrases_from_corpus(corpus, top_n=top_n, key="digest")
        full = hot_phrases_from_corpus(
            corpus, top_n=top_n, key="digest", sample_fraction=1.0)
        half = hot_phrases_from_corpus(
            corpus, top_n=top_n, key="digest", sample_fraction=0.5)
        assert full == exact
        assert half == exact
        # counts reported by the sampled plan are TRUE full-corpus
        # counts (pass 2 is exact), not scaled sample counts
        exact_df = {r["phrase"]: int(r["n"])
                    for r in top_ngrams_df(corpus, top_n, key="text").collect()}
        samp_df = {r["phrase"]: int(r["n"]) for r in top_ngrams_df(
            corpus, top_n, key="digest", sample_fraction=0.5).collect()}
        for p, n in samp_df.items():
            assert exact_df.get(p, None) == n, p
    with pytest.raises(ValueError):
        hot_phrases_from_corpus(fixture_corpus(spark), sample_fraction=1.5)


def test_sampled_miner_empty_sample_falls_back(spark):
    """A sample that catches nothing must fall back to the exact path,
    not return a silently-empty hot set."""
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    one = spark.createDataFrame(
        [("r", "a.py", "c" * 40, "python", "alpha alpha bravo")],
        CORPUS_SCHEMA)
    exact = hot_phrases_from_corpus(one, top_n=4, key="digest")
    # fraction small enough that the single doc is (almost surely)
    # dropped; determinism comes from the fixed seed either way
    got = hot_phrases_from_corpus(one, top_n=4, key="digest",
                                  sample_fraction=1e-9)
    assert got == exact


def test_empty_ngrams_rejected(spark):
    from codebased_spark.operators.phrasedf import top_ngrams_df

    with pytest.raises(ValueError, match="ngrams"):
        top_ngrams_df(fixture_corpus(spark), 8, ngrams=())
    with pytest.raises(ValueError, match="ngrams"):
        hot_phrases_from_corpus(fixture_corpus(spark), ngrams=())


def test_query_log_mining_concurrent_append():
    """ADVICE r05: mining must snapshot the live deque — a concurrent
    search appending to FtsIndex.query_log mid-iteration used to raise
    RuntimeError('deque mutated during iteration')."""
    import threading
    from collections import deque

    from codebased_spark.operators.phrasedf import hot_phrases_from_query_log

    log = deque(['"hello world"'] * 500, maxlen=10_000)
    stop = threading.Event()

    def writer():
        while not stop.is_set():
            log.append('"hello world"')

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    try:
        for _ in range(50):
            mined = hot_phrases_from_query_log(log, top_n=4)
            assert "hello world" in mined
    finally:
        stop.set()
        t.join()


def test_delta_phrase_rebuild_matches_scratch(spark, tmp_path):
    """update_phrase_df (dirty blocks only) must produce the exact
    table a from-scratch build_phrase_df would, across add-only,
    delete-only, and mixed commits — and the stale pre-commit table
    must never be served in the crash window (epoch fingerprint)."""
    import shutil

    from codebased_spark.operators.phrasedf import update_phrase_df
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import incremental_update

    v = [("r", f"f{i}.py", "c" * 40, "python",
          f"hello world number {i} " + ("alpha " if i % 2 else "bravo "))
         for i in range(12)]
    idx_dir = str(tmp_path / "idx")
    index = build_index(spark, spark.createDataFrame(v, CORPUS_SCHEMA),
                        idx_dir, num_blocks=4)
    phrases = ["hello world", "alpha", "bravo", "zqxjkw", "ab"]
    build_phrase_df(spark, index, phrases)

    # mixed commit: modify 3 files, drop 2, add 2 (full snapshot)
    v2 = [r for r in v if r[1] not in ("f0.py", "f1.py")]
    v2 = [(rp, p, c, lg, ct + " touched") if p in ("f2.py", "f3.py", "f4.py")
          else (rp, p, c, lg, ct) for rp, p, c, lg, ct in v2]
    v2 += [("r", "g1.py", "d" * 40, "python", "hello world fresh alpha"),
           ("r", "g2.py", "d" * 40, "python", "bravo fresh")]
    idx2 = incremental_update(
        spark, idx_dir, spark.createDataFrame(v2, CORPUS_SCHEMA),
        full_snapshot=True)
    got = dict(idx2.phrase_dfs)

    # scratch truth: copy the committed index, full-rebuild there
    scratch = str(tmp_path / "scratch")
    shutil.copytree(idx_dir, scratch)
    sidx = FtsIndex(spark, scratch)
    want = build_phrase_df(spark, sidx, phrases)
    assert got == want

    # reload agrees (per-block layout aggregates on load)
    assert FtsIndex(spark, idx_dir).phrase_dfs == got

    # crash-window staleness: rewind the manifest to the PRE-commit
    # fingerprint shape by faking a matching epoch — the epoch check
    # must still reject a table whose epoch disagrees
    import json as _json
    import os as _os

    man = _os.path.join(idx_dir, "_manifest", "phrase_df.json")
    rec = _json.load(open(man))
    rec["epoch"] = rec.get("epoch", 0) + 7
    _json.dump(rec, open(man, "w"))
    assert FtsIndex(spark, idx_dir).phrase_dfs == {}


def test_partial_counts_match_expression_expansion(spark):
    """The r7 task-side n-gram counter (_ngram_partial_counts) must
    reproduce the Catalyst split/transform/explode expansion's counts
    exactly — including empty tokens from leading/trailing/repeated
    whitespace, null/empty docs, every ASCII whitespace class member,
    and the non-ASCII case mappings of İ, final Σ, ẞ and ǅ — for text
    and digest keys alike."""
    from pyspark.sql import functions as F

    from codebased_spark.operators.phrasedf import (
        _corpus_ngrams,
        top_ngrams_df,
    )

    rows = [("",), (None,), ("  leading and   multiple   spaces  ",),
            ("tab\tsep\nnewline\x0bvtab\fff\rcr end",),
            ("aa b c dd",), ("hello world hello world hello",),
            ("x " * 50,), ("trailing space ",), ("UPPER Case MiX",),
            # non-ASCII case mappings: dotted capital I (one char lowers
            # to two), final sigma, sharp s (upper and lower), titlecase
            ("İstanbul ΣΊΣΥΦΟΣ STRASSE ẞ ǅ",), ("ΣΊΣΥΦΟΣ İstanbul ẞtraße",)]
    df = spark.createDataFrame(rows, "text string")
    ref = (
        _corpus_ngrams(df, "text", (1, 2))
        .groupBy("phrase").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("phrase")).limit(64).collect()
    )
    for key in ("text", "digest"):
        got = top_ngrams_df(df, 64, "text", key, (1, 2)).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in ref], key
    out = top_ngrams_df(df, 64, "text", "digest", (1, 2))
    assert not out.schema["n"].nullable  # count(1)-compatible schema
