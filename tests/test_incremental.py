"""Incremental maintenance (S6/S7/S11): after updates the index must be
semantically identical to a fresh FTS index of the current corpus —
verified against a fresh SQLite FTS5 oracle over the live docs."""

import os

import pytest
from pyspark.sql import functions as F

from codebased_spark.oracle import Fts5Oracle
from codebased_spark.plans.engine import build_index
from codebased_spark.sources.corpus import CORPUS_SCHEMA, fixture_corpus, gen_file
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
        spark, idx_dir, v2, full_snapshot=True
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
    index = incremental_update(spark, idx_dir, v1, full_snapshot=True)
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
                       full_snapshot=True)
    index = incremental_update(spark, idx_dir, spark.createDataFrame(a, CORPUS_SCHEMA),
                               full_snapshot=True)
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
    before = incremental_update(spark, idx_dir, v2, full_snapshot=True)
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


# A commit of two changed files onto an index with a phrase-df table and
# presence. The reference digests were captured from the previous commit
# path (sha gate, dead and new-docs checkpoints, sequential appends) on
# this same scenario: the tables a commit writes must not depend on how
# it schedules its jobs.
JOB_ROWS = [(f"r{r}", path, "c" * 40, lang, content)
            for r in range(3) for i in range(8)
            for path, lang, content in [gen_file(r, i, 5)]]
JOB_PHRASES = ["hello world", "return x", "public class"]
REF_POSTINGS = ("24342cda39dd2859493a20219e5462061fceb00e240db4338e13175ef74cfcd7", 1943)
REF_DOC_STATS = "d32a41017246b06345969dcf2078fa9935d846d038804505ae8afc75a847a6d5"
REF_DELETES = "86ef91abb772aeb7a81cdc3b2761e3d099d52384b4d912df06460d50722e174b"


def _rows_digest(rows) -> str:
    import hashlib

    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def _count_jobs(spark, group, action):
    """(result, the Spark jobs ``action`` started in ``group``, how many
    it started with no group): a helper thread that lost the caller's
    group cannot hide its jobs from the count."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return (out, tracker.getJobIdsForGroup(group),
            len(set(tracker.getJobIdsForGroup(None)) - ungrouped))


def _call_sites(spark, job_ids):
    """The call sites (stage names) of the given jobs' stages."""
    tracker = spark.sparkContext.statusTracker()
    stages = [s for j in job_ids for s in tracker.getJobInfo(j).stageIds]
    return {info.name for info in map(tracker.getStageInfo, stages) if info}


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    """Build + phrase-df table, then one counted commit of two changed
    files and one counted sha-gated re-apply."""
    from codebased_spark.operators.phrasedf import build_phrase_df

    idx_dir = str(tmp_path_factory.mktemp("commit_jobs") / "idx")
    index = build_index(spark, spark.createDataFrame(JOB_ROWS, CORPUS_SCHEMA),
                        idx_dir, num_blocks=2)
    build_phrase_df(spark, index, JOB_PHRASES)
    changed = [r[:4] + (r[4] + f"\nmarker{k} = 1\n",) for k, r in enumerate(JOB_ROWS[3:5])]
    batch = spark.createDataFrame(changed, CORPUS_SCHEMA)
    index, jobs, ungrouped = _count_jobs(
        spark, "commit", lambda: incremental_update(spark, idx_dir, batch))
    same, noop_jobs, noop_ungrouped = _count_jobs(
        spark, "noop", lambda: incremental_update(spark, idx_dir, batch))
    content = {(r[0], r[1]): r[4] for r in JOB_ROWS}
    content.update({(r[0], r[1]): r[4] for r in changed})
    return {"dir": idx_dir, "index": index, "jobs": jobs, "ungrouped": ungrouped,
            "same": same, "noop_jobs": noop_jobs, "noop_ungrouped": noop_ungrouped,
            "content": content}


def test_commit_runs_in_a_handful_of_jobs(spark, committed):
    """One change-set pass, the build's write step and opens that read
    the manifest records: a 2-file commit starts at most 11 Spark jobs,
    a sha-gated re-apply at most 4. The tables it writes equal the
    reference commit, and the result stays rank-identical to FTS5."""
    from tests.test_index_parity import _postings_digest

    index = committed["index"]
    assert len(committed["jobs"]) + committed["ungrouped"] <= 11, committed["jobs"]
    assert len(committed["noop_jobs"]) + committed["noop_ungrouped"] <= 4
    # the write step's helper thread runs with the caller's job group,
    # and its jobs keep their engine call sites
    assert committed["ungrouped"] == 0
    assert not [c for c in _call_sites(spark, committed["jobs"]) if "concurrent" in c]
    assert committed["same"].n_docs == index.n_docs == len(JOB_ROWS)
    assert index.phrase_dfs  # the table was kept current

    assert _postings_digest(spark, committed["dir"]) == REF_POSTINGS
    assert _rows_digest(tuple(r) for r in index.doc_stats.collect()) == REF_DOC_STATS
    assert _rows_digest(tuple(r) for r in index.deletes_df().collect()) == REF_DELETES

    rows = [(r[0], r[1], "", "", committed["content"][(r[0], r[1])]) for r in JOB_ROWS]
    oracle = Fts5Oracle(_live_docs(spark, index, rows))
    for q in QUERIES + ["marker0", "marker1 hello"]:
        for k in (10, 32):
            assert_rank_identical(spark_hits(index.search(q, k)),
                                  oracle_hits(oracle.search(q, k)), k)


def test_table_schemas_are_the_reader_constants(spark, committed):
    """The schemas a build and a commit write (inferred from the files)
    equal the constants the index opens with, so opening an index
    infers nothing."""
    from pyspark.sql.types import StructType

    from codebased_spark.operators.docs import DOCS_COLUMNS
    from codebased_spark.plans.engine import DELETES_SCHEMA, DOC_STATS_SCHEMA

    d = committed["dir"]
    for table, ddl in (("doc_stats", DOC_STATS_SCHEMA),
                       ("deletes", DELETES_SCHEMA)):
        inferred = spark.read.parquet(os.path.join(d, table)).schema
        assert inferred == StructType.fromDDL(ddl), table
    assert StructType.fromDDL(DOC_STATS_SCHEMA).names == [
        c for c in DOCS_COLUMNS if c != "content"]


def test_open_runs_no_spark_job(spark, committed, tmp_path):
    """Opening an index reads its scalars from the latest manifest
    record and lists its shards on the driver: no Spark job, also past
    the 32 ``pblock=`` dirs above which making the posting DataFrame
    runs a Spark listing job (it is made on first use)."""
    from codebased_spark.plans.engine import FtsIndex

    _, jobs, ungrouped = _count_jobs(
        spark, "open", lambda: FtsIndex(spark, committed["dir"]))
    assert len(jobs) + ungrouped == 0
    idx_dir = str(tmp_path / "wide")
    files = [("r", f"f{i}.py", "c" * 40, "python", f"def fn{i}(): return {i}")
             for i in range(400)]
    built = build_index(spark, spark.createDataFrame(files, CORPUS_SCHEMA), idx_dir,
                        num_blocks=40)
    assert len({pb for pb, _ in built.posting_files}) > 32
    index, jobs, ungrouped = _count_jobs(
        spark, "open_wide", lambda: FtsIndex(spark, idx_dir))
    assert len(jobs) + ungrouped == 0
    assert (index.n_docs, index.total_dl, index.num_blocks, index.epoch) == (
        built.n_docs, built.total_dl, 40, 0)
    assert index.postings.count() == built.postings.count() > 0


def test_commit_record_carries_the_totals(committed):
    """The commit's ``incr_0`` record holds the totals the index opens
    with, and names the blocks the commit appended; its footer metrics
    cover those blocks only."""
    import json

    index = committed["index"]
    with open(os.path.join(committed["dir"], "_manifest", "incr_0.json")) as f:
        rec = json.load(f)
    dead = _deleted(index)
    live = [r for r in index.doc_stats.collect() if int(r["doc_id"]) not in dead]
    assert index.epoch == committed["same"].epoch == 1
    assert (rec["n_docs"], rec["total_dl"], rec["num_blocks"]) == (
        index.n_docs, index.total_dl, index.num_blocks) == (
        len(live), sum(int(r["dl"]) for r in live), 2)
    assert rec["blocks"] == [2, 4]  # above the build's blocks 0 and 1
    appended = {str(pb) for pb, _ in index.posting_files if pb >= 2}
    assert set(rec["per_block"]) == appended != set()


def test_other_format_version_fails_to_open(spark, tmp_path):
    """A manifest record of another FORMAT_VERSION does not open: the
    error names both versions and says to rebuild."""
    import json

    from codebased_spark.plans.engine import FORMAT_VERSION, FtsIndex

    idx_dir = str(tmp_path / "old")
    build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=2)
    man = os.path.join(idx_dir, "_manifest", "doc_stats.json")
    with open(man) as f:
        rec = json.load(f)
    rec["version"] = FORMAT_VERSION - 1
    with open(man, "w") as f:
        json.dump(rec, f)
    with pytest.raises(ValueError, match=(
            f"v{FORMAT_VERSION - 1}, engine expects v{FORMAT_VERSION} — rebuild")):
        FtsIndex(spark, idx_dir)


def test_leftover_tmp_record_is_no_commit(spark, tmp_path):
    """An ``incr_<n>.json.tmp`` left by a crashed manifest write is not
    a commit: the index keeps the build's totals and epoch 0 (so its
    phrase-df table stays live), and the next commit is ``incr_0``."""
    from codebased_spark.operators.phrasedf import build_phrase_df
    from codebased_spark.plans.engine import FtsIndex

    idx_dir = str(tmp_path / "tmp_rec")
    built = build_index(spark, spark.createDataFrame(V1, CORPUS_SCHEMA), idx_dir,
                        num_blocks=2)
    build_phrase_df(spark, built, ["hello world"])
    manifests = os.path.join(idx_dir, "_manifest")
    with open(os.path.join(manifests, "incr_0.json.tmp"), "w") as f:
        f.write('{"stage": "incr_0", "n_docs": 99')
    index = FtsIndex(spark, idx_dir)
    assert (index.epoch, index.n_docs, index.total_dl) == (0, 4, built.total_dl)
    assert index.phrase_dfs
    index = incremental_update(spark, idx_dir, spark.createDataFrame(V2, CORPUS_SCHEMA),
                               full_snapshot=True)
    assert (index.epoch, index.n_docs) == (1, 4)
    assert sorted(f for f in os.listdir(manifests) if f.startswith("incr_")) == [
        "incr_0.json"]
    assert index.phrase_dfs


def _failed_commit(spark, tmp_path, monkeypatch, table):
    """A 6-file index, and a commit of a new ``f1.py`` whose write of
    ``table`` (or of its manifest record, for ``manifest``) raises.
    Returns the index dir and the batch."""
    from pyspark.sql.readwriter import DataFrameWriter

    import codebased_spark.streaming.incremental as incremental

    idx_dir = str(tmp_path / "crash")
    files = [("r", f"f{i}.py", "c" * 40, "python", f"def fn{i}(): return 'common oldtok{i}'")
             for i in range(6)]
    build_index(spark, spark.createDataFrame(files, CORPUS_SCHEMA), idx_dir, num_blocks=2)
    batch = spark.createDataFrame(
        [("r", "f1.py", "d" * 40, "python", "def fn1(): return 'common newtoken'")],
        CORPUS_SCHEMA)
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path.rstrip("/").endswith("/" + table):
            raise RuntimeError(f"killed during the {table} write")
        return real(self, path, *args, **kwargs)

    def manifest(*_a, **_k):
        raise RuntimeError("killed during the manifest write")

    if table == "manifest":
        monkeypatch.setattr(incremental, "_write_manifest", manifest)
    else:
        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(RuntimeError, match="killed"):
        incremental_update(spark, idx_dir, batch)
    monkeypatch.undo()
    return idx_dir, batch


def _hit_counts(index):
    return [len(spark_hits(index.search(q, 10))) for q in ("newtoken", "oldtok1", "common")]


@pytest.mark.parametrize("table", ["doc_stats", "postings"])
def test_a_failed_commit_write_keeps_the_old_content_live(spark, tmp_path, monkeypatch,
                                                          table):
    """A commit writes doc_stats, postings, tombstones, then its
    manifest record: when the doc_stats or the posting append fails, no new
    posting block is searchable and the old doc is not tombstoned. A
    failed doc_stats append leaves nothing behind, so a re-apply
    commits cleanly."""
    from codebased_spark.plans.engine import FtsIndex

    idx_dir, batch = _failed_commit(spark, tmp_path, monkeypatch, table)
    index = FtsIndex(spark, idx_dir)
    assert index.n_docs == 6 and index.deletes_df() is None
    assert _hit_counts(index) == [0, 1, 6]
    if table == "doc_stats":
        index = incremental_update(spark, idx_dir, batch)
        assert index.n_docs == index.doc_stats.count() - 1 == 6
        assert _hit_counts(index) == [1, 0, 6]


def test_a_failed_manifest_write_keeps_the_old_totals(spark, tmp_path, monkeypatch):
    """The commit's manifest record is its last write: when it raises,
    the old doc is already tombstoned and the new content searchable,
    but the index keeps its old totals and epoch."""
    from codebased_spark.plans.engine import FtsIndex

    idx_dir, _ = _failed_commit(spark, tmp_path, monkeypatch, "manifest")
    index = FtsIndex(spark, idx_dir)
    assert (index.n_docs, index.epoch) == (6, 0)
    assert len(_deleted(index)) == 1
    assert _hit_counts(index) == [1, 0, 6]


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "a commit is not atomic: doc_stats rows appended by a commit that "
    "then fails count as live docs, so re-applying the batch is a sha-"
    "gated no-op and the new content is never indexed"))
def test_reapply_after_a_failed_posting_append(spark, tmp_path, monkeypatch):
    idx_dir, batch = _failed_commit(spark, tmp_path, monkeypatch, "postings")
    index = incremental_update(spark, idx_dir, batch)
    assert index.n_docs == 6
    assert _hit_counts(index) == [1, 0, 6]
