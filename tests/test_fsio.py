"""plans/fsio.IndexFS: the lifecycle IO facade (ADVICE.md r01 — the
round-1 os.walk/os.rename calls silently saw nothing on remote stores).

No HDFS/S3 exists in this sandbox, so the JVM branch is exercised with
``force_jvm=True`` against Hadoop's LocalFileSystem — the same API
surface (org.apache.hadoop.fs.FileSystem) an hdfs:// or s3a:// URI
resolves to, minus the wire protocol."""

import json
import os

import pytest

from codebased_spark.plans.fsio import IndexFS, is_local, local_path


def test_scheme_detection():
    assert is_local("/tmp/x")
    assert is_local("file:///tmp/x")
    assert not is_local("hdfs://nn:9000/idx")
    assert not is_local("s3a://bucket/idx")
    assert local_path("file:///tmp/x") == "/tmp/x"
    assert local_path("/tmp/x") == "/tmp/x"


@pytest.mark.parametrize("force_jvm", [False, True], ids=["posix", "hadoop"])
def test_indexfs_roundtrip(spark, tmp_path, force_jvm):
    base = str(tmp_path / "idx")
    fs = IndexFS(spark, base, force_jvm=force_jvm)

    assert not fs.exists(base)
    assert fs.list_files(base) == []
    assert fs.list_dir(base) == []

    payload = {"stage": "doc_stats", "num_blocks": 4}
    fs.write_json(base + "/_manifest/doc_stats.json", payload)
    assert fs.exists(base + "/_manifest/doc_stats.json")
    assert fs.read_json(base + "/_manifest/doc_stats.json") == payload
    assert fs.list_dir(base + "/_manifest") == ["doc_stats.json"]

    # overwrite must replace, not append
    fs.write_json(base + "/_manifest/doc_stats.json", {"v": 2})
    assert fs.read_json(base + "/_manifest/doc_stats.json") == {"v": 2}

    # nested listing carries sizes
    os.makedirs(os.path.join(base, "postings", "pblock=0"), exist_ok=True)
    with open(os.path.join(base, "postings", "pblock=0", "part-0.parquet"), "wb") as f:
        f.write(b"xx")
    files = fs.list_files(base + "/postings")
    assert len(files) == 1
    path, size = files[0]
    assert path.endswith("pblock=0/part-0.parquet") and size == 2

    fs.rename(base + "/postings", base + "/postings2")
    assert fs.exists(base + "/postings2/pblock=0/part-0.parquet")
    assert not fs.exists(base + "/postings")

    fs.delete(base + "/postings2")
    assert not fs.exists(base + "/postings2")


@pytest.mark.parametrize("force_jvm", [False, True], ids=["posix-list", "hadoop-list"])
def test_build_and_search_on_file_uri(spark, tmp_path, force_jvm):
    """VERDICT r02 #2 (remote-store fast path): an index addressed by a
    scheme'd URI keeps the pyarrow shard fast path — posting_files are
    URIs opened through pyarrow.fs in the tasks, results bit-identical
    to the same index addressed by plain path, tombstones included.
    force_jvm additionally routes the shard LISTING through the Hadoop
    FileSystem API (file:/-style URIs), the exact flow an hdfs://
    deployment uses."""
    from codebased_spark.plans.engine import FtsIndex, build_index
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import incremental_update

    v1 = [
        ("r1", "a.py", "c" * 40, "python", 'print("hello world")'),
        ("r1", "b.py", "c" * 40, "python", 'print("hello again world")'),
        ("r1", "c.md", "c" * 40, "text", "hello hello hello world"),
    ]
    plain = str(tmp_path / "uri_idx")
    build_index(spark, spark.createDataFrame(v1, CORPUS_SCHEMA), plain, num_blocks=2)
    # tombstone one doc so the deletes path is exercised through the URI too
    incremental_update(
        spark, plain,
        spark.createDataFrame([v1[0], v1[2]], CORPUS_SCHEMA), full_snapshot=True,
    )

    ref = FtsIndex(spark, plain)
    assert ref.posting_files and all("://" not in p for _, p in ref.posting_files)

    uri = FtsIndex(spark, "file://" + plain, force_jvm=force_jvm)
    assert uri.posting_files  # fast path kept, not the generic fallback
    assert all(p.startswith("file://") for _, p in uri.posting_files)

    deleted_id = {r["path"]: int(r["doc_id"])
                  for r in ref.doc_stats.collect()}["b.py"]
    for q in ["hello world", '"hello hello"']:
        want = [(int(r["doc_id"]), bool(r["name_match"]), round(float(r["score"]), 12))
                for r in ref.search(q, 10).collect()]
        got = [(int(r["doc_id"]), bool(r["name_match"]), round(float(r["score"]), 12))
               for r in uri.search(q, 10).collect()]
        assert got == want and want, q
        # the tombstone was honored THROUGH the URI deletes read
        assert deleted_id not in {d for d, _, _ in got}

    # batch path through the URI store too
    got_b = {(int(r["qid"]), int(r["doc_id"])) for r in
             uri.search_batch(["hello world"], 10).collect()}
    want_b = {(0, int(r["doc_id"])) for r in ref.search("hello world", 10).collect()}
    assert got_b == want_b


def test_resume_adopts_manifest_num_blocks(spark, tmp_path):
    """ADVICE.md r01: resuming with a different num_blocks must keep the
    partitioning that the completed doc_stats stage pinned."""
    from codebased_spark.plans.engine import FtsIndex, build_index
    from codebased_spark.sources.corpus import fixture_corpus

    idx_dir = str(tmp_path / "resume_idx")
    corpus = fixture_corpus(spark)
    build_index(spark, corpus, idx_dir, num_blocks=2)
    baseline = {
        (r["repo"], r["path"], int(r["doc_id"]))
        for r in FtsIndex(spark, idx_dir).doc_stats.select(
            "repo", "path", "doc_id").collect()
    }

    # simulate a crash after doc_stats: postings missing
    os.remove(os.path.join(idx_dir, "_manifest", "postings.json"))
    index = build_index(spark, corpus, idx_dir, num_blocks=16, resume=True)

    # the conflicting num_blocks=16 was ignored in favor of the manifest
    assert index.num_blocks == 2
    rebuilt = {
        (r["repo"], r["path"], int(r["doc_id"]))
        for r in index.doc_stats.select("repo", "path", "doc_id").collect()
    }
    assert rebuilt == baseline  # postings rebuilt under the SAME ids
    assert index.search("hello", 10).count() > 0


def test_canonical_uri_scheme_mapping():
    """Hadoop's s3a/s3n spellings map to pyarrow's s3 scheme (the fast
    path would otherwise silently never engage for s3a indexes), and
    Hadoop's scheme:/path spelling normalizes to scheme:///path."""
    from codebased_spark.plans.fsio import canonical_uri

    assert canonical_uri("s3a://bucket/idx/p.parquet") == "s3://bucket/idx/p.parquet"
    assert canonical_uri("s3n://bucket/k") == "s3://bucket/k"
    assert canonical_uri("file:/tmp/x") == "file:///tmp/x"
    assert canonical_uri("file:///tmp/x") == "file:///tmp/x"
    assert canonical_uri("hdfs://nn:9000/idx") == "hdfs://nn:9000/idx"
    assert canonical_uri("/tmp/plain") == "/tmp/plain"


def test_search_batch_generic_fallback_typed_empty(spark, tmp_path):
    """When the store is pyarrow-unreachable (posting_files == []), a
    batch — including an EMPTY one — returns the typed result frame,
    never None, and per-query results match single search."""
    from codebased_spark.plans.engine import build_index
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    v = [("r1", "a.py", "c" * 40, "python", 'print("hello world")')]
    idx = build_index(spark, spark.createDataFrame(v, CORPUS_SCHEMA),
                      str(tmp_path / "gf"), num_blocks=2)
    idx.posting_files = []  # simulate a store pyarrow can't reach
    empty = idx.search_batch([], 5)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "qid", "doc_id", "name_match", "rank", "score"]
    got = {(int(r["qid"]), int(r["doc_id"])) for r in
           idx.search_batch(["hello world", "zz"], 5).collect()}
    want = {(0, int(r["doc_id"])) for r in idx.search("hello world", 5).collect()}
    assert got == want


def test_local_path_authority_handling():
    """ADVICE r03 (fsio.py:45): file://host/p names a REMOTE host — it
    must be rejected, not silently folded into the local path; empty
    and localhost authorities stay valid."""
    assert local_path("file://localhost/tmp/x") == "/tmp/x"
    assert local_path("file:/tmp/x") == "/tmp/x"
    assert local_path("file:///tmp/x") == "/tmp/x"
    with pytest.raises(ValueError, match="remote authority"):
        local_path("file://otherhost/tmp/x")


def _hits_close(got, want):
    """Same (doc_id, name_match) sequence, scores within 1e-9."""
    assert [(d, n) for d, n, _ in got] == [(d, n) for d, n, _ in want]
    assert all(abs(g[2] - w[2]) < 1e-9 for g, w in zip(got, want))


def test_force_generic_scan_option(spark, tmp_path):
    """ADVICE r03 (engine.py:209): stores whose credentials live only
    in Hadoop conf can force the Spark reader (the generic DataFrame
    scan). On a tombstoned index with a phrase-df table it returns the
    pyarrow route's results and FTS5's ranking — uncovered, covered
    and sub-trigram queries, searched singly and as one batch."""
    from codebased_spark.operators.phrasedf import build_phrase_df
    from codebased_spark.oracle import Fts5Oracle
    from codebased_spark.plans.engine import FtsIndex, build_index
    from codebased_spark.sources.corpus import CORPUS_SCHEMA
    from codebased_spark.streaming.incremental import incremental_update
    from tests.parity import assert_rank_identical, oracle_hits, spark_hits

    rows = [
        ("r1", "a.py", "c" * 40, "python", 'print("hello world")'),
        ("r1", "b.py", "c" * 40, "python", "goodbye cruel world"),
        ("r1", "c.md", "c" * 40, "text", "hello hello world hello world"),
        ("r1", "world.txt", "c" * 40, "text", "type ab world"),
        ("r1", "d.py", "c" * 40, "python", 'print("hello again world")'),
    ]
    idx = str(tmp_path / "fgs_idx")
    build_index(spark, spark.createDataFrame(rows, CORPUS_SCHEMA), idx, num_blocks=2)
    live = [r for r in rows if r[1] != "d.py"]
    incremental_update(spark, idx, spark.createDataFrame(live, CORPUS_SCHEMA),
                       full_snapshot=True)
    build_phrase_df(spark, FtsIndex(spark, idx), ["hello world", "world"])

    fast = FtsIndex(spark, idx)
    assert fast.posting_files and fast.has_deletes
    slow = FtsIndex(spark, idx, force_generic_scan=True)
    assert slow.posting_files == []  # generic scan serves every query
    content = {r[1]: r[4] for r in live}
    dead = {int(r["doc_id"]) for r in fast.deletes_df().collect()}
    oracle = Fts5Oracle(
        (int(r["doc_id"]), r["path"], r["name"], content[r["path"]])
        for r in fast.doc_stats.select("doc_id", "path", "name").collect()
        if int(r["doc_id"]) not in dead
    )

    queries = ["hello world", "world", '"hello world" world', '"type" "ab"',
               "goodbye"]
    assert slow._covering_dfs('"hello world" world') is not None
    assert slow._covering_dfs("hello world") is None
    want = {}
    for q in queries:
        want[q] = spark_hits(fast.search(q, 10))
        assert want[q], q
        got = spark_hits(slow.search(q, 10))
        _hits_close(got, want[q])
        assert_rank_identical(got, oracle_hits(oracle.search(q, 10)), 10)
    batch = slow.search_batch(queries, 10).collect()
    for qi, q in enumerate(queries):
        got = sorted(
            ((int(r["doc_id"]), bool(r["name_match"]), float(r["score"]))
             for r in batch if r["qid"] == qi),
            key=lambda h: (not h[1], -h[2], h[0]))
        _hits_close(got, want[q])


def test_generic_batch_is_one_scan(spark, tmp_path):
    """The Spark reader scans a whole batch at once: a 6-query
    search_batch runs as many Spark jobs as a 1-query one."""
    from codebased_spark.plans.engine import FtsIndex, build_index
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    rows = [("r1", f"f{i}.py", "c" * 40, "python",
             f"hello world {i} server started value {i % 3}")
            for i in range(24)]
    idx = str(tmp_path / "gjobs")
    build_index(spark, spark.createDataFrame(rows, CORPUS_SCHEMA), idx, num_blocks=4)
    queries = ["hello world", "server started", "value", '"world 1"',
               "hello value", '"started value"']
    sc = spark.sparkContext

    def jobs_of(group, n):
        slow = FtsIndex(spark, idx, force_generic_scan=True)
        sc.setJobGroup(group, group)
        try:
            rows = slow.search_batch(queries[:n], 10).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert {int(r["qid"]) for r in rows} == set(range(n))
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = jobs_of("generic_batch_1", 1)
    assert one >= 1
    assert jobs_of("generic_batch_6", 6) == one


def test_remote_probe_requires_readable_shard(spark, tmp_path, monkeypatch):
    """ADVICE r03 (engine.py:209): the fast-path probe must make a real
    metadata call — a filesystem that constructs fine but cannot see
    the shard (S3 with Hadoop-only credentials) must fall back to the
    generic scan instead of failing at task read time."""
    from codebased_spark.plans import engine as eng
    from codebased_spark.plans import fsio
    from codebased_spark.plans.engine import FtsIndex, build_index
    from codebased_spark.sources.corpus import CORPUS_SCHEMA

    rows = [("r1", "a.py", "c" * 40, "python", 'print("hello world")')]
    idx = str(tmp_path / "probe_idx")
    build_index(spark, spark.createDataFrame(rows, CORPUS_SCHEMA), idx, num_blocks=2)

    class _BlindFS:
        """Constructs fine (like pyarrow S3FileSystem with no creds)
        but sees nothing on metadata calls."""

        def get_file_info(self, paths):
            from pyarrow import fs as pafs

            return [pafs.FileInfo(p, type=pafs.FileType.NotFound) for p in paths]

    def blind(path):
        return _BlindFS(), fsio.local_path(fsio.canonical_uri(path))

    monkeypatch.setattr(eng, "pyarrow_fs_path", blind, raising=False)
    monkeypatch.setattr(fsio, "pyarrow_fs_path", blind)
    blinded = FtsIndex(spark, "file://" + idx)
    assert blinded.posting_files == []  # probe rejected the unreadable store

    # sanity: the REAL pyarrow fs still passes the metadata probe
    monkeypatch.undo()
    assert FtsIndex(spark, "file://" + idx).posting_files
