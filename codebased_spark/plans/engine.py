"""Index lifecycle: build, persist, load, search (SURVEY.md §3.4).

On-disk layout (<index_dir>/):
  doc_stats/    parquet — per-doc metadata + lengths (no content)
  postings/     parquet partitioned by pblock, rows sorted by (term, col)
  corpus_stats/ parquet — single row (n_docs, avgdl, num_blocks, version)
  deletes/      parquet partitioned by pblock — tombstoned doc_ids
  _manifest/    one JSON per completed stage with lineage + metrics

Resumability (north_rule): each stage commits atomically (parquet
_SUCCESS + a manifest record written after). ``build_index(...,
resume=True)`` skips stages whose manifest records exist, so a killed
build re-runs only the missing stages; within a stage, partition-level
retry/commit is Spark's task-commit protocol. The doc_stats and
corpus_stats writes overlap the posting write in a background thread,
and the three manifests land only after that thread joins, in
dependency order (doc_stats, corpus_stats, postings): a postings
manifest therefore always comes with the doc_stats manifest that
records its ``num_blocks``. Manifest records carry per-pblock row
counts and byte sizes — the per-partition lineage + metrics record.
The full build and the incremental commit
(streaming/incremental.py) share this module's table writers
(:func:`_write_postings`, :func:`_write_corpus_stats`) and shard
listing (:func:`_posting_shards`). (Reference analogue: single SQLite
transaction + fts 'optimize' at codebased/index.py:336,668-672; stats
dump at codebased/stats.py:59-69.)

Storage: all lifecycle IO goes through plans/fsio.IndexFS, so the index
may live on HDFS/S3A as well as local disk. Queries keep the pyarrow
shard reader on ANY store pyarrow.fs can open (local paths and
file:// / hdfs:// / s3:// URIs alike — tasks read shards and
tombstones through the resolved filesystem); only stores pyarrow
cannot reach swap in the Spark reader (the posting DataFrame grouped
per pblock and cogrouped with the tombstone rows) under the same task
body and tail — nothing is ever materialized on the driver either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codebased_spark import DEFAULT_TOP_K
from codebased_spark.operators.build import build_postings_fused
from codebased_spark.operators.docs import DOC_ID_BLOCK_BITS, build_docs
from codebased_spark.plans.fsio import IndexFS, is_local, local_path

# v2: deletes/ is partitioned by pblock (task-side tombstone reads — the
# round-1 driver-materialized numpy array is gone from the query path).
FORMAT_VERSION = 2

# Posting-shard parquet row-group size. Rows are term-sorted within a
# shard, so the per-query term filter prunes to O(1) row groups; small
# groups make that pruning fine-grained while keeping footers tiny.
POSTING_ROW_GROUP_BYTES = 512 * 1024
# rolling per-index query-log capacity (driver memory: ~a few MB of
# strings at worst); mining needs frequency ranks, not full history
QUERY_LOG_MAX = 10_000


def _join(base: str, *parts: str) -> str:
    return "/".join([base.rstrip("/"), *parts])


def _posting_shards(fs: IndexFS, index_dir: str) -> list[tuple[int, str, int]]:
    """(pblock, path, size) of every posting shard file under
    ``index_dir``, sorted — the one parse of the ``pblock=`` layout."""
    out = []
    for path, size in fs.list_files(_join(index_dir, "postings")):
        seg = [s for s in path.split("/") if s.startswith("pblock=")]
        if path.endswith(".parquet") and seg:
            out.append((int(seg[-1].split("=", 1)[1]), path, int(size or 0)))
    return sorted(out)


def _postings_footer_metrics(fs: IndexFS, index_dir: str) -> dict:
    """Per-block lineage metrics straight from parquet footers + the
    filesystem — zero Spark jobs (driver-side, O(#files)). On remote
    stores rows come from the footer via the same listing; bytes always
    from FileStatus."""
    out: dict[str, dict] = {}
    local = is_local(index_dir)
    if local:
        import pyarrow.parquet as pq
    for pb, path, size in _posting_shards(fs, index_dir):
        ent = out.setdefault(str(pb), {"rows": 0, "bytes": 0})
        ent["bytes"] += size
        if local:
            ent["rows"] += pq.ParquetFile(local_path(path)).metadata.num_rows
        else:
            ent["rows"] = None  # avoid N remote footer round-trips
    return out


def _write_postings(docs: DataFrame, index_dir: str, mode: str) -> None:
    """Encode ``docs`` into posting shards under ``index_dir`` (mode
    ``overwrite`` for a build, ``append`` for a commit's fresh blocks).
    Small row groups + rows sorted by term => a query's pyarrow
    term-filter scan prunes to the few row groups whose [min,max] term
    range overlaps, instead of decoding every blob column in the shard
    (measured ~10x less read work per query)."""
    build_postings_fused(docs).write.mode(mode).option(
        "parquet.block.size", str(POSTING_ROW_GROUP_BYTES)
    ).partitionBy("pblock").parquet(_join(index_dir, "postings"))


def _write_corpus_stats(spark: SparkSession, index_dir: str, n: int,
                        total_dl: int, num_blocks: int) -> None:
    """(Re)write the single-row corpus_stats table."""
    from codebased_spark.session import one_row_df

    one_row_df(
        spark,
        "n_docs long, avgdl double, total_dl long, num_blocks int, version int",
        (n, (total_dl / n) if n else 0.0, total_dl, num_blocks, FORMAT_VERSION),
    ).write.mode("overwrite").parquet(_join(index_dir, "corpus_stats"))


def get_block_rows(docs: DataFrame) -> list:
    """(pblock, n, sdl) per doc block: one tiny agg yields BOTH the
    per-block lineage and the global corpus stats (N, total dl)."""
    return (
        docs.groupBy(F.shiftright("doc_id", DOC_ID_BLOCK_BITS).alias("pblock"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl"))
        .collect()
    )


def _manifest_path(index_dir: str, stage: str) -> str:
    return _join(index_dir, "_manifest", f"{stage}.json")


def _stage_done(fs: IndexFS, index_dir: str, stage: str) -> bool:
    """A stage counts as done only if its manifest exists AND records the
    current FORMAT_VERSION: resuming over an older-format partial build
    must re-run the stage, or the finished index would mix formats (e.g.
    v1 posting shards without skip metadata under a v2 stamp) and fail
    at query time (ADVICE r02)."""
    path = _manifest_path(index_dir, stage)
    if not fs.exists(path):
        return False
    try:
        rec = _read_manifest(fs, index_dir, stage)
    except Exception:
        return False  # unreadable manifest -> treat as not done
    return int(rec.get("version", 0)) == FORMAT_VERSION


def _read_manifest(fs: IndexFS, index_dir: str, stage: str) -> dict:
    return fs.read_json(_manifest_path(index_dir, stage))


def _write_manifest(fs: IndexFS, index_dir: str, stage: str, payload: dict) -> None:
    fs.write_json(_manifest_path(index_dir, stage), payload)


class FtsIndex:
    """A loaded index: handles to the tables + broadcast scalars."""

    def __init__(self, spark: SparkSession, index_dir: str, force_jvm: bool = False,
                 force_generic_scan: bool = False):
        # force_jvm: test hook (see fsio.IndexFS) — routes listing
        # through the Hadoop FileSystem API so the URI-returning remote
        # branch is exercisable against Hadoop's LocalFileSystem.
        # force_generic_scan: opt out of the pyarrow shard fast path for
        # stores whose credentials live only in Hadoop conf (fs.s3a.*
        # keys/endpoints are not visible to pyarrow — ADVICE r03); the
        # generic Spark DataFrame scan then serves every query.
        self.spark = spark
        self.index_dir = index_dir
        self.force_generic_scan = force_generic_scan
        self.fs = IndexFS(spark, index_dir, force_jvm=force_jvm)
        stats = spark.read.parquet(_join(index_dir, "corpus_stats")).collect()[0]
        version = int(stats.asDict().get("version", 0))
        if version != FORMAT_VERSION:
            raise ValueError(
                f"index at {index_dir} has format v{version}, engine expects "
                f"v{FORMAT_VERSION} — rebuild (build_index) or compact with a "
                f"matching engine version"
            )
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        d = stats.asDict()
        self.total_dl = int(d.get("total_dl", round(self.avgdl * self.n_docs)))
        self.num_blocks = int(stats["num_blocks"])
        from codebased_spark.operators.build import POSTING_SCHEMA

        # empty corpora leave the postings dir file-less; pin the schema
        # so loading never depends on footer inference
        self.postings = spark.read.schema(POSTING_SCHEMA).parquet(
            _join(index_dir, "postings")
        )
        self.doc_stats = spark.read.parquet(_join(index_dir, "doc_stats"))
        self.postings_bytes = 0
        self.posting_files = self._list_posting_files()
        # zero-job read-through for small (embedded-regime) indexes:
        # on when the whole posting store fits the byte and shard
        # gates; assigning the attribute pins either route
        from codebased_spark.operators.query import (
            DRIVER_DIRECT_MAX_BYTES,
            DRIVER_DIRECT_MAX_SHARDS,
        )

        self.driver_direct = bool(self.posting_files) and \
            0 < self.postings_bytes <= DRIVER_DIRECT_MAX_BYTES and \
            len(self.posting_files) <= DRIVER_DIRECT_MAX_SHARDS
        self.deletes_dir = _join(index_dir, "deletes")
        self.has_deletes = self.fs.exists(self.deletes_dir)
        # Q13 search cache (codebased/index.py:186-209): per-(query, k)
        # memo of materialized results; a reload (incremental commit
        # returns a fresh FtsIndex) starts clean, mirroring the
        # clear-on-commit at codebased/index.py:668-669.
        self._search_cache: dict[tuple[str, int], DataFrame] = {}
        # hot-phrase df side table (operators/phrasedf.py): {} when
        # absent or stale; queries whose every phrase is covered take
        # the known-idf WAND fast path (bit-identical results)
        from codebased_spark.operators.phrasedf import load_phrase_df

        self.phrase_dfs: dict[str, tuple[int, int]] = load_phrase_df(spark, self)
        # term->block presence manifest (operators/presence.py): None
        # when absent; queries prune provably-irrelevant shards from
        # the scan list driver-side (bit-identical results)
        from codebased_spark.operators.presence import load_term_blocks

        self.term_blocks = load_term_blocks(self)
        # rolling query log (driver-side, bounded): the operational
        # source for hot-phrase mining — phrasedf.hot_phrases_from_
        # query_log(index.query_log) replaces the corpus-bigram
        # bootstrap once real traffic exists. A deque so a long-lived
        # service never grows it unbounded.
        from collections import deque

        self.query_log: "deque[str]" = deque(maxlen=QUERY_LOG_MAX)

    def deletes_df(self) -> "DataFrame | None":
        """Tombstoned doc_ids as a DataFrame (None when absent) — the
        distributed handle every engine path uses; nothing is collected."""
        if not self.has_deletes:
            return None
        return self.spark.read.parquet(self.deletes_dir).select("doc_id")

    def _list_posting_files(self) -> list[tuple[int, str]]:
        """(pblock, path-or-URI) of posting shards — feeds the pyarrow
        fast path. A scheme-less local index yields plain POSIX paths;
        an index with an explicit scheme (file://, hdfs://, s3a://, ...)
        yields canonical URIs that the query tasks open through
        pyarrow.fs — the 100-TB deployment's hot path (VERDICT r02 #2:
        remote indexes previously fell back to the generic DataFrame
        scan, ~5-10x more read work per query). Returns [] (generic
        fallback) for stores pyarrow cannot reach, and always when the
        index was opened with force_generic_scan."""
        from codebased_spark.plans.fsio import canonical_uri, pyarrow_fs_path

        if self.force_generic_scan:
            return []
        scheme = "" if is_local(self.index_dir) else "remote"
        if self.index_dir.startswith("file:"):
            scheme = "file"
        shards = _posting_shards(self.fs, self.index_dir)
        self.postings_bytes = sum(size for _pb, _p, size in shards)  # direct-path gate
        out = []
        for pb, path, _size in shards:
            if scheme == "":
                out.append((pb, local_path(path)))
            elif scheme == "file":
                # local listings return POSIX paths; JVM listings return
                # file:/ URIs — either way, ship a canonical file:// URI
                # so tasks exercise the same pyarrow.fs code path a
                # remote store would
                p = canonical_uri(path) if path.startswith("file:") \
                    else "file://" + local_path(path)
                out.append((pb, p))
            else:
                out.append((pb, canonical_uri(path)))
        if out and scheme != "":
            # Reachability probe with a REAL metadata call (ADVICE r03):
            # constructing an S3FileSystem succeeds even with no valid
            # credentials (Hadoop's fs.s3a.* conf is invisible to
            # pyarrow), so a bare from_uri() would pick the fast path
            # and then fail at task read time with no fallback. A HEAD
            # on the first shard proves tasks can actually read.
            try:
                from pyarrow import fs as pafs

                afs, real = pyarrow_fs_path(out[0][1])
                if afs is not None:
                    info = afs.get_file_info([real])[0]
                    if info.type == pafs.FileType.NotFound:
                        return []
            except Exception:
                return []  # store unreachable from pyarrow -> generic scan
        return out

    def search(self, query: str, top_k: int = DEFAULT_TOP_K) -> DataFrame:
        """(doc_id, name_match, rank, score) best-first — rank-identical
        to the reference's search_once full-text path. A batch of one
        (:meth:`search_batch`'s route)."""
        self.query_log.append(query)
        key = (query, top_k)
        hit = self._search_cache.get(key)
        if hit is not None:
            return hit
        out = self._search_batch([query], top_k).drop("qid")
        self._search_cache[key] = out
        return out

    def _task_deletes_dir(self) -> "str | None":
        """Tombstone dir as query tasks should open it: a POSIX path for
        scheme-less local indexes, a canonical URI (pyarrow.fs-opened)
        otherwise — always the SAME store the posting shards use, so
        the fast path never silently drops tombstones."""
        from codebased_spark.plans.fsio import canonical_uri

        if not self.has_deletes:
            return None
        if is_local(self.index_dir) and not self.index_dir.startswith("file:"):
            return local_path(self.deletes_dir)
        return canonical_uri(self.deletes_dir)

    def search_batch(self, queries: list[str], top_k: int = DEFAULT_TOP_K) -> DataFrame:
        """Batched search: one shared posting scan for the whole batch —
        one Spark job when the tail finishes on the driver, none on the
        driver-direct route (the shape for offline batch scoring).
        Returns (qid, doc_id, name_match, rank, score); rank-identical
        per query to :meth:`search` (tested)."""
        self.query_log.extend(queries)
        return self._search_batch(queries, top_k)

    def _search_batch(self, queries: list[str], top_k: int) -> DataFrame:
        """A batch with this index's tombstones and phrase-df coverage,
        read by the pyarrow shard reader (driver-direct or Spark feeder,
        presence-pruned) — or, when ``posting_files`` is empty (a store
        pyarrow cannot reach, or force_generic_scan), by the Spark
        reader over the posting DataFrame."""
        from codebased_spark.operators.query import (
            search_index_batch,
            search_index_files_batch,
        )

        phrase_dfs_by_query = {
            qi: dfs for qi, dfs in (
                (qi, self._covering_dfs(q)) for qi, q in enumerate(queries)
            ) if dfs is not None
        }
        if not self.posting_files:
            return search_index_batch(
                self.postings, queries, self.n_docs, self.avgdl, top_k,
                deletes=self.deletes_df(),
                phrase_dfs_by_query=phrase_dfs_by_query)
        return search_index_files_batch(
            self.spark, self.posting_files, queries, self.n_docs, self.avgdl,
            top_k, deletes_dir=self._task_deletes_dir(),
            phrase_dfs_by_query=phrase_dfs_by_query,
            presence=self.term_blocks,
            direct=self.driver_direct,
        )

    def _covering_dfs(self, query: str) -> "list[tuple[int, int]] | None":
        """Per-phrase (df_all, df_name), aligned with the phrases the
        query is matched on (functions/fts5.match_phrases), when EVERY
        such phrase is in the phrase-df side table, else None (partial
        coverage can't fix any idf: scoring needs all of them)."""
        if not self.phrase_dfs:
            return None
        from codebased_spark.functions.fts5 import match_phrases

        phrases = match_phrases(query)
        if not phrases or any(p not in self.phrase_dfs for p in phrases):
            return None
        return [self.phrase_dfs[p] for p in phrases]

    def search_with_metadata(self, query: str, top_k: int = DEFAULT_TOP_K) -> DataFrame:
        """Q7: join survivors to doc metadata (broadcast the tiny top-k
        side — reference joins object rows at codebased/search.py:278-296)."""
        hits = self.search(query, top_k)
        return (
            self.doc_stats.join(F.broadcast(hits), "doc_id")
            .orderBy(F.desc("name_match"), F.asc("rank"), F.asc("doc_id"))
        )

    def verify_against_corpus(self, hits: DataFrame, corpus: DataFrame) -> DataFrame:
        """Q11 staleness filter: drop hits whose stored sha256 no longer
        matches the current corpus content (search.py:440-442; the
        input_hint end-to-end sha256 invariant)."""
        current = corpus.select(
            "repo", "path", F.sha2(F.col("content").cast("binary"), 256).alias("cur_sha"),
        )
        meta = self.doc_stats.join(F.broadcast(hits), "doc_id")
        return (
            meta.join(current, ["repo", "path"], "left")
            .filter(F.col("cur_sha") == F.col("sha256"))
            .drop("cur_sha")
            .orderBy(F.desc("name_match"), F.asc("rank"), F.asc("doc_id"))
        )


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    num_blocks: int = 32,
    chunk: bool = False,
    resume: bool = False,
) -> FtsIndex:
    """Build (or resume building) the index from a corpus DataFrame.

    Without ``resume`` any earlier index in ``index_dir`` is replaced
    whole: its manifests, tombstones and phrase-df table are deleted
    first. On resume, ``num_blocks`` is taken from the doc_stats manifest when
    one exists: the completed stage fixed the doc-id partitioning, and
    regenerating later stages with a different block count would write
    postings inconsistent with the persisted doc_stats (ADVICE.md r01).
    """
    fs = IndexFS(spark, index_dir)
    if not resume:
        # a fresh build owns the whole dir. Manifests go first, so a
        # crash from here on resumes onto no stale record; then the
        # tables the stage writers do not overwrite: tombstones and
        # the phrase-df table of an earlier generation would otherwise
        # apply to the new doc ids
        from codebased_spark.operators.phrasedf import PHRASE_DF_DIR

        for sub in ("_manifest", "deletes", PHRASE_DF_DIR):
            fs.delete(_join(index_dir, sub))
    if resume and _stage_done(fs, index_dir, "doc_stats"):
        recorded = int(_read_manifest(fs, index_dir, "doc_stats").get(
            "num_blocks", num_blocks))
        num_blocks = recorded
    todo = [s for s in ("doc_stats", "corpus_stats", "postings")
            if not (resume and _stage_done(fs, index_dir, s))]

    if todo:
        docs = build_docs(corpus, num_blocks=num_blocks, chunk=chunk).persist()

        def write_stats() -> tuple[list, int, int]:
            """doc_stats and corpus_stats data — everything that reads
            the persisted docs EXCEPT the posting build. Runs in a
            background thread OVERLAPPED with the posting write (guide
            §2.6: actions are only sequential because the driver calls
            them sequentially): the posting build is the long pole and
            these small jobs back-fill its idle capacity."""
            if "doc_stats" in todo:
                docs.drop("content").write.mode("overwrite").parquet(
                    _join(index_dir, "doc_stats"))
            rows = get_block_rows(docs)
            n = sum(int(r["n"]) for r in rows)
            total_dl = sum(int(r["sdl"]) for r in rows)
            if "corpus_stats" in todo:
                _write_corpus_stats(spark, index_dir, n, total_dl, num_blocks)
            return rows, n, total_dl

        from concurrent.futures import ThreadPoolExecutor

        try:
            with ThreadPoolExecutor(1, thread_name_prefix="build-stats") as pool:
                stats = pool.submit(write_stats)
                if "postings" in todo:
                    _write_postings(docs, index_dir, "overwrite")
                block_rows, n, total_dl = stats.result()
        finally:
            docs.unpersist()

        # manifests only after both writers finished, in dependency
        # order: a postings manifest implies a doc_stats manifest, so a
        # resume never pairs committed postings with a regenerated
        # num_blocks
        if "doc_stats" in todo:
            _write_manifest(
                fs, index_dir, "doc_stats",
                {"stage": "doc_stats", "version": FORMAT_VERSION,
                 "num_blocks": num_blocks,
                 "docs_per_block": {str(r["pblock"]): int(r["n"])
                                    for r in block_rows}},
            )
        if "corpus_stats" in todo:
            _write_manifest(
                fs, index_dir, "corpus_stats",
                {"stage": "corpus_stats", "n_docs": n,
                 "avgdl": (total_dl / n) if n else 0.0,
                 "version": FORMAT_VERSION},
            )
        if "postings" in todo:
            _write_manifest(
                fs, index_dir, "postings",
                {"stage": "postings", "version": FORMAT_VERSION,
                 "per_block": _postings_footer_metrics(fs, index_dir)},
            )

    if not (resume and _stage_done(fs, index_dir, "term_blocks")):
        # term->block presence manifest (operators/presence.py): a
        # column-pruned scan of just the term column — cheap relative
        # to the posting build, and it makes per-query shard touch
        # O(blocks that can match) instead of O(all blocks)
        from codebased_spark.operators.presence import build_term_blocks

        build_term_blocks(spark, index_dir, fs=fs)

    return FtsIndex(spark, index_dir)
