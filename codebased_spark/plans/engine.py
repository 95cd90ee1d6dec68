"""Index lifecycle: build, persist, load, search (SURVEY.md §3.4).

On-disk layout (<index_dir>/):
  doc_stats/    parquet — per-doc metadata + lengths (no content)
  postings/     parquet partitioned by pblock, rows sorted by (term, col)
  deletes/      parquet partitioned by pblock — tombstoned doc_ids
  _manifest/    one JSON per completed stage and per commit (incr_<n>)
                with lineage + metrics; the latest of doc_stats and
                incr_<n> holds the scalars (n_docs, total_dl, num_blocks)

Resumability (north_rule): each stage commits atomically (parquet
_SUCCESS + a manifest record written after). ``build_index(...,
resume=True)`` skips stages whose manifest records exist, so a killed
build re-runs only the missing stages; within a stage, partition-level
retry/commit is Spark's task-commit protocol. The build and the
incremental commit (streaming/incremental.py) share one write step,
:func:`_overlapped_write`: a helper thread with the caller's local
properties runs the small jobs while the calling thread writes the
postings. A build's thread writes doc_stats and runs the per-block agg,
and its two manifests land only after the step returns, doc_stats
first: a postings manifest therefore always comes with the doc_stats
manifest that records its ``num_blocks``. A commit mutates a live
index, so it writes doc_stats, postings, tombstones, then its
``incr_<n>`` record, and only the per-block agg overlaps its posting
append (see ``incremental_update``). Manifest records carry per-pblock
row counts and byte sizes — the per-partition lineage + metrics
record. The tables are written and read back with fixed schemas
(``*_SCHEMA``), so opening an index infers nothing and runs no job.
(Reference analogue: single SQLite transaction + fts 'optimize' at
codebased/index.py:336,668-672; stats dump at
codebased/stats.py:59-69.)

Storage: all lifecycle IO goes through plans/fsio.IndexFS, so the index
may live on HDFS/S3A as well as local disk. FtsIndex chooses the
index's reader once, at open: the pyarrow shard reader on ANY store
pyarrow.fs can read (local paths and file:// / hdfs:// / s3:// URIs
alike — tasks read shards and tombstones through the resolved
filesystem; ``posting_files`` lists the shards), else the Spark reader
(the term-filtered posting DataFrame and the tombstone rows,
repartitioned by pblock; ``posting_files == []``). Everything that
reads follows that choice: searches go through the one query entry
(operators/query.run_search) and, with the phrase-df stats job,
through its one reader dispatch (query._reader); the phrase-df table
is read and written through pyarrow exactly when the shards are; the
presence manifest, read through pyarrow, is loaded only then. Nothing
is ever materialized on the driver either way.
"""

from __future__ import annotations

import functools
import re
import threading
from collections import OrderedDict, deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codebased_spark import DEFAULT_TOP_K
from codebased_spark.operators.build import build_postings_fused
from codebased_spark.operators.docs import DOC_ID_BLOCK_BITS, build_docs
from codebased_spark.plans.fsio import IndexFS, is_local, local_path

# v2: deletes/ is partitioned by pblock (task-side tombstone reads — the
# round-1 driver-materialized numpy array is gone from the query path).
# v3: the scalars live in the manifest records; no corpus_stats table.
FORMAT_VERSION = 3

# Posting-shard parquet row-group size. Rows are term-sorted within a
# shard, so the per-query term filter prunes to O(1) row groups; small
# groups make that pruning fine-grained while keeping footers tiny.
POSTING_ROW_GROUP_BYTES = 512 * 1024
# The fixed schemas the index tables are written with and read back
# with: opening an index pays no parquet footer-inference job. Each
# sits beside its writer; doc_stats is DOCS_COLUMNS minus content (a
# chunked build's extra chunk-geometry columns stay on disk, unread).
DOC_STATS_SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string, "
    "name string, kind string, byte_start long, byte_end long, sha256 string, "
    "dl_path long, dl_name long, dl_content long, dl long"
)
DELETES_SCHEMA = "doc_id long, pblock int"
# rolling per-index query-log capacity (driver memory: ~a few MB of
# strings at worst); mining needs frequency ranks, not full history
QUERY_LOG_MAX = 10_000
# per-handle search cache capacity (least recently used entry goes
# first): each entry holds a top-k result DataFrame and its Arrow
# local relation
SEARCH_CACHE_MAX = 256


def _join(base: str, *parts: str) -> str:
    return "/".join([base.rstrip("/"), *parts])


def _posting_shards(fs: IndexFS, index_dir: str, pblocks=None) -> list[tuple[int, str, int]]:
    """(pblock, path, size) of every posting shard file under
    ``index_dir`` (or in the ``pblocks`` dirs only), sorted — the one
    parse of the ``pblock=`` layout."""
    root = _join(index_dir, "postings")
    roots = [root] if pblocks is None else [_join(root, f"pblock={b}") for b in pblocks]
    out = []
    for path, size in (f for r in roots for f in fs.list_files(r)):
        seg = [s for s in path.split("/") if s.startswith("pblock=")]
        if path.endswith(".parquet") and seg:
            out.append((int(seg[-1].split("=", 1)[1]), path, int(size or 0)))
    return sorted(out)


def _postings_footer_metrics(fs: IndexFS, index_dir: str, pblocks=None) -> dict:
    """Per-block lineage metrics (of ``pblocks`` only, when given)
    straight from parquet footers + the filesystem — zero Spark jobs
    (driver-side, O(#files)). On remote stores rows come from the
    footer via the same listing; bytes always from FileStatus."""
    out: dict[str, dict] = {}
    local = is_local(index_dir)
    if local:
        import pyarrow.parquet as pq
    for pb, path, size in _posting_shards(fs, index_dir, pblocks):
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


def _append_deletes(dead: DataFrame, index_dir: str) -> None:
    """Append the ``doc_id`` rows of ``dead`` to the tombstone table,
    partitioned by pblock so query tasks read only their own block's
    tombstones."""
    dead.select(
        "doc_id",
        F.shiftright("doc_id", DOC_ID_BLOCK_BITS).cast("int").alias("pblock"),
    ).write.mode("append").partitionBy("pblock").parquet(_join(index_dir, "deletes"))


def _write_doc_stats(docs: DataFrame, index_dir: str, mode: str) -> None:
    """Write ``docs`` minus their content as doc_stats rows
    (:data:`DOC_STATS_SCHEMA`)."""
    docs.drop("content").write.mode(mode).parquet(_join(index_dir, "doc_stats"))


def _overlapped_write(spark: SparkSession, docs: DataFrame, index_dir: str,
                      mode: str, side, postings: bool = True):
    """The write step of a build and of a commit: ``side()`` runs in a
    helper thread while the calling thread writes the postings of
    ``docs`` (when ``postings``), the long pole (actions are only
    sequential because the driver calls them sequentially). Returns
    ``side()``'s result. The thread runs with a copy of the caller's
    local properties, so its jobs carry the caller's job group and
    description."""
    from concurrent.futures import ThreadPoolExecutor

    jsc = spark.sparkContext._jsc.sc()
    props = jsc.getLocalProperties().clone()

    def run_side():
        # copied here rather than through pyspark.inheritable_thread_target,
        # whose wrapper frame would become every job's call site
        jsc.setLocalProperties(props)
        return side()

    with ThreadPoolExecutor(1, thread_name_prefix="write-stats") as pool:
        result = pool.submit(run_side)
        if postings:
            _write_postings(docs, index_dir, mode)
        return result.result()


def get_block_rows(docs: DataFrame) -> list:
    """(pblock, n, sdl) per doc block: one tiny agg yields BOTH the
    per-block lineage and the corpus totals (N, total dl) the manifest
    record carries."""
    return (
        docs.groupBy(F.shiftright("doc_id", DOC_ID_BLOCK_BITS).alias("pblock"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl"))
        .collect()
    )


def _manifest_path(index_dir: str, stage: str) -> str:
    return _join(index_dir, "_manifest", f"{stage}.json")


def _current_manifest(fs: IndexFS, index_dir: str, stage: str) -> "dict | None":
    """The stage's manifest record when it exists, parses and records
    the current FORMAT_VERSION, else None — the one gate for build
    resume and for the presence and phrase-df tables. An older-format
    record counts as absent: resuming over it must re-run the stage, or
    the finished index would mix formats (e.g. v1 posting shards
    without skip metadata under a v2 stamp) and fail at query time."""
    path = _manifest_path(index_dir, stage)
    try:
        rec = fs.read_json(path) if fs.exists(path) else {}
        return rec if int(rec.get("version", -1)) == FORMAT_VERSION else None
    except Exception:
        return None  # unreadable manifest -> treat as absent


def _write_manifest(fs: IndexFS, index_dir: str, stage: str, payload: dict) -> None:
    fs.write_json(_manifest_path(index_dir, stage), payload)


_COMMIT_RECORD = re.compile(r"incr_(\d+)\.json")


def _open_record(fs: IndexFS, index_dir: str) -> tuple[int, dict]:
    """(epoch, record) from one listing of ``_manifest/`` and one JSON
    read. The epoch counts commits: one more than the highest complete
    ``incr_<n>.json`` (a ``.tmp`` left by a crashed write is none), 0
    before the first. The record is that commit's, else the build's
    doc_stats record. Needs the build's postings record."""
    names = fs.list_dir(_join(index_dir, "_manifest"))
    if "postings.json" not in names:
        raise FileNotFoundError(f"no completed build at {index_dir} — "
                                "build_index(..., resume=True) finishes it")
    done = [int(m.group(1)) for m in map(_COMMIT_RECORD.fullmatch, names) if m]
    epoch = max(done) + 1 if done else 0
    rec = fs.read_json(_manifest_path(
        index_dir, f"incr_{epoch - 1}" if epoch else "doc_stats"))
    version = int(rec.get("version", 0))
    if version != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} has format v{version}, engine expects "
            f"v{FORMAT_VERSION} — rebuild (build_index) or compact with a "
            f"matching engine version"
        )
    return epoch, rec


class FtsIndex:
    """A loaded index: handles to the tables + broadcast scalars.

    ``n_docs``, ``total_dl``, ``num_blocks`` and ``epoch`` come from
    the manifest records (:func:`_open_record`), with no Spark job.

    ``last_trace`` is the record of the most recent :meth:`search` or
    :meth:`search_batch` to return (None before the first): a plain
    dict with the route (direct, spark, generic, cache for a search
    cache hit, none when nothing was scanned), shard counts before and
    after presence pruning, the phrase-df-covered query count, the
    queries rescanned with the dfs their first pass counted, the rows
    of each collect and their sum, and seconds for parse+prune,
    scan+collect and finish. operators/query.py's module
    docstring defines the fields; recording it costs no Spark job."""

    def __init__(self, spark: SparkSession, index_dir: str, force_jvm: bool = False,
                 force_generic_scan: bool = False):
        # force_jvm: test hook (see fsio.IndexFS) — routes listing
        # through the Hadoop FileSystem API so the URI-returning remote
        # branch is exercisable against Hadoop's LocalFileSystem.
        # force_generic_scan: opt out of the pyarrow shard fast path for
        # stores whose credentials live only in Hadoop conf (fs.s3a.*
        # keys/endpoints are not visible to pyarrow — ADVICE r03); the
        # Spark reader then serves every query, and the phrase-df
        # table is read and written through Spark.
        self.spark = spark
        self.index_dir = index_dir
        self.force_generic_scan = force_generic_scan
        self.fs = IndexFS(spark, index_dir, force_jvm=force_jvm)
        self.epoch, rec = _open_record(self.fs, index_dir)
        self.n_docs = int(rec["n_docs"])
        self.total_dl = int(rec["total_dl"])
        self.avgdl = self.total_dl / self.n_docs if self.n_docs else 0.0
        self.num_blocks = int(rec["num_blocks"])
        self.doc_stats = spark.read.schema(DOC_STATS_SCHEMA).parquet(
            _join(index_dir, "doc_stats"))
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
        # clear-on-commit at codebased/index.py:668-669. An LRU of
        # SEARCH_CACHE_MAX entries, so a long-lived handle stays bounded.
        self._search_cache: "OrderedDict[tuple[str, int], DataFrame]" = OrderedDict()
        self._search_cache_lock = threading.Lock()
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
        self.query_log: "deque[str]" = deque(maxlen=QUERY_LOG_MAX)
        self.last_trace: "dict | None" = None

    @functools.cached_property
    def postings(self) -> DataFrame:
        """The posting table, made on first use (only the Spark reader
        needs it; above 32 ``pblock=`` dirs its listing is a Spark job),
        with a pinned schema: empty corpora leave no files to infer."""
        from codebased_spark.operators.build import POSTING_SCHEMA

        return self.spark.read.schema(POSTING_SCHEMA).parquet(
            _join(self.index_dir, "postings"))

    def deletes_df(self) -> "DataFrame | None":
        """Tombstoned doc_ids as a DataFrame (None when absent) — the
        distributed handle every engine path uses; nothing is collected."""
        if not self.has_deletes:
            return None
        return self.spark.read.schema(DELETES_SCHEMA).parquet(
            self.deletes_dir).select("doc_id")

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
        with self._search_cache_lock:
            hit = self._search_cache.pop(key, None)
            if hit is not None:  # re-inserted as the most recent
                self._search_cache[key] = hit
        if hit is not None:
            from codebased_spark.operators.query import _new_trace

            self.last_trace = _new_trace(None, None, "cache")
            return hit
        out = self._search_batch([query], top_k).drop("qid")
        with self._search_cache_lock:
            self._search_cache[key] = out
            while len(self._search_cache) > SEARCH_CACHE_MAX:
                self._search_cache.popitem(last=False)
        return out

    def clear_search_cache(self) -> None:
        """Forget every memoized search, so the next search of each
        (query, top_k) runs its scan (what a timing of uncached
        searches needs)."""
        with self._search_cache_lock:
            self._search_cache.clear()

    def _task_deletes_dir(self) -> "str | None":
        """Tombstone dir as query tasks open it (fsio.canonical_uri) —
        always the SAME store the posting shards use, so the fast path
        never silently drops tombstones."""
        from codebased_spark.plans.fsio import canonical_uri

        return canonical_uri(self.deletes_dir) if self.has_deletes else None

    def search_batch(self, queries: list[str], top_k: int = DEFAULT_TOP_K) -> DataFrame:
        """Batched search: one shared posting scan for the whole batch —
        unless it overflows DRIVER_FINISH_MAX or needs a rescan, that
        is one Spark job on the Spark feeder, two on the Spark reader
        (its shuffle map stage and the scan) and none on the
        driver-direct route (the shape for offline batch scoring).
        Returns (qid, doc_id, name_match, rank, score); rank-identical
        per query to :meth:`search` (tested)."""
        self.query_log.extend(queries)
        return self._search_batch(queries, top_k)

    def _search_batch(self, queries: list[str], top_k: int) -> DataFrame:
        """A batch through the one query entry (query.run_search), on
        the reader this handle chose at open."""
        from codebased_spark.operators.query import run_search

        trace: dict = {}
        out = run_search(self, queries, top_k, trace)
        self.last_trace = trace
        return out

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
    recorded = _current_manifest(fs, index_dir, "doc_stats") if resume else None
    if recorded is not None:
        num_blocks = int(recorded.get("num_blocks", num_blocks))
    todo = [s for s in ("doc_stats", "postings")
            if not (resume and _current_manifest(fs, index_dir, s))]

    if "doc_stats" in todo:
        docs = build_docs(corpus, num_blocks=num_blocks, chunk=chunk).persist()

        def write_stats() -> list:
            """The doc_stats rows and the per-block agg — everything
            that reads the persisted docs EXCEPT the posting build. Runs
            in a background thread OVERLAPPED with the posting write
            (guide §2.6): the posting build is the long pole and these
            small jobs back-fill its idle capacity."""
            _write_doc_stats(docs, index_dir, "overwrite")
            return get_block_rows(docs)

        try:
            block_rows = _overlapped_write(
                spark, docs, index_dir, "overwrite", write_stats, "postings" in todo)
        finally:
            docs.unpersist()
        # manifests only after both writers finished, in dependency
        # order: a postings manifest implies a doc_stats manifest, so a
        # resume never pairs committed postings with a regenerated
        # num_blocks
        _write_manifest(
            fs, index_dir, "doc_stats",
            {"stage": "doc_stats", "version": FORMAT_VERSION,
             "n_docs": sum(int(r["n"]) for r in block_rows),
             "total_dl": sum(int(r["sdl"]) for r in block_rows),
             "num_blocks": num_blocks,
             "docs_per_block": {str(r["pblock"]): int(r["n"])
                                for r in block_rows}},
        )
    elif "postings" in todo:  # no stats agg: the doc_stats record has the totals
        _write_postings(build_docs(corpus, num_blocks=num_blocks, chunk=chunk),
                        index_dir, "overwrite")
    if "postings" in todo:
        _write_manifest(
            fs, index_dir, "postings",
            {"stage": "postings", "version": FORMAT_VERSION,
             "per_block": _postings_footer_metrics(fs, index_dir)},
        )

    if not (resume and _current_manifest(fs, index_dir, "term_blocks")):
        # term->block presence manifest (operators/presence.py): a
        # column-pruned scan of just the term column — cheap relative
        # to the posting build, and it makes per-query shard touch
        # O(blocks that can match) instead of O(all blocks)
        from codebased_spark.operators.presence import build_term_blocks

        build_term_blocks(spark, index_dir, fs=fs)

    return FtsIndex(spark, index_dir)
