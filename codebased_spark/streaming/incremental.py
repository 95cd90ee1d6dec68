"""Incremental index maintenance (operators S6/S7/S11 + SURVEY.md §3.3).

Mirrors the reference's semantics on Spark's storage model:

- change detection (S6): one pass pairs every batch row with the live
  docs of its path and keeps the rows no live doc matches on (repo,
  path, sha256) — the sha256 gate of codebased/index.py:457-458 —
  with the docs they supersede. Unchanged files cost nothing.
- upsert (S7): changed/new files are chunked, tokenized, and written as
  FRESH doc blocks (block ids above every existing block) — posting
  shards are immutable, append-only, like FTS5/Lucene segments.
- delete cascade (S11): superseded and removed docs become tombstones
  in ``deletes/``; queries apply them inside the candidate scan, so
  dead docs affect neither matches nor df/idf. The reference's
  delete-not-visited sweep (codebased/index.py:673-699) is the
  ``full_snapshot=True`` mode; per-batch updates only supersede the
  paths present in the batch, exactly like the background worker's
  scoped re-index (index.py:332-334).
- stats: N/avgdl are maintained exactly from (old totals - tombstoned
  + appended) — FTS5's 'averages' row update — and carried by the
  commit's ``incr_<epoch>`` manifest record, the commit's last write.
- compaction (the fts 'optimize' analogue, index.py:670): rebuilding
  tombstone-heavy blocks needs the corpus content and is a full-build
  over live paths; ``tombstone_ratio`` tells operators when it's due.

The Structured Streaming wrapper feeds micro-batches of changed corpus
rows through the same batch function via foreachBatch — the Spark
analogue of the reference's watchdog debounce loop
(codebased/background_worker.py:25-52).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from codebased_spark.operators.docs import DOC_ID_BLOCK_BITS, build_docs
from codebased_spark.plans.engine import (
    FORMAT_VERSION,
    FtsIndex,
    _append_deletes,
    _overlapped_write,
    _postings_footer_metrics,
    _write_doc_stats,
    _write_manifest,
    get_block_rows,
)


def incremental_update(
    spark: SparkSession,
    index_dir: str,
    corpus_batch: DataFrame,
    chunk: bool = False,
    full_snapshot: bool = False,
    force_jvm: bool = False,
    force_generic_scan: bool = False,
    rebuild_phrase_df: bool = True,
    stage_timings: "dict | None" = None,
) -> FtsIndex:
    """Apply a corpus batch to an existing index. Returns the reloaded
    index. ``full_snapshot=True`` additionally tombstones every stored
    path that is absent from the batch (delete-not-visited).
    ``force_jvm``/``force_generic_scan`` apply to both the working and
    the returned index handle (a caller that opted out of the pyarrow
    fast path must not get it silently re-enabled by a commit). The new
    docs go into ``idx.num_blocks`` fresh blocks.

    Stages, in order (``stage_timings`` keys):

    - ``load_index``: open the index (no Spark job: its manifest record).
    - ``sha_gate_probe``: the change-set pass. One relation, the batch
      rows that fail the sha gate with the live docs of their paths, is
      materialized once (``localCheckpoint``); every scalar the commit
      needs (the no-op flag, tombstone count and length, dirty pblocks,
      the fresh-block offset) is observed while it runs. A batch with
      nothing to change returns here.
    - ``doc_stats_append``: the new docs, built once and persisted.
    - ``postings_append``: the build's write step
      (:func:`~codebased_spark.plans.engine._overlapped_write`): the
      posting append, with the new docs' per-block agg in a helper
      thread.
    - ``deletes_append``: the tombstones.
    - ``incr_manifest_footer_metrics``: the ``incr_<epoch>`` manifest
      record: the exact new totals (n_docs, total_dl, num_blocks), the
      appended block range ``blocks`` and the footer metrics of those
      blocks' shards.
    - ``presence_delta``, ``reload_index``, ``phrase_df_delta``: after
      the manifest, in that order.

    The writes land in the order doc_stats, postings, tombstones, then
    the manifest record, so a commit that fails part-way never leaves
    posting blocks without their doc_stats rows, nor the old docs
    tombstoned before the new postings landed, and until the record
    lands the index keeps its old totals and epoch. A re-apply after a
    failed posting append is still a sha-gated no-op, though: the
    failed commit's doc_stats rows count as live (the strict xfail
    ``test_reapply_after_a_failed_posting_append``).

    A live hot-phrase df side table (operators/phrasedf.py) is kept
    current: after the commit, update_phrase_df recomputes only the
    blocks the commit touched and splices them into the stored
    per-block table (a full build_phrase_df from the PRIOR
    generation's phrase list when no usable table is left). This runs
    strictly AFTER the commit manifest lands — a crash during it leaves
    a committed index whose table fingerprint no longer matches, which
    queries treat as no table (uncovered path), never stale dfs.

    ``stage_timings`` (optional dict) is filled with per-stage
    wall-clock seconds; it never changes behavior.

    ``rebuild_phrase_df`` is accepted for existing callers that pass
    ``True`` (perfbench/workloads.py); the table is always kept
    current, so ``False`` raises."""
    if rebuild_phrase_df is not True:
        raise ValueError("commits always keep the phrase-df table current; "
                         "rebuild_phrase_df=False is not supported")
    import time as _time

    _tm = stage_timings if stage_timings is not None else {}
    _t0 = _time.time()

    def _mark(name):
        nonlocal _t0
        now = _time.time()
        _tm[name] = round(_tm.get(name, 0.0) + (now - _t0), 3)
        _t0 = now

    idx = FtsIndex(spark, index_dir, force_jvm=force_jvm,
                   force_generic_scan=force_generic_scan)
    prior_phrases = list(idx.phrase_dfs)
    # the PRE-commit fingerprint the dirty set is derived from: the
    # delta splice refuses a stored table from any other generation
    # (ADVICE r06 — see update_phrase_df)
    prior_fp = (idx.n_docs, idx.total_dl, idx.epoch)
    _mark("load_index")

    # the highest stored block (for the fresh-block offset), observed
    # on the pass's own doc_stats scan: no job of its own
    stored_obs = Observation("stored")
    stored = idx.doc_stats.select("doc_id", "repo", "path", "sha256", "dl").observe(
        stored_obs, F.max(F.shiftright("doc_id", DOC_ID_BLOCK_BITS)).alias("max_pb"))
    # the sha gate and the delete sweep must see LIVE docs only: stale
    # doc_stats rows (already tombstoned) would otherwise both mask real
    # changes (old sha resurfacing) and double-count deletions. The
    # tombstone table joins as a DataFrame — never collected.
    tomb_df = idx.deletes_df()
    live = stored if tomb_df is None else stored.join(tomb_df, "doc_id", "left_anti")
    new_files = corpus_batch.select(
        "repo", "path", "commit", "lang", "content",
        F.sha2(F.col("content").cast("binary"), 256).alias("new_sha"),
        F.lit(True).alias("batch_row"),
    )
    # every batch row, and the live docs of its path paired with its
    # sha (a snapshot also keeps the live docs of paths absent from the
    # batch, new_sha null)
    docs = live.join(new_files.select("repo", "path", "new_sha"), ["repo", "path"],
                     "left" if full_snapshot else "inner")
    # S6, the sha gate: a batch row is unchanged iff a live doc has its
    # (repo, path, sha256); it and its docs leave the delta. S11: every
    # live doc paired with a changed row (or with none, in a snapshot)
    # is tombstoned — once, however many batch rows share its path.
    by_row = Window.partitionBy("repo", "path", "new_sha")
    by_doc = Window.partitionBy("repo", "path", "doc_id").orderBy("new_sha")
    first = F.row_number().over(by_doc) == 1
    delta_obs = Observation("delta")
    delta = (
        docs.unionByName(new_files, allowMissingColumns=True)
        .repartition("repo", "path")
        .withColumn("gated", F.max(F.col("sha256") == F.col("new_sha")).over(by_row))
        .filter(~F.coalesce("gated", F.lit(False)))
        .select("repo", "path", "commit", "lang", "content", "batch_row",
                F.when(first, F.col("doc_id")).alias("doc_id"),
                F.when(first, F.col("dl")).alias("dl"))
        .observe(
            delta_obs,
            F.count("batch_row").alias("changed"),
            F.count("doc_id").alias("n_dead"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_dead"),
            F.collect_set(F.shiftright("doc_id", DOC_ID_BLOCK_BITS).cast("int"))
            .alias("dead_pblocks"))
        # Cut lineage BEFORE mutating the index tables: the pass reads
        # doc_stats, and writing to that path invalidates dependent
        # caches (refreshByPath), which would silently recompute it
        # against the half-updated table.
        .localCheckpoint(eager=True)
    )
    seen = delta_obs.get
    n_changed, n_dead, dl_dead = seen["changed"], seen["n_dead"], seen["dl_dead"]
    _mark("sha_gate_probe")
    if not (n_changed or n_dead):
        # nothing to change (VERDICT r05 "What's wrong" #3: the fixed
        # floor of a commit that changes nothing): no write, no manifest
        # — the epoch fingerprint counts MUTATING commits, so a no-op
        # must not invalidate a still-exact phrase table
        return idx
    # Fresh blocks go above every STORED doc id (all doc_stats rows,
    # tombstoned included, so ids are never reused; posting FILES
    # under-count: docs whose columns produced no postings still occupy
    # their block, ADVICE.md r01)
    max_pb = stored_obs.get["max_pb"]
    offset = int(max_pb) + 1 if max_pb is not None else 0
    n_blocks = idx.num_blocks

    block_rows: list = []
    if n_changed:
        # S7: the changed batch rows are read off the checkpoint — no
        # doc_stats read in their lineage, so the new docs can be
        # persisted like the build's
        changed = delta.where(F.col("batch_row")).select(
            "repo", "path", "commit", "lang", "content")
        new_docs = build_docs(
            changed, num_blocks=n_blocks, chunk=chunk, block_offset=offset).persist()
        try:
            # doc_stats lands before the posting append starts: no
            # posting block is ever searchable without its doc_stats rows
            _write_doc_stats(new_docs, index_dir, "append")
            _mark("doc_stats_append")
            block_rows = _overlapped_write(spark, new_docs, index_dir, "append",
                                           lambda: get_block_rows(new_docs))
            _mark("postings_append")
        finally:
            new_docs.unpersist()
    n_add = sum(int(r["n"]) for r in block_rows)
    dl_add = sum(int(r["sdl"]) for r in block_rows)
    # the blocks the new docs went to (build_docs)
    blocks = (offset, offset + n_blocks if n_add else offset)
    # the old docs die and the totals move only once the new postings
    # have landed
    if n_dead:
        _append_deletes(delta.where(F.col("doc_id").isNotNull()), index_dir)
        _mark("deletes_append")
    stage = f"incr_{idx.epoch}"
    _write_manifest(
        idx.fs, index_dir, stage,
        {"stage": stage, "version": FORMAT_VERSION,
         "n_docs": idx.n_docs - n_dead + n_add,
         "total_dl": idx.total_dl - dl_dead + dl_add,
         "num_blocks": n_blocks, "blocks": list(blocks),
         "docs_added": n_add, "docs_tombstoned": n_dead,
         "full_snapshot": full_snapshot,
         "per_block": _postings_footer_metrics(idx.fs, index_dir, range(*blocks))},
    )
    _mark("incr_manifest_footer_metrics")
    if n_add:
        # delta-extend the term->block presence manifest with just
        # the NEW blocks' term sets (partition-pruned scan of the
        # appended shards only — O(changed blocks), no full rescan;
        # no-op when the index has no presence manifest). Ordering:
        # after the commit manifest, so a crash here leaves a
        # committed index whose new blocks are merely uncovered
        # (scanned unpruned), never a wrong prune.
        from codebased_spark.operators.presence import update_term_blocks

        update_term_blocks(spark, index_dir, idx.fs)
        _mark("presence_delta")
    out = FtsIndex(spark, index_dir, force_jvm=force_jvm,
                   force_generic_scan=force_generic_scan)
    _mark("reload_index")
    if prior_phrases:
        from codebased_spark.operators.phrasedf import (
            build_phrase_df,
            update_phrase_df,
        )

        # delta path: recompute only tombstone-touched + appended
        # blocks (O(changed blocks)); full rebuild only when no
        # per-block table survives to splice into
        dirty = set(seen["dead_pblocks"]) | set(range(*blocks))
        if update_phrase_df(spark, out, dirty,
                            prior_fingerprint=prior_fp) is None:
            build_phrase_df(spark, out, prior_phrases)
        _mark("phrase_df_delta")
    return out


def tombstone_ratio(index: FtsIndex) -> float:
    """Fraction of stored docs that are tombstoned — the compaction
    trigger (the FTS5 'optimize' analogue is a rebuild of live paths)."""
    stored = index.doc_stats.count()
    d = index.deletes_df()
    dead = 0 if d is None else d.distinct().count()
    return dead / stored if stored else 0.0


def compact_index(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    num_blocks: int | None = None,
    chunk: bool = False,
) -> FtsIndex:
    """The FTS5 'optimize' analogue (codebased/index.py:670): rebuild
    the index from the current corpus into a staging dir, then swap it
    in. Drops all tombstones and re-balances blocks; call when
    tombstone_ratio crosses the operator's threshold. A live hot-phrase
    df table is rebuilt over the compacted index, from the same phrase
    list, once the swap has succeeded.

    Crash-safety: the swap is two renames, NOT atomic. A crash between
    them leaves ``index_dir`` absent but both ``<dir>.pre-compact`` (the
    old index) and ``<dir>.compact`` (the new one) intact — recovery is
    renaming either back into place. The backup is deleted only after
    the new index has been re-loaded successfully; if that validation
    fails the old index is restored and the broken result parked at
    ``<dir>.compact-failed``."""
    from codebased_spark.plans.engine import build_index

    idx = FtsIndex(spark, index_dir)
    prior_phrases = list(idx.phrase_dfs)
    fs = idx.fs
    staging = index_dir.rstrip("/") + ".compact"
    fs.delete(staging)
    build_index(spark, corpus, staging, num_blocks=num_blocks or idx.num_blocks,
                chunk=chunk)
    backup = index_dir.rstrip("/") + ".pre-compact"
    fs.delete(backup)
    fs.rename(index_dir, backup)
    try:
        fs.rename(staging, index_dir)
    except BaseException:
        fs.rename(backup, index_dir)  # restore the old index
        raise
    try:
        out = FtsIndex(spark, index_dir)  # prove the new index loads
    except BaseException:
        fs.rename(index_dir, index_dir.rstrip("/") + ".compact-failed")
        fs.rename(backup, index_dir)
        raise
    fs.delete(backup)
    if prior_phrases:
        from codebased_spark.operators.phrasedf import build_phrase_df

        build_phrase_df(spark, out, prior_phrases)
    return out


def stream_corpus_updates(
    spark: SparkSession,
    index_dir: str,
    corpus_stream: DataFrame,
    checkpoint_dir: str,
    chunk: bool = False,
    trigger_seconds: float | None = None,
):
    """Structured Streaming wrapper: every micro-batch of corpus rows
    (changed files) is folded into the index via foreachBatch — the
    Spark analogue of the reference's 0.1 s-debounced watchdog loop.
    Returns the StreamingQuery (caller stops it). Each commit keeps a
    live hot-phrase df side table current (see
    :func:`incremental_update`)."""

    def fold(batch_df: DataFrame, _epoch_id: int):
        if batch_df.isEmpty():
            return
        incremental_update(spark, index_dir, batch_df, chunk=chunk)

    w = (
        corpus_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fold)
    )
    if trigger_seconds:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()
