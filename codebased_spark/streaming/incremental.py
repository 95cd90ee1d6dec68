"""Incremental index maintenance (operators S6/S7/S11 + SURVEY.md §3.3).

Mirrors the reference's semantics on Spark's storage model:

- change detection (S6): a new corpus snapshot/batch is anti-joined
  against the stored doc metadata on (repo, path, sha256) — the sha256
  gate of codebased/index.py:457-458. Unchanged files cost nothing.
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
  + appended) — FTS5's 'averages' row update.
- compaction (the fts 'optimize' analogue, index.py:670): rebuilding
  tombstone-heavy blocks needs the corpus content and is a full-build
  over live paths; ``tombstone_ratio`` tells operators when it's due.

The Structured Streaming wrapper feeds micro-batches of changed corpus
rows through the same batch function via foreachBatch — the Spark
analogue of the reference's watchdog debounce loop
(codebased/background_worker.py:25-52).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codebased_spark.operators.docs import DOC_ID_BLOCK_BITS, build_docs
from codebased_spark.plans.engine import (
    FORMAT_VERSION,
    FtsIndex,
    _join,
    _postings_footer_metrics,
    _write_corpus_stats,
    _write_manifest,
    _write_postings,
)


def incremental_update(
    spark: SparkSession,
    index_dir: str,
    corpus_batch: DataFrame,
    chunk: bool = False,
    full_snapshot: bool = False,
    num_blocks: int | None = None,
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
    fast path must not get it silently re-enabled by a commit).

    A live hot-phrase df side table (operators/phrasedf.py) is kept
    current: after the commit, update_phrase_df recomputes only the
    blocks the commit touched and splices them into the stored
    per-block table (a full build_phrase_df from the PRIOR
    generation's phrase list when no usable table is left). This runs
    strictly AFTER the commit manifest lands — a crash during it leaves
    a committed index whose table fingerprint no longer matches, which
    queries treat as no table (uncovered path), never stale dfs.

    ``stage_timings`` (optional dict) is filled with per-stage
    wall-clock seconds — the commit-cost breakdown the incremental
    bench reports (VERDICT r06 #2); it never changes behavior.

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
    prior_fp = None
    if prior_phrases:
        from codebased_spark.operators.phrasedf import _incr_epoch

        prior_fp = (idx.n_docs, idx.total_dl, _incr_epoch(idx))
    _mark("load_index")
    all_stored = idx.doc_stats.select("doc_id", "repo", "path", "sha256", "dl")
    # the sha gate and the delete sweep must see LIVE docs only: stale
    # doc_stats rows (already tombstoned) would otherwise both mask real
    # changes (old sha resurfacing) and double-count deletions. The
    # tombstone table joins as a DataFrame — never collected.
    tomb_df = idx.deletes_df()
    old = all_stored if tomb_df is None else all_stored.join(
        tomb_df, "doc_id", "left_anti"
    )

    new_files = corpus_batch.select(
        "repo", "path", "commit", "lang", "content",
        F.sha2(F.col("content").cast("binary"), 256).alias("sha256"),
    ).persist()
    try:
        # S6: the sha gate — rows whose (repo, path, sha256) already
        # exist are untouched (their docs stay live)
        changed = new_files.join(
            old.select("repo", "path", "sha256").distinct(),
            ["repo", "path", "sha256"],
            "left_anti",
        ).drop("sha256")

        # No-op short-circuit (VERDICT r05 "What's wrong" #3: the
        # ~9 s fixed floor of a commit that changes nothing): when the
        # batch is fully sha-gated and no delete sweep is requested,
        # nothing downstream can change — skip the checkpoint jobs,
        # stats rewrite, manifest, and reload outright. One limit-1
        # probe decides it; full_snapshot commits never short-circuit
        # (the sweep may still tombstone disappeared paths).
        noop = not full_snapshot and changed.isEmpty()
        _mark("sha_gate_probe")
        if noop:
            return idx

        # S11: docs superseded by a changed file, plus (full snapshot
        # only) docs whose path disappeared
        if full_snapshot:
            dead = old.join(
                new_files.select("repo", "path", "sha256"),
                ["repo", "path", "sha256"],
                "left_anti",
            )
        else:
            dead = old.join(
                changed.select("repo", "path").distinct(), ["repo", "path"], "left_semi"
            )
        # Cut lineage BEFORE mutating the index tables: both plans read
        # doc_stats, and writing to that path invalidates dependent
        # caches (refreshByPath), which would silently recompute them
        # against the half-updated table. localCheckpoint materializes
        # and truncates the dependency.
        dead = dead.localCheckpoint(eager=True)
        _mark("dead_checkpoint")

        # One fused job for the tombstone stats AND the block offset
        # (crossJoin of two single-row aggs — two stages, one job,
        # instead of two sequential driver round-trips). The offset
        # derives from STORED DOC IDS (over ALL doc_stats rows,
        # tombstoned included, so ids are never reused) — posting FILES
        # under-count: docs whose columns produced no postings still
        # occupy their block, and remote stores may list nothing
        # (ADVICE.md r01: two live docs once collided on doc_id this way).
        n_blocks = num_blocks or idx.num_blocks
        fused = dead.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("sdl"),
        ).crossJoin(
            idx.doc_stats.agg(
                F.max(F.shiftright("doc_id", DOC_ID_BLOCK_BITS)).alias("mpb"))
        ).collect()[0]
        n_dead, dl_dead = int(fused["n"]), int(fused["sdl"])
        max_pb = fused["mpb"]
        offset = int(max_pb) + 1 if max_pb is not None else 0
        _mark("tombstone_stats_and_offset")

        # blocks whose tombstone set this commit changes — the dirty
        # set for the phrase-df delta rebuild (cheap: dead is already
        # checkpointed; only runs when the index has a live table)
        dead_pblocks: list[int] = []
        if prior_phrases and n_dead:
            dead_pblocks = [
                int(r["pb"]) for r in dead.select(
                    F.shiftright("doc_id", DOC_ID_BLOCK_BITS)
                    .cast("int").alias("pb")).distinct().collect()
            ]
        _mark("dead_pblocks_list")
        new_docs = build_docs(
            changed, num_blocks=n_blocks, chunk=chunk, block_offset=offset
        ).localCheckpoint(eager=True)

        add_agg = new_docs.agg(
            F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("sdl")
        ).collect()[0]
        n_add, dl_add = int(add_agg["n"]), int(add_agg["sdl"])
        _mark("new_docs_checkpoint_and_agg")

        if n_add:
            new_docs.drop("content").write.mode("append").parquet(
                _join(index_dir, "doc_stats")
            )
            _mark("doc_stats_append")
            _write_postings(new_docs, index_dir, "append")
            _mark("postings_append")
        if n_dead:
            # partitioned by pblock so query tasks read only their own
            # block's tombstones (no driver materialization anywhere)
            dead.select(
                "doc_id",
                F.shiftright("doc_id", DOC_ID_BLOCK_BITS).cast("int").alias("pblock"),
            ).write.mode("append").partitionBy("pblock").parquet(
                _join(index_dir, "deletes")
            )
            _mark("deletes_append")

        if n_add or n_dead:
            # a commit that changed nothing writes nothing: stats are
            # already exact, and skipping the incr manifest keeps the
            # epoch fingerprint meaning "number of MUTATING commits"
            # (a no-op must not invalidate a still-exact phrase table)
            _write_corpus_stats(spark, index_dir, idx.n_docs - n_dead + n_add,
                                idx.total_dl - dl_dead + dl_add, n_blocks)
            _mark("corpus_stats_write")
            from codebased_spark.operators.phrasedf import incr_epoch_at

            epoch = incr_epoch_at(idx.fs, index_dir)
            _write_manifest(
                idx.fs, index_dir, f"incr_{epoch}",
                {"stage": f"incr_{epoch}", "version": FORMAT_VERSION,
                 "docs_added": n_add, "docs_tombstoned": n_dead,
                 "full_snapshot": full_snapshot,
                 "per_block": _postings_footer_metrics(idx.fs, index_dir)},
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
    finally:
        new_files.unpersist()
    _t0 = _time.time()
    out = FtsIndex(spark, index_dir, force_jvm=force_jvm,
                   force_generic_scan=force_generic_scan)
    _mark("reload_index")
    if prior_phrases and (n_add or n_dead):
        from codebased_spark.operators.phrasedf import (
            build_phrase_df,
            update_phrase_df,
        )

        # delta path: recompute only tombstone-touched + appended
        # blocks (O(changed blocks)); full rebuild only when no
        # per-block table survives to splice into. Appended docs sit
        # in blocks [offset, offset + n_blocks) (build_docs)
        dirty = set(dead_pblocks)
        if n_add:
            dirty |= set(range(offset, offset + n_blocks))
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
