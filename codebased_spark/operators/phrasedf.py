"""Hot-phrase document-frequency side table (the multi-trigram latency
lever — VERDICT r03 #9).

FTS5's idf uses the EXACT phrase document frequency, so a multi-trigram
phrase must be position-verified everywhere just to learn its df before
any score exists (operators/query.py module docstring, "Top-k
pruning"). Build-time df for ARBITRARY phrases is impossible, but real
query traffic is Zipfian: a small set of hot phrases (mined from query
logs, or :func:`hot_phrases_from_corpus` as a stand-in) covers most
multi-trigram latency. This module materializes their exact per-branch
dfs next to the index:

- :func:`build_phrase_df`: one stats-only job over the posting shards
  writes ``<index>/phrase_df/`` parquet plus a generation-fingerprint
  manifest. Its block body counts each phrase's live matches with the
  per-phrase pass the uncovered search path takes its df stats from
  (operators/query._phrase_block_docs: rarest-first intersection,
  position verification, tombstones dropped), so the stored dfs are
  the ones a search would count.
- :class:`~codebased_spark.plans.engine.FtsIndex` loads the table when
  its fingerprint (n_docs, total_dl, epoch) matches the index's own,
  from its latest manifest record; a query whose EVERY
  phrase is covered skips df verification and tightens emission: with
  every idf known in-task, multi-phrase blocks emit their exact branch
  top-k (<= 2*top_k rows) instead of the k-skyband (one emission
  prune, operators/query._emission_prune, serves both), the blocks
  emit no df-stat rows at all, and no per-task share caps them
  (operators/query._tail_bound). A query whose skyband outgrows its
  share is rescanned through the same covered path, with the dfs its
  first pass summed.
- Commits keep a live table current: once a commit lands,
  incremental_update recomputes only the blocks it touched
  (:func:`update_phrase_df`, a per-block splice). Until then the
  table's fingerprint no longer matches, so a crash in between leaves
  an uncovered index, never stale dfs. compact_index rebuilds the
  table over the compacted index from the same phrase list; a
  non-resume build_index deletes it.
- The table follows the index's reader (FtsIndex chooses it at open):
  the stats job runs through the query path's reader dispatch, and
  the table is read and written through pyarrow on the driver when
  the index reads its shards through pyarrow, through Spark otherwise.

Scores are bit-identical with or without the table: the stored dfs
equal the stats the blocks would have emitted (pinned by test), and the
in-task rank pipeline reuses _norm_np with _finish_rows' accumulation
order, so emission decisions agree with the driver's final ranking
bit-for-bit.

No reference counterpart: codebased's SQLite FTS5 recomputes phrase df
per query inside the C extension (fts5 aux API); this table is purely
a distributed-scale latency lever.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codebased_spark.functions.fts5 import casefold, phrase_terms
from codebased_spark.operators.textops import joined_ngrams

PHRASE_DF_DIR = "phrase_df"
PHRASE_DF_MANIFEST = "phrase_df"


def _corpus_ngrams(
    corpus: DataFrame, text_col: str, ngrams: tuple[int, ...]
) -> DataFrame:
    """One ``phrase`` row per case-folded word n-gram of the corpus for
    each n in ``ngrams`` (phrases under 3 chars — untrigrammable — are
    dropped). Unigrams matter for coverage: an UNQUOTED multi-word
    query parses to one single-word phrase per word, so a bigram-only
    hot set can never cover it."""
    w = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")

    parts = [w if n == 1 else joined_ngrams(w, n) for n in ngrams]
    allgrams = parts[0] if len(parts) == 1 else F.concat(*parts)
    return (
        corpus.select(F.explode(allgrams).alias("phrase"))
        .filter(F.length("phrase") >= 3)
    )


def _ngram_partial_counts(
    corpus: DataFrame, text_col: str, ngrams: tuple[int, ...]
) -> DataFrame:
    """(phrase, n) partial counts per partition — the r7 replacement
    for counting over :func:`_corpus_ngrams`'s exploded row stream.

    The Catalyst expansion (split + transform/concat_ws + explode)
    materializes one row PER N-GRAM OCCURRENCE before the hash
    aggregate's map side shrinks it again; this operator counts inside
    the scan task (collections.Counter — C-speed _count_elements) and
    emits one row per DISTINCT phrase per partition, which is exactly
    the partial-aggregate state Spark would have shuffled anyway
    (guide §2.3 "aggregate before you shuffle"). Measured: the miner's
    expansion went from ~26 s to ~2 s at sf0.1 on the same counts.

    Semantics are pinned to the Catalyst expression it replaces (and
    to the DuckDB oracle of ``hot_phrase_mining``):
    - ``split(lower(coalesce(text, '')), r'\\s+')`` with Java's
      ASCII-only ``\\s`` = [ \\t\\n\\x0B\\f\\r] and limit -1 (leading/
      trailing empty tokens kept) — the explicit class below matches
      Java on ANY input; ``str.lower()`` equals Spark's ``lower`` on
      ASCII and on the non-ASCII cases the equality test pins (İ,
      which lowers to two chars, final Σ, ẞ and titlecase ǅ); other
      non-ASCII text is unpinned (fts5.casefold assumes the same).
    - unigrams are the raw tokens; an n-gram joins n adjacent tokens
      with a single space (concat_ws keeps empty strings);
    - phrases shorter than 3 chars are dropped (untrigrammable).
    Equality with the expression path is pinned by test on corpora
    with empty tokens, repeated whitespace, and empty/null docs."""
    import re
    from collections import Counter

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")
    ns = tuple(int(n) for n in ngrams)

    def count_batches(it):
        counts: Counter = Counter()
        for pdf in it:
            for text in pdf[text_col]:
                toks = ws_re.split((text or "").lower())
                for n in ns:
                    if n == 1:
                        counts.update(t for t in toks if len(t) >= 3)
                    elif len(toks) >= n:
                        counts.update(
                            p for p in (
                                " ".join(toks[i:i + n])
                                for i in range(len(toks) - n + 1))
                            if len(p) >= 3)
        if counts:
            yield pd.DataFrame(
                {"phrase": list(counts.keys()),
                 "n": np.fromiter(counts.values(), np.int64,
                                  count=len(counts))})

    return corpus.select(F.col(text_col)).mapInPandas(
        count_batches, "phrase string, n long")


def hot_phrases_from_corpus(
    corpus: DataFrame,
    top_n: int = 64,
    text_col: str = "content",
    key: str = "digest",
    ngrams: tuple[int, ...] = (1, 2),
    sample_fraction: "float | None" = None,
    oversample: int = 8,
) -> list[str]:
    """Stand-in for query-log mining: the ``top_n`` most frequent
    case-folded word n-grams (default: unigrams + bigrams, ranked
    together by frequency) of the corpus. Real deployments should
    feed :func:`build_phrase_df` their query log's hot phrases
    instead; this helper exists so the table can be bootstrapped
    before any traffic arrives.

    ``key='digest'`` (default) shuffles 8-byte ``xxhash64`` keys, never
    phrase text (the same fix trainprep's n-gram ops got — VERDICT r04
    #4): pass 1 counts per digest and collects only the candidate
    digests at/above the top-``top_n`` boundary count; pass 2 re-counts
    BY TEXT among candidates only (a map-side hash filter, then a
    shuffle whose cardinality is the candidate set, not the corpus) and
    applies the exact (count desc, phrase asc) tie-break. Digest counts
    can only over-count a phrase (collisions merge), so the candidate
    set is a superset of the true top-N and pass 2's exact re-count
    restores equality with ``key='text'`` (pinned by test). When the
    boundary tie itself floods past the driver cap (boundary≈1 — tiny
    or degenerate corpora where most n-grams are unique), the miner
    falls back to the exact text path rather than truncate the
    candidate set. Digest-vs-text equality therefore holds up to
    xxhash64 collisions: a collision can only merge two phrases'
    counts, which can inflate a digest's pass-1 count and (if that
    digest sits exactly at the boundary) admit a spurious candidate —
    harmless, pass 2 re-counts by text — or push a true candidate's
    competitors above it; the one residual failure mode is a
    boundary-adjacent inflation demoting a true top-N digest below the
    boundary (~2^-64 per phrase pair, accepted). ``key='text'`` is the direct one-pass
    groupBy on phrase strings — fine at bench scale, a corpus-wide
    text-key shuffle at 100 TB.

    ``sample_fraction`` (VERDICT r05 #1: the exact miner's dominant
    cost is TWO full corpus n-gram expansions) runs candidate
    generation over a deterministic doc sample instead: the sample's
    top ``oversample * top_n`` digests (boundary ties included) become
    the candidates, and pass 2 still re-counts them EXACTLY by text
    over the FULL corpus — reported counts are always true counts, and
    the result equals the exact miner whenever every true top-N phrase
    ranks within the sample's top oversample*N (overwhelmingly so for
    the Zipfian frequency profiles mining targets; NOT a guarantee —
    the oracle gate and correctness-critical callers keep
    sample_fraction=None)."""
    rows = top_ngrams_df(corpus, top_n, text_col, key, ngrams,
                         sample_fraction, oversample).collect()
    return [r["phrase"] for r in rows]


def top_ngrams_df(
    corpus: DataFrame,
    top_n: int = 64,
    text_col: str = "content",
    key: str = "digest",
    ngrams: tuple[int, ...] = (1, 2),
    sample_fraction: "float | None" = None,
    oversample: int = 8,
) -> DataFrame:
    """The mined hot set as a (phrase, n) DataFrame, most-frequent
    first — the plan behind :func:`hot_phrases_from_corpus` (see its
    docstring for the digest-vs-text shuffle analysis and the
    ``sample_fraction`` contract). Exposed separately so the miner
    itself sits under the cross-engine value oracle (__spark_entry__
    ``hot_phrase_mining``)."""
    if not tuple(ngrams):
        raise ValueError("ngrams must be non-empty")
    # pc replaces the exploded-row stream of _corpus_ngrams with
    # task-side partial counts (one row per distinct phrase per
    # partition — see _ngram_partial_counts); every aggregation below
    # sums the partials, which is count-identical to counting the
    # exploded rows (pinned by test + the hot_phrase_mining oracle).
    # The digest step keeps Spark's own xxhash64, applied to the
    # partially-aggregated phrases, so digest semantics are unchanged.
    pc = _ngram_partial_counts(corpus, text_col, tuple(ngrams))
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError("sample_fraction must be in (0, 1]")
        if key not in ("digest", "text"):
            raise ValueError(f"key must be 'digest' or 'text', got {key!r}")
        return _top_ngrams_sampled(
            corpus, pc, top_n, text_col, key, tuple(ngrams),
            float(sample_fraction), int(oversample))
    if key == "text":
        return (
            pc.groupBy("phrase")
            .agg(F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n"))
            .orderBy(F.desc("n"), F.asc("phrase"))
            .limit(top_n)
        )
    if key != "digest":
        raise ValueError(f"key must be 'digest' or 'text', got {key!r}")
    dcounts = (
        pc.groupBy(F.xxhash64("phrase").alias("d"))
        .agg(F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n"))
    ).persist()  # two driver pulls below — never re-run the expansion
    try:
        head = dcounts.orderBy(F.desc("n"), F.asc("d")).limit(top_n).collect()
        if not head:
            return pc.groupBy("phrase").agg(
                F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n"),
            ).limit(0)
        boundary = min(int(r["n"]) for r in head)
        # every digest at/above the boundary count (ties included) is a
        # candidate. The driver pull is capped — but an arbitrary subset
        # of a tied flood would break the superset guarantee (and
        # text-mode equality), so a corpus whose boundary tie exceeds
        # the cap (boundary≈1: most n-grams unique — tiny corpora)
        # falls back to the exact text path instead of truncating.
        cap = max(16 * top_n, 1024)
        cand = dcounts.filter(F.col("n") >= boundary).select("d").limit(
            cap + 1).collect()
        if len(cand) > cap:
            return (
                pc.groupBy("phrase")
                .agg(F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n"))
                .orderBy(F.desc("n"), F.asc("phrase"))
                .limit(top_n)
            )
        cand_digests = [int(r["d"]) for r in cand]
    finally:
        dcounts.unpersist()
    return (
        pc.filter(F.xxhash64("phrase").isin(cand_digests))
        .groupBy("phrase")
        .agg(F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n"))
        .orderBy(F.desc("n"), F.asc("phrase"))
        .limit(top_n)
    )


def _top_ngrams_sampled(corpus, pc_full, top_n, text_col, key, ngrams,
                        fraction, oversample):
    """Sampled candidate generation + exact full-corpus re-count (the
    ``sample_fraction`` branch of :func:`top_ngrams_df`): pass 1
    counts n-grams only for a seed-deterministic doc sample and takes
    its top oversample*top_n digests (boundary ties included, capped);
    pass 2 re-counts those candidates exactly by text over the full
    corpus (``pc_full`` — the full corpus's partial counts). One full
    count instead of two, and the pass-1 shuffle shrinks by the
    sample fraction."""
    samp = corpus.sample(fraction=fraction, seed=42)
    dcounts = (
        _ngram_partial_counts(samp, text_col, ngrams)
        .groupBy(F.xxhash64("phrase").alias("d"))
        .agg(F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n"))
    ).persist()  # two driver pulls below
    try:
        n_cand = max(int(oversample) * top_n, top_n)
        head = dcounts.orderBy(F.desc("n"), F.asc("d")).limit(n_cand).collect()
        if not head:
            # the sample caught nothing (tiny corpus / tiny fraction):
            # the exact path is cheap there — run it instead of
            # returning a silently-empty hot set (honoring the
            # caller's key choice)
            return top_ngrams_df(corpus, top_n, text_col, key, ngrams)
        boundary = min(int(r["n"]) for r in head)
        cap = max(4 * n_cand, 2048)
        cand = dcounts.filter(F.col("n") >= boundary).select("d").limit(
            cap + 1).collect()
        if len(cand) > cap:
            # boundary tie flood: sampling is already approximate, so
            # (unlike the exact miner) truncating to the head is fine —
            # every survivor still gets an exact full-corpus count
            cand_digests = [int(r["d"]) for r in head]
        else:
            cand_digests = [int(r["d"]) for r in cand]
    finally:
        dcounts.unpersist()
    return (
        pc_full.filter(F.xxhash64("phrase").isin(cand_digests))
        .groupBy("phrase")
        .agg(F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n"))
        .orderBy(F.desc("n"), F.asc("phrase"))
        .limit(top_n)
    )


def hot_phrases_from_query_log(queries, top_n: int = 64) -> list[str]:
    """The hot set mined from REAL traffic — the operational successor
    to :func:`hot_phrases_from_corpus` once queries exist. Parses each
    logged query with the engine's own FTS5 parser and ranks the
    resulting phrases by frequency, (count desc, phrase asc) tie-break;
    sub-3-char phrases (untrigrammable) are dropped.

    ``queries`` is either an in-memory iterable of query strings
    (``FtsIndex.query_log`` — a bounded deque the index fills on every
    search/search_batch) or a DataFrame with a ``query`` column (a
    persisted log at scale; parsing runs as an Arrow-batched pandas
    UDF and the shuffle keys are log-sized phrase strings, never
    corpus-sized — a query log is traffic-bounded, so text keys are
    fine here)."""
    from codebased_spark.functions.fts5 import query_phrases

    if isinstance(queries, DataFrame):
        import pandas as pd  # noqa: F811 (executor-side import parity)
        from pyspark.sql.functions import pandas_udf

        parse = pandas_udf(
            lambda qs: qs.map(lambda q: query_phrases(q or "")),
            "array<string>",
        )
        rows = (
            queries.select(F.explode(parse(F.col("query"))).alias("phrase"))
            .filter(F.length("phrase") >= 3)
            .groupBy("phrase")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("phrase"))
            .limit(top_n)
            .collect()
        )
        return [r["phrase"] for r in rows]
    from collections import Counter

    counts: Counter = Counter()
    # snapshot first: FtsIndex.search/search_batch append to query_log
    # on every call, and mining while concurrent traffic flows (the
    # documented operational loop) would otherwise raise
    # "deque mutated during iteration"
    for q in tuple(queries):
        for p in query_phrases(q or ""):
            if len(p) >= 3:
                counts[p] += 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [p for p, _n in ranked[:top_n]]


def _phrase_stats_body(phrases_terms):
    """The stats-only block body: (pblock, rows, deleted) blocks from
    the index's reader (operators/query._reader) ->
    one (pblock, phrase_idx, df_all, df_name) row per phrase matching
    in a block. Each phrase's live matches come from
    query._phrase_block_docs, the per-phrase pass the uncovered query
    path takes its df stats from. Emitting the pblock keeps the stored
    table PER-BLOCK, which is what makes the delta rebuild
    (:func:`update_phrase_df`) possible: dfs are additive across
    blocks, so only dirty blocks need recomputing."""
    from codebased_spark.operators.query import _phrase_block_docs

    def body(blocks):
        for pblock, rows, deleted in blocks:
            out = []
            for pi, terms in enumerate(phrases_terms):
                got = _phrase_block_docs(rows, terms, deleted)
                if got is not None:
                    docs, _dl, _ta, tn = got
                    out.append((int(pblock), pi, int(docs.size),
                                int((tn > 0).sum())))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["pblock", "phrase_idx", "df_all", "df_name"])

    return body


_PHRASE_STATS_SCHEMA = "pblock int, phrase_idx int, df_all long, df_name long"
_PHRASE_TABLE_SCHEMA = "phrase string, pblock int, df_all long, df_name long"


def _phrase_block_stats(index, pts, pblocks=None):
    """[(pblock, phrase_idx, df_all, df_name)] over every block, or only
    ``pblocks`` — the one scan behind build/update_phrase_df (one Spark
    job; two behind the Spark reader), run through the query path's
    reader dispatch (operators/query._reader), so on the reader the
    index's searches use. Row count is bounded by
    |phrases| x |blocks| (tiny), so no aggregation runs in the job; the
    caller sums driver-side."""
    from codebased_spark.operators.query import _reader

    needed = sorted({int(t) for ts in pts for t in ts})
    _route, _n_tasks, scan = _reader(index, needed, pblocks)
    return [(int(r["pblock"]), int(r["phrase_idx"]),
             int(r["df_all"]), int(r["df_name"]))
            for r in scan(_phrase_stats_body(pts), _PHRASE_STATS_SCHEMA)]


def _read_phrase_rows(spark, index) -> "list[dict]":
    """The stored table as plain dicts, read the way the index reads its
    shards: a DRIVER-side pyarrow read (the table is tiny: |phrases| x
    |blocks| rows), so index loads and delta rebuilds cost no Spark job
    for it, or a Spark read behind the Spark reader."""
    from codebased_spark.plans.engine import _join

    out_dir = _join(index.index_dir, PHRASE_DF_DIR)
    if not index.posting_files:
        return [r.asDict() for r in
                spark.read.schema(_PHRASE_TABLE_SCHEMA).parquet(out_dir).collect()]
    from codebased_spark.operators.query import _pa_read_table
    from codebased_spark.plans.fsio import canonical_uri

    return _pa_read_table(canonical_uri(out_dir), {}).to_pylist()


def _write_phrase_table(spark, index, block_rows, phrase_order) -> dict:
    """Persist per-block rows + zero-marker rows (pblock=-1 keeps
    phrases with no matches — including sub-trigram ones — in the
    table: the covered AND-fail short-circuit depends on their (0,0)
    entries), stamp the manifest with the CURRENT corpus fingerprint,
    and return the aggregated dict. The write follows the index's
    reader: DRIVER-side pyarrow when it reads shards through pyarrow —
    the table is tiny, and skipping the Spark write removes a whole job
    from every (re)build — else a Spark write."""
    from codebased_spark.plans.engine import (
        FORMAT_VERSION,
        _join,
        _manifest_path,
        _write_manifest,
    )

    have = {p for p, _pb, _da, _dn in block_rows}
    table_rows = list(block_rows) + [
        (p, -1, 0, 0) for p in phrase_order if p not in have]
    out_dir = _join(index.index_dir, PHRASE_DF_DIR)
    # manifest first, then data: a crash can leave data-without-manifest
    # (harmless — load ignores it) but never manifest-without-data
    index.fs.delete(_manifest_path(index.index_dir, PHRASE_DF_MANIFEST))
    index.fs.delete(out_dir)
    if index.posting_files:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        from codebased_spark.plans.fsio import _scheme, canonical_uri

        tbl = pa.table({
            "phrase": pa.array([r[0] for r in table_rows], pa.string()),
            "pblock": pa.array([int(r[1]) for r in table_rows], pa.int32()),
            "df_all": pa.array([int(r[2]) for r in table_rows], pa.int64()),
            "df_name": pa.array([int(r[3]) for r in table_rows], pa.int64()),
        })
        uri = canonical_uri(out_dir)  # a plain path may be relative
        fs, real = pafs.FileSystem.from_uri(uri) if _scheme(uri) else \
            (pafs.LocalFileSystem(), uri)
        fs.create_dir(real, recursive=True)
        pq.write_table(tbl, real + "/part-00000.parquet", filesystem=fs)
    else:
        # 1-slice parallelize, not coalesce(1): the latter replays
        # defaultParallelism python partitions through one task (~5 s)
        spark.createDataFrame(
            spark.sparkContext.parallelize(table_rows, 1), _PHRASE_TABLE_SCHEMA,
        ).write.mode("overwrite").parquet(out_dir)
    _write_manifest(index.fs, index.index_dir, PHRASE_DF_MANIFEST, {
        "stage": PHRASE_DF_MANIFEST,
        "version": FORMAT_VERSION,
        "layout": "per_block",
        "n_docs": index.n_docs,
        "total_dl": index.total_dl,
        "epoch": index.epoch,
        "n_phrases": len(phrase_order),
    })
    agg: dict = {p: [0, 0] for p in phrase_order}
    for p, _pb, da, dn in table_rows:
        agg[p][0] += da
        agg[p][1] += dn
    loaded = {p: (a, b) for p, (a, b) in agg.items()}
    index.phrase_dfs = loaded
    return loaded


def build_phrase_df(spark: SparkSession, index, phrases: list[str]) -> dict:
    """Materialize exact (df_all, df_name) for ``phrases`` under
    ``index.index_dir/phrase_df/`` and return the loaded dict. Phrases
    are case-folded; sub-3-char phrases are stored with df 0 (they can
    never match — trigram semantics). The table is stored PER BLOCK
    (phrase, pblock, df_all, df_name) so commits can delta-rebuild just
    the dirty blocks (:func:`update_phrase_df`); the manifest records
    the index's (n_docs, total_dl, epoch) fingerprint and FtsIndex
    refuses a stale table."""
    folded = []
    seen = set()
    for p in phrases:
        fp = casefold(p)
        if fp and fp not in seen:
            seen.add(fp)
            folded.append(fp)

    block_rows: list = []
    term_lists = [(p, phrase_terms(p)) for p in folded if len(p) >= 3]
    if term_lists and index.n_docs:
        stats = _phrase_block_stats(index, [ts for _, ts in term_lists])
        block_rows = [
            (term_lists[pi][0], pb, da, dn) for pb, pi, da, dn in stats]
    return _write_phrase_table(spark, index, block_rows, folded)


def update_phrase_df(spark: SparkSession, index, dirty_pblocks,
                     prior_fingerprint: tuple) -> "dict | None":
    """Delta rebuild after a commit: recompute per-block stats ONLY for
    ``dirty_pblocks`` (blocks that gained tombstones or were appended)
    and splice them into the stored per-block table — clean blocks'
    dfs cannot have changed (postings are immutable; df is additive
    across blocks). Returns the refreshed dict, or None when no usable
    per-block table exists (caller falls back to a full
    :func:`build_phrase_df`). ``index`` must be the POST-commit handle
    (the manifest is stamped with its fingerprint); its reader serves
    the dirty blocks (:func:`_phrase_block_stats`).

    This is O(changed blocks) instead of O(all blocks) — the shape a
    debounced micro-batch loop needs: a 10-file batch touches 1-2
    blocks of a 10k-block index, so the rebuild no longer rescans
    every shard (VERDICT r05 "What's missing" #3).

    ``prior_fingerprint`` = (n_docs, total_dl, epoch) of the PRE-commit
    index the dirty set was derived from (ADVICE r06): the stored
    table's manifest must match it or the splice refuses (returns None
    -> full rebuild) — a stale table from some other generation would
    otherwise be silently stamped fresh, and df=0 rows can make covered
    queries wrongly empty."""
    if _stored_fingerprint(index) != tuple(int(x) for x in prior_fingerprint):
        return None
    try:
        old = _read_phrase_rows(spark, index)
    except Exception:
        return None
    if not old:
        return None
    phrase_order = list(dict.fromkeys(r["phrase"] for r in old))
    dirty = {int(b) for b in dirty_pblocks}
    kept = [
        (r["phrase"], int(r["pblock"]), int(r["df_all"]), int(r["df_name"]))
        for r in old
        if int(r["pblock"]) not in dirty and int(r["pblock"]) != -1
    ]
    term_lists = [(p, phrase_terms(p)) for p in phrase_order if len(p) >= 3]
    fresh: list = []
    if term_lists and index.n_docs and dirty:
        stats = _phrase_block_stats(
            index, [ts for _, ts in term_lists], dirty)
        fresh = [(term_lists[pi][0], pb, da, dn) for pb, pi, da, dn in stats]
    return _write_phrase_table(spark, index, kept + fresh, phrase_order)


def _stored_fingerprint(index) -> "tuple | None":
    """(n_docs, total_dl, epoch) the stored table's manifest was stamped
    with, or None when the manifest is absent, of another format, or
    lacks a field (a table from before per-block rows and epochs reads
    as absent). The epoch (``FtsIndex.epoch``) is in it because (n_docs,
    total_dl) alone can collide: a same-length single-file edit keeps
    both, and the PRE-commit table survives on disk until the commit's
    delta lands, so a crash in between must leave it detectably
    stale."""
    from codebased_spark.plans.engine import _current_manifest

    man = _current_manifest(index.fs, index.index_dir, PHRASE_DF_MANIFEST)
    try:
        return tuple(int(man[k]) for k in ("n_docs", "total_dl", "epoch"))
    except (KeyError, TypeError, ValueError):
        return None


def load_phrase_df(spark: SparkSession, index) -> dict:
    """The phrase-df dict for ``index``, or {} when absent or STALE
    (fingerprint mismatch — the corpus changed since the table was
    built, so its dfs would silently corrupt idf)."""
    stored = _stored_fingerprint(index)
    if stored is None or \
            stored != (index.n_docs, index.total_dl, index.epoch):
        return {}
    try:
        agg: dict = {}
        for r in _read_phrase_rows(spark, index):  # per block: additive
            a = agg.setdefault(r["phrase"], [0, 0])
            a[0] += int(r["df_all"])
            a[1] += int(r["df_name"])
        return {p: (a, b) for p, (a, b) in agg.items()}
    except Exception:
        # a manifest surviving a crash window whose data dir is gone
        # must disable the table, never make the index unopenable
        return {}
