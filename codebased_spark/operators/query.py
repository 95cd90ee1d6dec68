"""Index-backed query execution (operators Q1-Q7 of SURVEY.md §2.4).

One query path — a single search is a batch of one
(search_index_files_batch):

  driver: parse (_parse_batch; sub-trigram phrases drop out, as in
    |     FTS5) -> presence-prune the shard list (_prune_batch) ->
    |     candidate-row bound, charged per task (_tail_bound)
    |  scan feeder, the ONE fork:
    |    Spark   spark.range over the shard list -> mapInPandas
    |            (_scan_df): one Spark job
    |    direct  the same task body run on the driver
    |            (_direct_scan_rows): no Spark job; small stores only
    |            (DRIVER_DIRECT_MAX_BYTES / DRIVER_DIRECT_MAX_SHARDS)
  pyarrow reader (_shard_reader), per shard:
    |  pyarrow read of the row groups holding the query trigrams
    |  (rows sorted by term; footer min/max pruning) and the block's
    |  tombstones -> one (pblock, rows, deleted) block
  task body (_candidate_body), over its blocks:
    |  positional intersection per block: doc-list intersect (rarest
    |  term first), then shifted position-key intersect; a block
    |  missing a required trigram is skipped; dl rides in the posting
    |  rows, so there is no doc_stats join ->
    |  per task: one summed df-stat row per (query, phrase) and the
    |  emission-pruned doc rows (<= 2*top_k per query single-phrase,
    |  a k-skyband multi-phrase)
  tail (_finish): ONE collect of the candidates -> df agg, idf, BM25
     sum, two-branch top-k, union/dedupe/top-k per query, in numpy
     (bit-identical float pipeline); candidate sets beyond
     DRIVER_FINISH_MAX run the JVM flat plan against the same
     persisted candidates (reference CTE: codebased/search.py:240-302)

Stores pyarrow cannot reach (FtsIndex.posting_files == []) swap the
pyarrow reader for the Spark reader (_generic_scan, behind
search_index_batch): a term filter pushed into the posting DataFrame
scan, one applyInPandas group per pblock cogrouped with the tombstone
rows, each group one block for the same task body; its candidates
take the same tail with no bound (a limit-guarded collect). The
phrase-df stats job (operators/phrasedf.py) runs its own body over
either reader.

Exactness: identical scores to operators/score.py (brute force) and to
SQLite FTS5 — phrase tf via consecutive-position intersection equals
overlapping substring count; df/idf semantics per branch as probed in
tests/test_fts5_semantics.py.

Top-k pruning (all layers EXACT — parity tests stay bit-identical):

Classical Block-Max WAND skips posting blocks whose score upper bound
cannot beat the running k-th score. Under FTS5 semantics that bound is
only usable in a narrow case, because idf comes from the EXACT phrase
document frequency: every doc where the phrase might match must be
position-verified just to count df, before any score exists. Skipping a
block would change idf and therefore every score — so the decode work
for multi-trigram phrases is irreducible, and what CAN be pruned is:

1. Row groups: shards store term-sorted rows in small parquet row
   groups; the pyarrow scan's term filter reads only groups whose
   [min,max] covers a query trigram (~10x less read per query).
2. Emission: for single-phrase queries both final branches order by
   (positive global idf) x norm(tf, dl), so each block, and then each
   task across its blocks (_task_emission_prune), emits only its local
   branch top-k by norm — any doc it drops is beaten by >= k docs it
   kept under every possible idf. df stats are taken before pruning.
   Multi-phrase scores mix per-phrase idfs unknown at task time; those
   emit their Pareto k-skyband (_pareto_survivors).
3. Block-Max WAND proper: a single-trigram phrase occurring only in the
   content column needs no position verification (tf = trigram tf, df =
   stored row df), so the per-chunk (skip_max_tf, skip_min_dl) bound is
   sound: chunks are visited bound-descending and decoding stops at the
   running k-th norm — cold chunks are never decoded at all
   (_single_trigram_wand; bounds share _norm_np's float pipeline with
   the JVM expression, so ordering decisions are bit-consistent).
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codebased_spark import B, DEFAULT_TOP_K, K1
from codebased_spark.functions.codec import (
    SKIP_EVERY,
    decode_doc_ids_chunked,
    decode_positions,
    decode_varint,
    slice_chunks,
)
from codebased_spark.functions.fts5 import idf as idf_fn
from codebased_spark.functions.fts5 import match_phrases, phrase_terms

_POS_BITS = 32  # (local doc index << 32) | shifted position


def _norm_np(tf, dl, avgdl: float):
    """BM25 tf-normalization, numpy mirror of :func:`_norm` — SAME
    operation order as the Catalyst expression so task-side ranking
    decisions agree with the JVM scores bit-for-bit."""
    tf = tf.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + (B * dl.astype(np.float64)) / avgdl))


def _rank_rows(tf_mat, dl, idfs, avgdl: float):
    """rank = -sum_i idf_i * norm(tf_i, dl) over a (n, n_ph) tf matrix.

    THE accumulation-order-defining loop: the JVM literal chain
    (lit(0.0) + w0*n0 + w1*n1 + ...), the driver tail (_finish_rows),
    and the covered-WAND in-task emission (_covered_block_frame) must
    all rank through the SAME float pipeline, or a doc pruned in a
    block could tie-break differently at the driver. Every numpy site
    calls this one helper — do not re-inline it."""
    s = np.zeros(tf_mat.shape[0])
    for i, w in enumerate(idfs):
        s = s + w * _norm_np(tf_mat[:, i], dl, avgdl)
    return -s


def _multi_slice(flat: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Gather flat[starts[i] : starts[i]+lens[i]] for all i, vectorized."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=flat.dtype)
    rep_starts = np.repeat(starts, lens)
    offs = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
    return flat[rep_starts + offs]


class _Row:
    """Lazily-decoded posting row for one (term, col) in one block.

    The byte streams restart their delta chains every SKIP_EVERY docs
    with recorded byte offsets (functions/codec.encode_posting_chunked),
    so membership tests and position fetches against a small candidate
    set decode only the touched chunks — the skip-pointer read path that
    makes intersecting a rare term with a huge stopword-like trigram
    list O(|rare| * chunk) instead of O(|huge|)."""

    __slots__ = ("df", "_raw", "_docs", "_tfs", "_pos", "_offs", "_dls",
                 "_skip_last", "_chunks", "_scalar_chunks")

    def __init__(self, rec):
        self.df = int(rec["df"])
        self._raw = rec
        self._docs = self._tfs = self._pos = self._offs = self._dls = None
        self._skip_last = None
        self._chunks = {}  # chunk_id -> (docs, tfs, pos, pos_offs, dls)
        self._scalar_chunks = {}  # chunk_id -> (docs, tfs, dls), no positions

    @property
    def skip_last(self):
        if self._skip_last is None:
            self._skip_last = np.asarray(self._raw["skip_last"], dtype=np.int64)
        return self._skip_last

    @property
    def skip_max_tf(self):
        return np.asarray(self._raw["skip_max_tf"], dtype=np.int64)

    @property
    def skip_min_dl(self):
        return np.asarray(self._raw["skip_min_dl"], dtype=np.int64)

    def chunk_scalars(self, cid: int):
        """(docs, tfs, dls) of one chunk WITHOUT touching the position
        stream — the decode the block-max path uses (positions are the
        bulk of a posting row; doc-list intersection and upper-bound
        scoring never need them). Cached independently of the full
        chunk cache."""
        got = self._chunks.get(cid)
        if got is not None:
            return got[0], got[1], got[4]
        got = self._scalar_chunks.get(cid)
        if got is not None:
            return got
        r = self._raw
        docs_b = slice_chunks(r["doc_bytes"], np.asarray(r["skip_doc_off"]),
                              np.array([cid]), len(r["doc_bytes"]))[0]
        tf_b = slice_chunks(r["tf_bytes"], np.asarray(r["skip_tf_off"]),
                            np.array([cid]), len(r["tf_bytes"]))[0]
        dl_b = slice_chunks(r["dl_bytes"], np.asarray(r["skip_dl_off"]),
                            np.array([cid]), len(r["dl_bytes"]))[0]
        docs = np.cumsum(decode_varint(docs_b), dtype=np.int64)
        got = (docs, decode_varint(tf_b), decode_varint(dl_b))
        if len(r["skip_last"]) > 1:
            self._scalar_chunks[cid] = got
        return got

    @property
    def docs(self):
        if self._docs is None:
            self._docs = decode_doc_ids_chunked(self._raw["doc_bytes"])
        return self._docs

    @property
    def dls(self):
        if self._dls is None:
            self._dls = decode_varint(self._raw["dl_bytes"])
        return self._dls

    @property
    def tfs(self):
        if self._tfs is None:
            self._tfs = decode_varint(self._raw["tf_bytes"])
        return self._tfs

    @property
    def pos(self):
        if self._pos is None:
            self._pos = decode_positions(self._raw["pos_bytes"], self.tfs)
            self._offs = np.cumsum(self.tfs) - self.tfs
        return self._pos

    def _chunk(self, cid: int):
        """Decode one chunk on demand (docs, tfs, pos, pos_offs, dls)."""
        got = self._chunks.get(cid)
        if got is not None:
            return got
        r = self._raw
        n_chunks = len(r["skip_last"])
        docs_b = slice_chunks(r["doc_bytes"], np.asarray(r["skip_doc_off"]),
                              np.array([cid]), len(r["doc_bytes"]))[0]
        tf_b = slice_chunks(r["tf_bytes"], np.asarray(r["skip_tf_off"]),
                            np.array([cid]), len(r["tf_bytes"]))[0]
        pos_b = slice_chunks(r["pos_bytes"], np.asarray(r["skip_pos_off"]),
                             np.array([cid]), len(r["pos_bytes"]))[0]
        dl_b = slice_chunks(r["dl_bytes"], np.asarray(r["skip_dl_off"]),
                            np.array([cid]), len(r["dl_bytes"]))[0]
        docs = np.cumsum(decode_varint(docs_b), dtype=np.int64)
        tfs = decode_varint(tf_b)
        pos = decode_positions(pos_b, tfs)
        dls = decode_varint(dl_b)
        got = (docs, tfs, pos, np.cumsum(tfs) - tfs, dls)
        if n_chunks > 1:  # caching only pays when the row is chunked
            self._chunks[cid] = got
        return got

    def _chunks_for(self, doc_subset: np.ndarray) -> np.ndarray:
        return np.unique(np.searchsorted(self.skip_last, doc_subset))

    def members(self, doc_subset: np.ndarray) -> np.ndarray:
        """Subset of doc_subset present in this posting list — decodes
        only the chunks the candidates could live in, and only their
        SCALAR streams (r4: this previously went through _chunk and
        paid the position decode for every touched chunk; positions are
        now first decoded by rows_for, for the post-intersection
        survivors only)."""
        cids = self._chunks_for(doc_subset)
        cids = cids[cids < self.skip_last.size]
        if cids.size == 0:
            return doc_subset[:0]
        if self._docs is not None or cids.size == self.skip_last.size:
            return doc_subset[np.isin(doc_subset, self.docs, assume_unique=True)]
        present = np.concatenate([self.chunk_scalars(int(c))[0] for c in cids])
        return doc_subset[np.isin(doc_subset, present, assume_unique=True)]

    def scalars_for(self, doc_subset: np.ndarray):
        """(tfs, dls) aligned with the (sorted, member) subset — the
        position-free mirror of rows_for, feeding the known-idf upper
        bounds (phrase tf <= min member-trigram tf)."""
        cids = self._chunks_for(doc_subset)
        cids = cids[cids < self.skip_last.size]
        if self._tfs is not None or cids.size == self.skip_last.size:
            idx = np.searchsorted(self.docs, doc_subset)
            return self.tfs[idx], self.dls[idx]
        parts_t, parts_d = [], []
        split_at = np.searchsorted(doc_subset, self.skip_last[cids], side="right")
        prev = 0
        for c, hi in zip(cids, split_at):
            sub = doc_subset[prev:hi]
            prev = hi
            if sub.size == 0:
                continue
            docs, tfs, dls = self.chunk_scalars(int(c))
            idx = np.searchsorted(docs, sub)
            parts_t.append(tfs[idx])
            parts_d.append(dls[idx])
        if not parts_t:
            e = np.empty(0, dtype=np.int64)
            return e, e
        return np.concatenate(parts_t), np.concatenate(parts_d)

    def rows_for(self, doc_subset: np.ndarray):
        """(flat positions, lens, dls) for the (sorted, member) subset —
        chunk-selective decode."""
        cids = self._chunks_for(doc_subset)
        cids = cids[cids < self.skip_last.size]
        if self._pos is not None or cids.size == self.skip_last.size:
            idx = np.searchsorted(self.docs, doc_subset)
            lens = self.tfs[idx]
            if self._pos is None:
                _ = self.pos
            return _multi_slice(self.pos, self._offs[idx], lens), lens, self.dls[idx]
        parts_p, parts_l, parts_d = [], [], []
        split_at = np.searchsorted(doc_subset, self.skip_last[cids], side="right")
        prev = 0
        for c, hi in zip(cids, split_at):
            sub = doc_subset[prev:hi]
            prev = hi
            if sub.size == 0:
                continue
            docs, tfs, pos, pos_offs, dls = self._chunk(int(c))
            idx = np.searchsorted(docs, sub)
            lens = tfs[idx]
            parts_p.append(_multi_slice(pos, pos_offs[idx], lens))
            parts_l.append(lens)
            parts_d.append(dls[idx])
        if not parts_l:
            e = np.empty(0, dtype=np.int64)
            return e, e, e
        return np.concatenate(parts_p), np.concatenate(parts_l), np.concatenate(parts_d)

    def positions_for(self, doc_subset: np.ndarray):
        """(flat positions, lens) for the given (sorted) subset of docs."""
        p, lens, _ = self.rows_for(doc_subset)
        return p, lens


def _verify_positions(recs, common: np.ndarray):
    """Exact phrase tfs over a candidate doc set: positions shifted by
    term index and intersected — the count of common start positions is
    the overlapping-substring tf. Returns (tf, dls) aligned with
    ``common`` (tf 0 = no phrase match there)."""
    keys = None
    dls = None
    for i, r in enumerate(recs):
        p, lens, d = r.rows_for(common)
        if dls is None:
            dls = d
        didx = np.repeat(np.arange(common.size, dtype=np.int64), lens)
        shifted = p - i
        ok = shifted >= 0
        k = (didx[ok] << _POS_BITS) | shifted[ok]
        keys = k if keys is None else keys[np.isin(keys, k, assume_unique=True)]
        if keys.size == 0:
            return np.zeros(common.size, dtype=np.int64), dls
    tf = np.bincount((keys >> _POS_BITS).astype(np.int64), minlength=common.size)
    return tf.astype(np.int64), dls


def _phrase_block_tfs(rows: dict, terms: list[int], col: int):
    """(doc_ids, tfs, dls) of a phrase within one block+column, or None.

    Exact FTS5 phrase matching: doc lists intersected rarest-first
    (scalar streams only), then position verification via
    :func:`_verify_positions` over the survivors. dls ride along from
    the posting rows (no doc_stats lookup needed)."""
    recs = []
    for t in terms:
        r = rows.get((t, col))
        if r is None:
            return None  # a required trigram is absent -> whole block skipped
        recs.append(r)
    if len(recs) == 1:
        r = recs[0]
        return r.docs, r.tfs, r.dls
    order = sorted(range(len(recs)), key=lambda i: recs[i].df)
    common = recs[order[0]].docs  # rarest list drives; it IS the candidate set
    for i in order[1:]:
        common = recs[i].members(common)  # chunk-selective membership test
        if common.size == 0:
            return None
    tf, dls = _verify_positions(recs, common)
    hit = tf > 0
    if not hit.any():
        return None
    return common[hit], tf[hit], dls[hit]


def _pareto_survivors(tfs, dl, doc_ids, avgdl, top_k, chunk=1024):
    """Boolean mask of docs NOT Pareto-dominated by >= top_k block-mates
    (the exact k-skyband).

    Multi-phrase rank = sum_i idf_i * norm_i with every idf_i > 0 but
    unknown inside the task. If norm_i(Y) >= norm_i(X) for all phrases
    with one strict — or all equal and doc_id(Y) < doc_id(X) — then Y
    sorts strictly before X under EVERY positive weight vector, so a
    doc with >= top_k dominators can never reach the global branch
    top-k.

    Sort-filter-skyline sweep (replaces the r2 O(n²·p) all-pairs matrix
    and its 8,192-doc cap — VERDICT r02 #4): docs are visited in a
    LINEAR EXTENSION of the dominance order, (-sum of norms, doc_id) —
    any dominator of X sorts strictly before X (strict dominance raises
    the norm sum; all-equal tie-dominance has the smaller doc_id). Each
    chunk counts its true dominators among (a) previously KEPT docs and
    (b) earlier rows of its own chunk, both plain `>=`-all tests: a
    kept/earlier doc that is >= everywhere either is strictly greater
    somewhere or is all-equal with a smaller doc_id — a dominator
    either way.

    Exactness of the count: only true dominators are ever counted (so
    nothing with < top_k dominators is dropped), and a doc with >=
    top_k dominators always accumulates >= top_k of them here — its
    dominator set is upward-closed under dominance, so a topological
    prefix of it (k docs with < k dominators each, hence kept by
    induction, hence scanned) is visible to the sweep.

    Cost: O(n log n) sort + O(n·(|skyband| + chunk)·p) comparisons —
    monotone in block size; the skyband of a top-k query is O(top_k ·
    polylog n) on non-adversarial data, so big blocks now PRUNE instead
    of falling back to emit-everything.

    Float-tie soundness (ADVICE r03): a strict dominator's norm SUM can
    round equal to the dominated doc's, and a doc_id tiebreak alone
    would then sort the dominator after it (uncounted — conservative
    but no longer the exact skyband). Ties on the sum therefore break
    on the full norm vector, column by column, before doc_id: a strict
    dominator is >= everywhere and > at its first differing column, so
    it still sorts first. (The sum itself is monotone: both rows sum
    the same columns through the same addition tree, and float
    rounding is monotone, so sum(dominator) >= sum(dominated) always —
    equality is the only hazard, and the vector tiebreak closes it.)"""
    n, p = tfs.shape
    N = np.empty((n, p))
    for i in range(p):
        N[:, i] = _norm_np(tfs[:, i], dl, avgdl)
    order = np.lexsort(
        (doc_ids,) + tuple(-N[:, i] for i in range(p - 1, -1, -1))
        + (-N.sum(axis=1),)
    )
    keep = np.zeros(n, dtype=bool)
    kept_N = np.empty((0, p))  # norm rows of kept docs, sweep order
    tri_cache: dict[int, np.ndarray] = {}
    for s in range(0, n, chunk):
        sel = order[s:s + chunk]
        X = N[sel]
        c = sel.size
        cnt = np.zeros(c, dtype=np.int64)
        # (a) dominators among previously kept docs, in slabs to bound
        # the (c, slab, p) broadcast intermediate
        for ks in range(0, kept_N.shape[0], 8192):
            slab = kept_N[ks:ks + 8192]
            cnt += (slab[None, :, :] >= X[:, None, :]).all(axis=2).sum(axis=1)
        # (b) dominators among earlier rows of this chunk
        tri = tri_cache.get(c)
        if tri is None:
            tri = np.tril(np.ones((c, c), dtype=bool), -1)
            tri_cache[c] = tri
        ge_in = (X[None, :, :] >= X[:, None, :]).all(axis=2)  # [i, j]: X_j >= X_i
        cnt += (ge_in & tri).sum(axis=1)
        ok = cnt < top_k
        keep[sel[ok]] = True
        if ok.any():
            kept_N = np.concatenate([kept_N, X[ok]]) if kept_N.size else X[ok]
    return keep


def _phrase_col_candidates(rows: dict, terms: list[int], col: int):
    """Scalar-stream candidate pass for one (phrase, col): docs where
    every member trigram is present, their dl, and either the EXACT tf
    (single-trigram phrase — no positions exist to verify) or the upper
    bound min(member trigram tfs) >= true phrase tf. Returns
    (recs, docs, tf_or_ub, dls, exact) or None."""
    recs = []
    for t in terms:
        r = rows.get((t, col))
        if r is None:
            return None
        recs.append(r)
    if len(recs) == 1:
        r = recs[0]
        return recs, r.docs, r.tfs, r.dls, True
    order = sorted(range(len(recs)), key=lambda i: recs[i].df)
    common = recs[order[0]].docs
    for i in order[1:]:
        common = recs[i].members(common)
        if common.size == 0:
            return None
    ub = None
    dls = None
    for r in recs:
        tfs, d = r.scalars_for(common)
        ub = tfs if ub is None else np.minimum(ub, tfs)
        if dls is None:
            dls = d
    return recs, common, ub, dls, False


def _covered_block_frame(rows, phrase_term_ids, deleted, idf_all, idf_name,
                         top_k, avgdl, cache=None):
    """Block-Max WAND generalized to multi-trigram phrases — sound ONLY
    because the phrase-df side table (operators/phrasedf.py) supplies
    every phrase's exact global df, so idf no longer depends on
    in-block verification (the irreducibility argument in the module
    docstring applies to UNKNOWN dfs only).

    Per doc, phrase tf <= min(member trigram tf) in each column — each
    phrase start position maps injectively to an occurrence of every
    member trigram — and BM25's norm is monotone in tf, so
    sum_i idf_i * norm(ub_tf_i, dl) upper-bounds the doc's exact score
    on each branch. Candidates are position-verified in best-ub-first
    order; once a doc's bound is STRICTLY below the running exact k-th
    rank of every branch it is eligible for, its position streams are
    never decoded. Verified survivors then emit the exact union of
    block-local branch top-ks (<= 2*top_k rows; same lexsort keys as
    _finish_rows, so block decisions agree with the driver's final
    ranking bit-for-bit).

    Returns (doc_ids, dl, tfs_all list, tfs_name list) or None.

    ``cache`` (batch mode) memoizes the QUERY-INDEPENDENT candidate
    pass — per-(phrase, cols) doc sets, upper-bound tfs, dls — under
    a ("cov", terms) key, so batched covered queries sharing a hot
    phrase intersect and bound once per block (the verification loop
    stays per-query: thresholds depend on the query's idf mix)."""
    n_ph = len(phrase_term_ids)
    per_phrase = []  # (docs, ub_all, ub_name, dl, cols) ; cols: col -> pass
    for terms in phrase_term_ids:
        ck = ("cov", tuple(terms))
        got = cache.get(ck) if cache is not None else None
        if got is None:
            per_col = {}
            for col in (0, 1, 2):
                g = _phrase_col_candidates(rows, terms, col)
                if g is not None:
                    per_col[col] = g
            if not per_col:
                got = False  # phrase matches nothing in this block
            else:
                docs_u = np.unique(
                    np.concatenate([g[1] for g in per_col.values()]))
                ub_all = np.zeros(docs_u.size, dtype=np.int64)
                ub_name = np.zeros(docs_u.size, dtype=np.int64)
                dl = np.zeros(docs_u.size, dtype=np.int64)
                for col, (_recs, d, tf, dlv, _exact) in per_col.items():
                    ix = np.searchsorted(docs_u, d)
                    ub_all[ix] += tf
                    dl[ix] = dlv
                    if col == 1:
                        ub_name[ix] += tf
                got = (docs_u, ub_all, ub_name, dl, per_col)
            if cache is not None:
                cache[ck] = got
        if got is False:
            return None  # AND fails in this block
        per_phrase.append(got)

    common = per_phrase[0][0]
    for p in per_phrase[1:]:
        common = common[np.isin(common, p[0], assume_unique=True)]
        if common.size == 0:
            return None
    if deleted is not None and deleted.size:
        common = common[~np.isin(common, deleted, assume_unique=True)]
        if common.size == 0:
            return None

    n = common.size
    ub_all = np.empty((n, n_ph), dtype=np.int64)
    ub_name = np.empty((n, n_ph), dtype=np.int64)
    dl = None
    for i, (docs_u, ua, un, dlv, _per_col) in enumerate(per_phrase):
        ix = np.searchsorted(docs_u, common)
        ub_all[:, i] = ua[ix]
        ub_name[:, i] = un[ix]
        if dl is None:
            dl = dlv[ix]

    def rank_np(tf_mat, dls, idfs):
        return _rank_rows(tf_mat, dls, idfs, avgdl)

    ub_rank_all = rank_np(ub_all, dl, idf_all)
    name_elig = (ub_name > 0).all(axis=1)
    ub_rank_name = np.full(n, np.inf)
    if name_elig.any():
        ub_rank_name[name_elig] = rank_np(
            ub_name[name_elig], dl[name_elig], idf_name)
    best_ub = np.minimum(ub_rank_all, ub_rank_name)

    order = np.lexsort((common, best_ub))
    step = max(4 * top_k, 256)

    v_docs: list[np.ndarray] = []
    v_ta: list[np.ndarray] = []
    v_tn: list[np.ndarray] = []
    v_dl: list[np.ndarray] = []
    kth_all = np.inf
    kth_name = np.inf
    n_all = 0
    n_name = 0
    pos = 0
    while pos < n:
        if n_all >= top_k:
            # sweep order ascends in best_ub = min(branch bounds), so
            # once the NEXT doc's bound is strictly beaten on the all
            # branch, every remaining doc is too; the name branch needs
            # its own check (per-doc bounds, not sweep-ordered): done
            # when no remaining doc is name-eligible, or k named docs
            # are verified and every remaining eligible bound is beaten
            rest = order[pos:]
            if best_ub[rest[0]] > kth_all:
                el = name_elig[rest]
                if not el.any() or (
                    n_name >= top_k
                    and ub_rank_name[rest[el]].min() > kth_name
                ):
                    break
        batch = np.sort(order[pos:pos + step])
        pos += step
        # prune within the batch too (sweep order only bounds the
        # minimum of the two branch bounds): docs already beaten on
        # every branch they are eligible for skip verification
        if n_all >= top_k:
            dead = ub_rank_all[batch] > kth_all
            if n_name >= top_k:
                dead &= (~name_elig[batch]) | (ub_rank_name[batch] > kth_name)
            else:
                dead &= ~name_elig[batch]
            batch = batch[~dead]
        if batch.size == 0:
            continue
        sub = common[batch]
        tf_all = np.zeros((sub.size, n_ph), dtype=np.int64)
        tf_name = np.zeros((sub.size, n_ph), dtype=np.int64)
        for i, (_docs_u, _ua, _un, _dlv, per_col) in enumerate(per_phrase):
            for col, (recs, cand, tf_or_ub, _cd, exact) in per_col.items():
                inter = sub[np.isin(sub, cand, assume_unique=True)]
                if inter.size == 0:
                    continue
                if exact:
                    tfv = tf_or_ub[np.searchsorted(cand, inter)]
                else:
                    tfv, _ = _verify_positions(recs, inter)
                ix = np.searchsorted(sub, inter)
                tf_all[ix, i] += tfv
                if col == 1:
                    tf_name[ix, i] += tfv
        match = (tf_all > 0).all(axis=1)
        if not match.any():
            continue
        sub = sub[match]
        tf_all = tf_all[match]
        tf_name = tf_name[match]
        sdl = dl[batch][match]
        v_docs.append(sub)
        v_ta.append(tf_all)
        v_tn.append(tf_name)
        v_dl.append(sdl)
        # refresh branch thresholds over everything verified so far
        ad = np.concatenate(v_docs)
        ata = np.vstack(v_ta)
        atn = np.vstack(v_tn)
        adl = np.concatenate(v_dl)
        ra = rank_np(ata, adl, idf_all)
        n_all = ad.size
        if n_all >= top_k:
            kth_all = np.partition(ra, top_k - 1)[top_k - 1]
        named = np.flatnonzero((atn > 0).all(axis=1))
        n_name = named.size
        if n_name >= top_k:
            rn = rank_np(atn[named], adl[named], idf_name)
            kth_name = np.partition(rn, top_k - 1)[top_k - 1]

    if not v_docs:
        return None
    docs = np.concatenate(v_docs)
    ta = np.vstack(v_ta)
    tn = np.vstack(v_tn)
    dls = np.concatenate(v_dl)
    o = np.argsort(docs)
    docs, ta, tn, dls = docs[o], ta[o], tn[o], dls[o]

    # exact emission: union of the block-local branch top-ks (the
    # known-idf generalization of the n_ph == 1 prune)
    if docs.size > 2 * top_k:
        keep = np.zeros(docs.size, dtype=bool)
        ra = rank_np(ta, dls, idf_all)
        keep[np.lexsort((docs, ra))[:top_k]] = True
        named = np.flatnonzero((tn > 0).all(axis=1))
        if named.size:
            rn = rank_np(tn[named], dls[named], idf_name)
            keep[named[np.lexsort((docs[named], rn))[:top_k]]] = True
        docs, ta, tn, dls = docs[keep], ta[keep], tn[keep], dls[keep]
    return docs, dls, list(ta), list(tn)


def _single_trigram_wand(r: _Row, top_k: int, avgdl: float):
    """Block-Max WAND over ONE posting row: exact top-k docs by
    norm(tf, dl) using the stored per-chunk (skip_max_tf, skip_min_dl)
    bounds. Chunks are visited in bound-descending order and decoding
    stops once the next bound is strictly below the running k-th norm —
    the position stream is never touched, and cold chunks are never
    decoded. Returns (doc_ids, tfs, dls) sorted by doc_id.

    Exactness: norm is monotone in tf (+) and dl (-), so
    norm(chunk_max_tf, chunk_min_dl) >= norm(tf_d, dl_d) for every doc d
    in the chunk; bounds and norms share one float pipeline (_norm_np ==
    JVM _norm bit-for-bit), and chunks at bound == threshold are still
    decoded so doc_id tie-breaks stay exact."""
    bounds = _norm_np(r.skip_max_tf, r.skip_min_dl, avgdl)
    order = np.argsort(-bounds, kind="stable")
    kd = kt = kl = kn = None
    for c in order:
        if kn is not None and kn.size >= top_k and bounds[c] < kn[-1]:
            break
        docs, tfs, dls = r.chunk_scalars(int(c))
        norms = _norm_np(tfs, dls, avgdl)
        if kd is None:
            kd, kt, kl, kn = docs, tfs, dls, norms
        else:
            kd = np.concatenate([kd, docs])
            kt = np.concatenate([kt, tfs])
            kl = np.concatenate([kl, dls])
            kn = np.concatenate([kn, norms])
        sel = np.lexsort((kd, -kn))[:top_k]
        kd, kt, kl, kn = kd[sel], kt[sel], kl[sel], kn[sel]
    o = np.argsort(kd)
    return kd[o], kt[o], kl[o]


def _query_block_frames(rows, phrase_term_ids, deleted, cache=None,
                        top_k=None, avgdl=None, known_idfs=None):
    """One query's per-block computation over pre-built _Row handles:
    returns (stats_tuples, doc_frame_or_None). Shared by the candidate
    task body (:func:`_candidate_body`) and the phrase-df stats body,
    whichever reader feeds them; ``cache`` memoizes per-(phrase, col)
    results so batched queries sharing phrases decode once.

    ``top_k``/``avgdl`` enable two EXACT pruning layers (see module
    docstring "Top-k pruning"):
    - single-trigram content-only queries take the Block-Max WAND path
      (skip-metadata chunk skipping; memoized under a dedicated cache
      key in batch mode so a multi-phrase query sharing the trigram
      still sees the UNPRUNED per-phrase frames);
    - single-phrase queries emit only their block-local branch top-k,
      multi-phrase queries their Pareto non-dominated set, instead of
      all matching docs (df stats stay full either way).

    ``known_idfs`` = (idf_all, idf_name) from the phrase-df side table
    routes to :func:`_covered_block_frame` instead: multi-trigram WAND
    (bound-ordered lazy position verification) + exact branch-top-k
    emission, stats skipped entirely (dfs are already known globally).
    """
    n_ph = len(phrase_term_ids)
    if known_idfs is not None and top_k and avgdl is not None:
        if not (
            n_ph == 1 and len(phrase_term_ids[0]) == 1 and deleted is None
        ):
            # (single-trigram content-only queries fall through to the
            # chunk-skipping WAND path below — strictly better there)
            frame = _covered_block_frame(
                rows, phrase_term_ids, deleted,
                known_idfs[0], known_idfs[1], top_k, avgdl, cache=cache,
            )
            return [], frame
    if (
        n_ph == 1 and len(phrase_term_ids[0]) == 1
        and deleted is None
        and top_k and avgdl is not None
    ):
        t = phrase_term_ids[0][0]
        if rows.get((t, 0)) is None and rows.get((t, 1)) is None:
            ck = (int(t), "wand", int(top_k))
            got = cache.get(ck) if cache is not None else None
            if got is not None:
                return got
            r = rows.get((t, 2))
            if r is None:
                out = ([], None)
            else:
                docs, tfs, dls = _single_trigram_wand(r, top_k, avgdl)
                tfs_name = np.zeros(docs.size, dtype=np.int64)
                out = (
                    [(0, int(r.df), 0)],
                    (docs, dls, list(tfs.reshape(-1, 1)),
                     list(tfs_name.reshape(-1, 1))),
                )
            if cache is not None:
                cache[ck] = out
            return out
    stats = []
    per_phrase = []
    for pi, terms in enumerate(phrase_term_ids):
        ck = (tuple(terms),)
        got_all = cache.get(ck) if cache is not None else None
        if got_all is None:
            per_col = {}
            for col in (0, 1, 2):
                got = _phrase_block_tfs(rows, terms, col)
                if got is not None:
                    per_col[col] = got
            if not per_col:
                got_all = None
            else:
                all_docs = np.unique(np.concatenate([d for d, _, _ in per_col.values()]))
                tf_all = np.zeros(all_docs.size, dtype=np.int64)
                tf_name = np.zeros(all_docs.size, dtype=np.int64)
                dl = np.zeros(all_docs.size, dtype=np.int64)
                for col, (d, t, dlv) in per_col.items():
                    ix = np.searchsorted(all_docs, d)
                    tf_all[ix] += t
                    dl[ix] = dlv
                    if col == 1:
                        tf_name[ix] += t
                if deleted is not None and deleted.size:
                    live = ~np.isin(all_docs, deleted, assume_unique=True)
                    all_docs, tf_all, tf_name, dl = (
                        all_docs[live], tf_all[live], tf_name[live], dl[live]
                    )
                got_all = (all_docs, tf_all, tf_name, dl) if all_docs.size else None
            if cache is not None:
                cache[ck] = got_all if got_all is not None else False
        elif got_all is False:
            got_all = None
        if got_all is None:
            per_phrase.append(None)
            continue
        all_docs, tf_all, tf_name, _dl = got_all
        stats.append((pi, int(all_docs.size), int((tf_name > 0).sum())))
        per_phrase.append(got_all)

    doc_frame = None
    if n_ph and all(p is not None for p in per_phrase):
        common = per_phrase[0][0]
        for p in per_phrase[1:]:
            common = common[np.isin(common, p[0], assume_unique=True)]
            if common.size == 0:
                break
        if common.size:
            tfs_all = np.empty((common.size, n_ph), dtype=np.int64)
            tfs_name = np.empty((common.size, n_ph), dtype=np.int64)
            dl = None
            for i, (docs, ta, tn, dlv) in enumerate(per_phrase):
                ix = np.searchsorted(docs, common)
                tfs_all[:, i] = ta[ix]
                tfs_name[:, i] = tn[ix]
                if dl is None:
                    dl = dlv[ix]
            if (
                top_k and avgdl is not None
                and common.size > 2 * top_k
            ):
                # EXACT emission pruning. df stats (kind=0 rows) were
                # taken above, BEFORE pruning — idf is exact.
                #
                # n_ph == 1: both final branches rank by a positive
                # constant (the global idf) times norm(tf, dl), so any
                # doc outside its block's branch top-k by norm is beaten
                # by >= top_k docs globally too.
                #
                # n_ph > 1: rank = sum_i idf_i * norm_i with idf_i > 0
                # unknown at task time — no total order exists, but
                # PARETO DOMINANCE does: if norm_i(Y) >= norm_i(X) for
                # every phrase (doc_id breaking full ties), Y outranks X
                # under EVERY weight vector. A doc dominated by >= top_k
                # block-mates cannot reach the global branch top-k.
                keep = np.zeros(common.size, dtype=bool)
                named = np.flatnonzero((tfs_name > 0).all(axis=1))
                if n_ph == 1:
                    na = _norm_np(tfs_all[:, 0], dl, avgdl)
                    keep[np.lexsort((common, -na))[:top_k]] = True
                    if named.size:
                        nn = _norm_np(tfs_name[named, 0], dl[named], avgdl)
                        keep[named[np.lexsort((common[named], -nn))[:top_k]]] = True
                else:
                    keep |= _pareto_survivors(tfs_all, dl, common, avgdl, top_k)
                    if named.size:
                        sub = _pareto_survivors(
                            tfs_name[named], dl[named], common[named], avgdl, top_k
                        )
                        keep[named[sub]] = True
                common, dl = common[keep], dl[keep]
                tfs_all, tfs_name = tfs_all[keep], tfs_name[keep]
            doc_frame = (common, dl, list(tfs_all), list(tfs_name))
    return stats, doc_frame


def _task_emission_prune(doc_frames, n_ph, top_k, avgdl, known_idfs):
    """Cross-BLOCK second application of the per-block exact emission
    prune (r7 — the block-count scaling fix): a task scanning many
    blocks concatenates their doc frames and keeps only docs that
    could still reach the global branch top-k, so candidate rows per
    query become O(tasks * top_k) instead of O(blocks * top_k)
    (measured: 34k -> 12k rows for the 6-query batch at 160 blocks,
    and independent of block count from here up).

    Exactness is the SAME argument as the per-block prune, applied to
    a bigger doc set (the proofs in _query_block_frames /
    _pareto_survivors / _covered_block_frame never use the fact that
    competitors share a block — only that they flow to the driver):
    - known idfs: exact branch ranks; union of branch top-ks.
    - single phrase: both final branches order by (positive idf) x
      norm(tf, dl), so a doc outside the task's branch top-k by norm
      is beaten by >= top_k retained task-mates under every idf.
    - multi phrase: Pareto k-skyband over the task's docs.
    df stats (kind=0 rows) are summed per task from every block's
    UNPRUNED counts, before this prune — idf stays exact. Ties break
    on doc_id through the same lexsort keys as _finish_rows, so
    retained sets agree with the driver's final ranking bit-for-bit.

    ``doc_frames``: [(docs, dl, [tf rows], [tf rows])] per block;
    returns the concatenated-and-pruned (docs, dl, ta, tn) with
    ta/tn as (n, n_ph) matrices."""
    common = np.concatenate([f[0] for f in doc_frames])
    dl = np.concatenate([f[1] for f in doc_frames])
    ta = np.vstack([np.vstack(f[2]) for f in doc_frames])
    tn = np.vstack([np.vstack(f[3]) for f in doc_frames])
    if common.size <= 2 * top_k:
        return common, dl, ta, tn
    keep = np.zeros(common.size, dtype=bool)
    named = np.flatnonzero((tn > 0).all(axis=1))
    if known_idfs is not None:
        idf_all, idf_name = known_idfs
        ra = _rank_rows(ta, dl, idf_all, avgdl)
        keep[np.lexsort((common, ra))[:top_k]] = True
        if named.size:
            rn = _rank_rows(tn[named], dl[named], idf_name, avgdl)
            keep[named[np.lexsort((common[named], rn))[:top_k]]] = True
    elif n_ph == 1:
        na = _norm_np(ta[:, 0], dl, avgdl)
        keep[np.lexsort((common, -na))[:top_k]] = True
        if named.size:
            nn = _norm_np(tn[named, 0], dl[named], avgdl)
            keep[named[np.lexsort((common[named], -nn))[:top_k]]] = True
    else:
        keep |= _pareto_survivors(ta, dl, common, avgdl, top_k)
        if named.size:
            sub = _pareto_survivors(
                tn[named], dl[named], common[named], avgdl, top_k)
            keep[named[sub]] = True
    return common[keep], dl[keep], ta[keep], tn[keep]


def _doc_frame_pdf(docs, dl, ta, tn, qid) -> pd.DataFrame:
    return pd.DataFrame(
        {"qid": qid, "kind": 1, "phrase": -1, "df_all": 0, "df_name": 0,
         "doc_id": docs, "dl": dl, "tfs_all": list(ta), "tfs_name": list(tn)})


def _pa_read_table(path: str, fs_cache: dict, **kw):
    """pyarrow read_table that understands URIs: scheme-less local
    paths open directly (zero FS-object overhead); scheme'd paths
    (file://, hdfs://, s3://, ...) resolve through pyarrow.fs, with the
    filesystem object cached per (scheme, authority) for the task's
    lifetime — the remote-store fast path (VERDICT r02 #2). Row-group
    pruning via ``filters`` works identically on both branches."""
    import pyarrow.parquet as pq

    from codebased_spark.plans.fsio import _scheme, canonical_uri, pyarrow_fs_path

    if _scheme(path) == "":
        return pq.read_table(path, **kw)
    from urllib.parse import urlsplit

    canon = canonical_uri(path)
    u = urlsplit(canon)
    key = (u.scheme, u.netloc)
    hit = fs_cache.get(key)
    if hit is None:
        fs, real = pyarrow_fs_path(canon)
        fs_cache[key] = (fs, len(canon) - len(real))
    else:
        fs, cut = hit
        real = canon[cut:]
    return pq.read_table(real, filesystem=fs, **kw)


def _rows_from_table(tbl) -> dict:
    """{(term, col) -> _Row} straight from the term-filtered arrow
    table — no pandas round-trip. ``to_pandas`` + ``iterrows`` + the
    per-field Series lookups inside _Row cost ~17x the plain
    numpy-object-array walk on the small slivers a query touches
    (measured ~2.1 ms vs ~0.12 ms per block); at dozens-to-hundreds of
    blocks per task that overhead rivaled the decode work itself."""
    names = tbl.column_names
    cols = [tbl[c].to_numpy(zero_copy_only=False) for c in names]
    ti = names.index("term")
    ci = names.index("col")
    terms, colv = cols[ti], cols[ci]
    out = {}
    for i in range(tbl.num_rows):
        rec = {n: c[i] for n, c in zip(names, cols)}
        out[(int(terms[i]), int(colv[i]))] = _Row(rec)
    return out


_PF_META_LOCK = threading.Lock()
_PF_META_CACHE: dict = {}


def _posting_file_meta(path: str, fs_cache: dict):
    """(ParquetFile-metadata, term-column-index) for a LOCAL posting
    shard, cached process-wide keyed by (path, size, mtime_ns) — shards
    are immutable once written, and the stat key makes the cache safe
    across compaction's in-place dir swap (same path, new bytes). The
    footer parse (~1-2 ms/file) otherwise re-runs on every query, on
    the driver (direct path) and in each long-lived executor python
    worker alike."""
    import os as _os

    import pyarrow.parquet as pq

    st = _os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    with _PF_META_LOCK:
        hit = _PF_META_CACHE.get(key)
    if hit is not None:
        return hit
    md = pq.ParquetFile(path).metadata
    ci = None
    if md.num_row_groups:  # zero-row-group shards prune everything
        rg0 = md.row_group(0)
        for i in range(md.num_columns):
            if rg0.column(i).path_in_schema == "term":
                ci = i
                break
    out = (md, ci)
    with _PF_META_LOCK:
        if len(_PF_META_CACHE) > 65536:  # unbounded-growth backstop
            _PF_META_CACHE.clear()
        _PF_META_CACHE[key] = out
    return out


def _read_postings_term_filtered(path: str, fs_cache: dict, needed):
    """Term-filtered posting-shard read, the hot-path replacement for
    ``pq.read_table(filters=...)``: the dataset-API filtered read costs
    ~10-30 ms of fragment/scanner setup PER FILE even when row-group
    stats prune everything; doing the pruning by hand against the
    cached footer (rows are term-sorted, so [min,max] overlap via
    bisect) plus one ``is_in`` kernel on the surviving groups is
    5-13x cheaper (measured) and returns the identical table. Remote
    URIs keep the generic dataset path (footer round-trips dominate
    there anyway)."""
    from bisect import bisect_left

    import pyarrow as pa
    import pyarrow.parquet as pq

    from codebased_spark.plans.fsio import _scheme

    needed = sorted(int(t) for t in needed)
    if _scheme(path) != "":
        return _pa_read_table(
            path, fs_cache, filters=[("term", "in", needed)],
            columns=_POSTING_READ_COLUMNS,
        )
    md, ci = _posting_file_meta(path, fs_cache)
    rgs = []
    for rg in range(md.num_row_groups):
        if ci is None:
            rgs.append(rg)
            continue
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            rgs.append(rg)
            continue
        i = bisect_left(needed, int(st.min))
        if i < len(needed) and needed[i] <= int(st.max):
            rgs.append(rg)
    if not rgs:
        # schema-identical empty table (ADVICE r06): build it from the
        # file's real schema so a future caller touching columns on
        # the all-pruned result sees the same types the non-empty
        # path returns
        pf = pq.ParquetFile(path, metadata=md)
        return pf.schema_arrow.empty_table().select(_POSTING_READ_COLUMNS)
    pf = pq.ParquetFile(path, metadata=md)  # skip the re-parse
    tbl = pf.read_row_groups(rgs, columns=_POSTING_READ_COLUMNS)
    import pyarrow.compute as pc

    mask = pc.is_in(tbl["term"], value_set=pa.array(needed, pa.int64()))
    return tbl.filter(mask)


def _load_block_tombstones(deletes_dir, pblock: int, cache: dict, fs_cache: dict):
    """Task-side read of one pblock's tombstones (deletes/pblock=N/...).
    O(|block tombstones|) per task; nothing driver-side. Works on local
    paths and pyarrow-reachable URIs alike (missing block dirs are the
    common case — no tombstones for that block)."""
    if deletes_dir is None:
        return None
    key = int(pblock)
    if key in cache:
        return cache[key]
    from codebased_spark.plans.fsio import _scheme

    d = f"{deletes_dir.rstrip('/')}/pblock={key}"
    out = None
    arr = None
    if _scheme(deletes_dir) == "":
        import os

        if os.path.isdir(d):
            arr = _pa_read_table(d, fs_cache, columns=["doc_id"])["doc_id"].to_numpy()
    else:
        try:
            arr = _pa_read_table(d, fs_cache, columns=["doc_id"])["doc_id"].to_numpy()
        except FileNotFoundError:
            arr = None
    if arr is not None and arr.size:
        out = np.unique(arr.astype("int64"))
    cache[key] = out
    return out


BATCH_SCHEMA = (
    "qid int, kind int, phrase int, df_all long, df_name long, "
    "doc_id long, dl long, tfs_all array<long>, tfs_name array<long>"
)
_BATCH_COLS = ["qid", "kind", "phrase", "df_all", "df_name", "doc_id", "dl",
               "tfs_all", "tfs_name"]


def _candidate_body(queries_terms, top_k=None, avgdl=None,
                    known_idfs_by_qid=None):
    """The candidate task body for a batch of queries (a single search
    is a batch of one): a generator function over (pblock, rows,
    deleted) blocks — ``rows`` the block's {(term, col) -> _Row},
    ``deleted`` its sorted tombstone doc ids or None — as either reader
    produces them (:func:`_shard_reader`, :func:`_generic_scan`),
    yielding BATCH_SCHEMA frames. One set of _Row handles per block
    serves every query, and a per-(phrase) memo means queries sharing
    phrases decode and intersect once. Queries present in
    ``known_idfs_by_qid`` (phrase-df side table coverage) take the
    covered WAND path and emit no stat rows. The output is one summed
    df-stat row per (query, phrase) plus each query's doc rows after
    :func:`_task_emission_prune` — O(top_k) rows per query per task,
    the unit :func:`_tail_bound` charges."""
    known_idfs_by_qid = known_idfs_by_qid or {}
    n_ph_by_qid = {qid: len(tids) for qid, tids in queries_terms}

    def body(blocks):
        stat_sums: dict = {}  # (qid, phrase) -> [df_all, df_name]
        frames_by_qid: dict[int, list] = {}
        for _pblock, rows, deleted in blocks:
            cache: dict = {}
            for qid, term_ids in queries_terms:
                covered = known_idfs_by_qid.get(qid)
                stats, doc_frame = _query_block_frames(
                    rows, term_ids, deleted, cache=cache,
                    top_k=top_k, avgdl=avgdl, known_idfs=covered,
                )
                if stats and covered is None:
                    for pi, da, dn in stats:
                        e = stat_sums.setdefault((qid, pi), [0, 0])
                        e[0] += da
                        e[1] += dn
                if doc_frame is not None:
                    frames_by_qid.setdefault(qid, []).append(doc_frame)
        if stat_sums:
            # df stats are additive across blocks and every consumer
            # SUMS them (driver finish and JVM plan alike), so one
            # partial-sum row per (query, phrase) per task replaces one
            # row per block
            yield pd.DataFrame(
                [(qid, 0, pi, da, dn, 0, 0, None, None)
                 for (qid, pi), (da, dn) in sorted(stat_sums.items())],
                columns=_BATCH_COLS)
        # one cross-block prune per query at task end (see
        # _task_emission_prune — doc rows per query become
        # O(tasks * top_k), independent of block count)
        for qid, frames in frames_by_qid.items():
            if top_k and avgdl is not None:
                docs, dl, ta, tn = _task_emission_prune(
                    frames, n_ph_by_qid[qid], top_k, avgdl,
                    known_idfs_by_qid.get(qid))
            else:
                docs = np.concatenate([f[0] for f in frames])
                dl = np.concatenate([f[1] for f in frames])
                ta = np.vstack([np.vstack(f[2]) for f in frames])
                tn = np.vstack([np.vstack(f[3]) for f in frames])
            yield _doc_frame_pdf(docs, dl, ta, tn, qid=qid)

    return body


def _shard_reader(needed, deletes_dir, body):
    """The pyarrow reader: wraps a block body (:func:`_candidate_body`
    or the phrase-df stats body) into the function Spark's mapInPandas
    (:func:`_scan_df`) or :func:`_direct_scan_rows` runs over
    (pblock, path) row batches. Each shard is read through pyarrow with
    a term filter and column selection — Spark's parquet reader would
    decode whole row groups of the blob columns first, ~5-10x the work
    — and its tombstones are read task-side; shards holding none of
    the ``needed`` terms are skipped."""

    def blocks(it):
        tomb_cache: dict = {}
        fs_cache: dict = {}
        for pdf in it:
            for pblock, path in zip(pdf["pblock"], pdf["path"]):
                tbl = _read_postings_term_filtered(path, fs_cache, needed)
                if tbl.num_rows == 0:
                    continue
                deleted = _load_block_tombstones(
                    deletes_dir, pblock, tomb_cache, fs_cache
                )
                yield pblock, _rows_from_table(tbl), deleted

    return lambda it: body(blocks(it))


def _batch_candidates_fn(queries_terms, needed, deletes_dir=None,
                         top_k=None, avgdl=None, known_idfs_by_qid=None):
    """The candidate task body behind the pyarrow reader: the function
    mapInPandas or :func:`_direct_scan_rows` runs over (pblock, path)
    row batches for a batch of queries."""
    return _shard_reader(needed, deletes_dir, _candidate_body(
        queries_terms, top_k, avgdl, known_idfs_by_qid))


def _generic_scan(postings: DataFrame, deletes, needed, body, schema: str):
    """The Spark reader, for stores pyarrow cannot reach: ``postings``
    (the posting DataFrame) filtered to the ``needed`` terms — the
    filter is pushed into the parquet scan — and grouped by pblock,
    each group one (pblock, rows, deleted) block for ``body`` through
    applyInPandas. ``deletes`` (a doc_id DataFrame, or None) is
    cogrouped per pblock, so tombstones arrive as shuffled rows, never
    through the driver or a closure. A group returns everything
    ``body`` yields for its block, as ``schema`` rows."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from codebased_spark.operators.docs import DOC_ID_BLOCK_BITS

    names = StructType.fromDDL(schema).names

    def per_group(left, right):
        frames = []
        if len(left):
            deleted = None
            if right is not None and len(right):
                deleted = np.unique(right["doc_id"].to_numpy().astype("int64"))
            rows = _rows_from_table(pa.Table.from_pandas(
                left[_POSTING_READ_COLUMNS], preserve_index=False))
            frames = list(body([(int(left["pblock"].iloc[0]), rows, deleted)]))
        if not frames:
            return pd.DataFrame(columns=names)
        return pd.concat(frames, ignore_index=True)

    grouped = postings.filter(F.col("term").isin(needed)) \
        .select("pblock", *_POSTING_READ_COLUMNS).groupBy("pblock")
    if deletes is None:
        return grouped.applyInPandas(lambda pdf: per_group(pdf, None), schema)
    dd = deletes.select(
        F.shiftright("doc_id", DOC_ID_BLOCK_BITS).cast("int").alias("pblock"),
        "doc_id",
    )
    return grouped.cogroup(dd.groupBy("pblock")).applyInPandas(per_group, schema)


def _scan_tasks(spark, n_files: int) -> int:
    """Task count of a Spark shard scan over ``n_files`` shards: the
    slicing :func:`_scan_df` uses and the task count :func:`_tail_bound`
    charges on the Spark feeder (one definition, so they cannot drift)."""
    return min(n_files, max(2, spark.sparkContext.defaultParallelism))


def _scan_df(spark, posting_files, fn, schema):
    """``mapInPandas(fn)`` over (pblock, path) rows with a JVM-NATIVE
    range source: the shard list rides in the function closure and is
    resolved inside the SAME python eval that scans, so the query's
    one Spark job pays exactly one python round trip per task (a
    python-RDD source pays two — deserialize + scan, ~0.27 s per job).
    The range splits into :func:`_scan_tasks` contiguous slices;
    per-block outputs are independent rows, so results do not depend
    on the slicing."""
    files = list(posting_files)

    def outer(it):
        def chunks():
            for pdf in it:
                ids = pdf["id"].to_numpy()
                yield pd.DataFrame(
                    {"pblock": [files[int(i)][0] for i in ids],
                     "path": [files[int(i)][1] for i in ids]})
        yield from fn(chunks())

    n_part = _scan_tasks(spark, len(files))
    return spark.range(0, len(files), 1, n_part).mapInPandas(outer, schema)


def search_index_files_batch(
    spark,
    posting_files: list[tuple[int, str]],
    queries: list[str],
    n_docs: int,
    avgdl: float,
    top_k: int = DEFAULT_TOP_K,
    deletes_dir=None,
    phrase_dfs_by_query: "dict[int, list[tuple[int, int]]] | None" = None,
    presence=None,
    direct: bool = False,
) -> DataFrame:
    """Two-branch FTS search of a batch of queries over the posting
    shards: the engine's query path (FtsIndex.search runs a batch of
    one). Returns (qid, doc_id, name_match, rank, score); queries
    yielding no results (no phrase of 3+ chars, failed AND, pruned to
    zero shards) simply have no rows.

    One parse/prune, one task body (:func:`_batch_candidates_fn`) and
    one scoring tail (:func:`_finish`) serve every caller. The only
    fork is the scan feeder:
    - ``direct=False``: Spark (:func:`_scan_df`) — ONE Spark job for
      the whole batch when the tail finishes on the driver;
    - ``direct=True``: the same task body run driver-side
      (:func:`_direct_scan_rows`) — ZERO Spark jobs, the latency floor
      for small (embedded-regime) stores; FtsIndex picks it by the
      DRIVER_DIRECT_MAX_BYTES / _MAX_SHARDS gate. Its rows are in driver
      memory already, so they always finish there; a batch whose
      candidate bound exceeds DRIVER_FINISH_MAX takes the Spark feeder
      instead, where the JVM tail can run.

    ``phrase_dfs_by_query`` ({qid: one (df_all, df_name) per kept
    phrase}, from the phrase-df side table) enables the covered fast
    path for those queries: idfs are computed driver-side, blocks run
    multi-trigram WAND with exact branch-top-k emission, and no df-stat
    rows flow. ``presence`` (a presence.TermBlocks) prunes
    provably-irrelevant shards before any read. Results are
    bit-identical in every combination (pinned by tests)."""
    phrase_dfs_by_query = phrase_dfs_by_query or {}
    parsed, known_idfs_by_qid = _parse_batch(
        queries, n_docs, phrase_dfs_by_query)
    if parsed and posting_files:
        posting_files, parsed, known_idfs_by_qid, needed = _prune_batch(
            posting_files, parsed, known_idfs_by_qid, presence)
    if not parsed or not posting_files:
        return _batch_result_df(spark, [])
    # a covered query emits no stat rows and at most the exact union of
    # its two branch top-ks per task: charged like a single phrase
    phrase_counts = [1 if qi in known_idfs_by_qid else len(phrases)
                     for qi, phrases, _ in parsed]

    def task_fn():
        return _batch_candidates_fn(
            [(qi, tids) for qi, _, tids in parsed], needed, deletes_dir,
            top_k, avgdl, known_idfs_by_qid)

    if direct:
        chunks = _direct_chunks(posting_files)
        bound, _exact = _tail_bound(len(chunks), phrase_counts, top_k)
        if bound <= DRIVER_FINISH_MAX:
            return _driver_tail(spark, _direct_scan_rows(task_fn, chunks),
                                parsed, phrase_dfs_by_query, n_docs, avgdl,
                                top_k)
    bound, exact = _tail_bound(
        _scan_tasks(spark, len(posting_files)), phrase_counts, top_k)
    cand = _scan_df(spark, posting_files, task_fn(), BATCH_SCHEMA)
    return _finish(spark, cand, parsed, phrase_dfs_by_query,
                   known_idfs_by_qid, n_docs, avgdl, top_k, bound, exact)


_POSTING_READ_COLUMNS = [
    "term", "col", "df", "doc_bytes", "tf_bytes", "pos_bytes", "dl_bytes",
    "skip_last", "skip_max_tf", "skip_min_dl",
    "skip_doc_off", "skip_tf_off", "skip_pos_off", "skip_dl_off",
]


def _norm(tf_col, dl_col, avgdl):
    tf = tf_col.cast("double")
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl_col.cast("double") / F.lit(avgdl)))


def search_index_batch(
    postings: DataFrame,
    queries: list[str],
    n_docs: int,
    avgdl: float,
    top_k: int = DEFAULT_TOP_K,
    deletes: "DataFrame | None" = None,
    phrase_dfs_by_query: "dict[int, list[tuple[int, int]]] | None" = None,
) -> DataFrame:
    """Two-branch FTS search of a batch of queries through the Spark
    reader (:func:`_generic_scan`): the route for stores pyarrow cannot
    reach (FtsIndex.posting_files == []), working against any
    Spark-readable posting DataFrame. ``deletes`` (a doc_id DataFrame)
    carries the tombstones; ``phrase_dfs_by_query`` is
    :func:`search_index_files_batch`'s. The parse, the task body and
    the tail are the shard scan's; there is no shard list to prune and
    no candidate bound, so the tail takes a limit-guarded collect.
    Returns (qid, doc_id, name_match, rank, score)."""
    spark = postings.sparkSession
    phrase_dfs_by_query = phrase_dfs_by_query or {}
    parsed, known_idfs_by_qid = _parse_batch(
        queries, n_docs, phrase_dfs_by_query)
    if not parsed:
        return _batch_result_df(spark, [])
    body = _candidate_body([(qi, tids) for qi, _, tids in parsed], top_k,
                           avgdl, known_idfs_by_qid)
    cand = _generic_scan(postings, deletes, _needed(parsed), body,
                         BATCH_SCHEMA)
    return _finish(spark, cand, parsed, phrase_dfs_by_query,
                   known_idfs_by_qid, n_docs, avgdl, top_k)


def search_index(
    postings: DataFrame,
    query: str,
    n_docs: int,
    avgdl: float,
    top_k: int = DEFAULT_TOP_K,
    deletes: "DataFrame | None" = None,
) -> DataFrame:
    """:func:`search_index_batch` for a batch of one: (doc_id,
    name_match, rank, score) best-first."""
    return search_index_batch(postings, [query], n_docs, avgdl, top_k,
                              deletes).drop("qid")


# Above this many candidate rows the scoring tail runs as a JVM plan
# (extra Spark jobs) instead of finishing on the driver. Emission
# pruning bounds the common case far below it: per task, single-phrase
# queries emit at most 2*top_k docs, multi-phrase ones their k-skyband.
DRIVER_FINISH_MAX = 200_000


def _batch_result_df(spark, out_rows) -> DataFrame:
    """(qid, doc_id, name_match, rank, score) DataFrame from driver-side
    (qid, doc_id, name_match, rank) tuples, score = -rank, via an Arrow
    local relation: a tuple-list relation costs ~280 ms PER COLLECT in
    per-row JVM object conversion and an EMPTY pandas frame falls off
    the Arrow fast path too (~330 ms); a pyarrow Table keeps every case
    at ~15-30 ms — and every driver-finished query pays this on
    materialization, so it is the single-query latency floor after the
    scan itself."""
    import pyarrow as pa

    n = len(out_rows)
    rank = np.fromiter((r[3] for r in out_rows), np.float64, count=n)
    tbl = pa.Table.from_arrays(
        [
            pa.array(np.fromiter((r[0] for r in out_rows), np.int32,
                                 count=n), type=pa.int32()),
            pa.array(np.fromiter((r[1] for r in out_rows), np.int64,
                                 count=n), type=pa.int64()),
            pa.array(np.fromiter((r[2] for r in out_rows), bool, count=n),
                     type=pa.bool_()),
            pa.array(rank, type=pa.float64()),
            pa.array(-rank, type=pa.float64()),
        ],
        schema=pa.schema([
            ("qid", pa.int32()), ("doc_id", pa.int64()),
            ("name_match", pa.bool_()), ("rank", pa.float64()),
            ("score", pa.float64()),
        ]),
    )
    return spark.createDataFrame(tbl)


# Read-through ceiling for the ZERO-JOB direct feeder: an index whose
# entire posting store is at most this many bytes is "small" — the
# embedded-engine regime the reference lives in (ONE repository,
# "searches in milliseconds", single process). Measured on this class
# of hardware (healthy windows): direct wins ~2-4x at a 1.4 MB store
# (58-158 ms vs 250-331 ms) but already LOSES by a 14 MB store (p50
# 0.94 s vs 0.66 s — the GIL-bound block machinery can't overlap once
# term-filtered reads grow), so the gate sits at the conservative end
# of the crossover; above it every query keeps the distributed plan.
DRIVER_DIRECT_MAX_BYTES = 4 * 1024 * 1024
# ...and at most this many shards: the serial driver scan costs
# ~per-block-work x n_blocks, so a small-BYTES store fragmented into
# many blocks loses to the distributed job floor anyway (measured r6:
# 32-shard 2 MB store — direct ~0.5 s vs distributed ~0.4 s; 4-shard
# repo store — direct 0.06-0.16 s vs ~0.4 s). Setting
# FtsIndex.driver_direct pins either route regardless of both gates.
DRIVER_DIRECT_MAX_SHARDS = 8
# pyarrow's C++ reader releases the GIL, so a few reader threads
# overlap I/O+decode without fighting the numpy block machinery
DRIVER_DIRECT_THREADS = 8


_DIRECT_POOL = None
_DIRECT_POOL_LOCK = threading.Lock()


def _direct_pool():
    """Shared lazily-created reader pool for the direct feeder:
    spawning a fresh ThreadPoolExecutor costs ~60-70 ms per query in
    thread startup alone — more than the entire scan on a small index.
    The pool is process-global and daemon-threaded; concurrent queries
    submit to it safely."""
    global _DIRECT_POOL
    with _DIRECT_POOL_LOCK:
        if _DIRECT_POOL is None:
            from concurrent.futures import ThreadPoolExecutor

            _DIRECT_POOL = ThreadPoolExecutor(
                max_workers=DRIVER_DIRECT_THREADS,
                thread_name_prefix="fts-direct")
        return _DIRECT_POOL


def _direct_chunks(posting_files) -> list[pd.DataFrame]:
    """The direct feeder's "tasks": (pblock, path) frames, each scanned
    by its own task-body instance. LOCAL stores scan serially in ONE
    chunk: with the row-group-pruned reader the scan body is GIL-bound
    Python/numpy, and thread fan-out only thrashes (measured r6 on a
    32-shard store: 8 threads 1.0 s vs serial 0.25 s). Remote URIs
    split over up to DRIVER_DIRECT_THREADS chunks for the reader pool:
    footer/data round-trips release the GIL and genuinely overlap."""
    from codebased_spark.plans.fsio import _scheme

    local = not posting_files or _scheme(posting_files[0][1]) == ""
    n = 1 if local else (min(DRIVER_DIRECT_THREADS, len(posting_files)) or 1)
    return [pd.DataFrame(posting_files[i::n], columns=["pblock", "path"])
            for i in range(n)]


def _direct_scan_rows(make_fn, chunks):
    """The candidate-scan task body executed DRIVER-SIDE: ``make_fn()``
    returns the same generator function Spark's mapInPandas runs
    (identical reads, block machinery and emission pruning), one fresh
    instance — with its own fs/tombstone caches — per chunk of
    :func:`_direct_chunks`. More than a few chunks go through the
    shared reader pool; rows gather in chunk order, so the result is
    deterministic."""
    fn = lambda chunk: list(make_fn()([chunk]))  # noqa: E731
    if len(chunks) <= 4:
        outs = [fn(c) for c in chunks]
    else:
        outs = list(_direct_pool().map(fn, chunks))
    rows: list = []
    for out in outs:
        for pdf in out:
            rows.extend(pdf.to_dict("records"))
    return rows


def _parse_single(query, n_docs, phrase_dfs):
    """One query's preamble: (phrases, term_ids, known_idfs), or None
    when the query can match nothing (no phrase of 3+ chars / empty
    corpus / covered phrase with df 0 — the AND fails with no reads at
    all). Sub-trigram phrases drop out of the conjunction, as in FTS5
    (functions/fts5.match_phrases); ``phrase_dfs`` aligns with the
    phrases kept."""
    phrases = match_phrases(query)
    if not phrases or n_docs == 0:
        return None
    term_ids = [phrase_terms(p) for p in phrases]
    known_idfs = None
    if phrase_dfs is not None:
        if len(phrase_dfs) != len(phrases):
            raise ValueError("phrase_dfs must align with the parsed phrases")
        if any(da == 0 for da, _dn in phrase_dfs):
            return None
        known_idfs = (
            [idf_fn(n_docs, da) for da, _ in phrase_dfs],
            [idf_fn(n_docs, dn) if dn else 0.0 for _, dn in phrase_dfs],
        )
    return phrases, term_ids, known_idfs


def _parse_batch(queries, n_docs, phrase_dfs_by_query):
    """(parsed [(qi, phrases, term_ids)], known_idfs_by_qid) over a
    batch; queries that can match nothing are left out."""
    parsed = []
    known_idfs_by_qid = {}
    for qi, q in enumerate(queries):
        got = _parse_single(q, n_docs, phrase_dfs_by_query.get(qi))
        if got is None:
            continue
        phrases, term_ids, known = got
        parsed.append((qi, phrases, term_ids))
        if known is not None:
            known_idfs_by_qid[qi] = known
    return parsed, known_idfs_by_qid


def _needed(parsed) -> list[int]:
    """Sorted union of the parsed queries' trigram ids: the terms the
    shared scan reads."""
    return sorted({int(t) for _, _, tids in parsed for ts in tids for t in ts})


def _prune_posting_files(posting_files, term_ids, known_idfs, presence):
    """Shard-list pruning via the term->block presence manifest
    (operators/presence.py — see its module docstring for the
    exactness argument). Returns the (pblock, path) rows worth
    scanning; [] means the result is provably empty with zero reads.

    - uncovered query (dfs unknown): keep the UNION over phrases of
      each phrase's trigram-intersection block set — a dropped block
      emits neither stats nor docs for any phrase. If some phrase's
      set is empty and every shard is covered, that phrase's df is 0
      everywhere -> the conjunctive query fails outright.
    - covered query (known_idfs set): no stat rows flow and docs need
      every phrase, so the full INTERSECTION suffices.
    - shards outside ``presence.covered`` (committed after the last
      manifest extension) are always kept.
    Any lookup failure degrades to scanning everything — never wrong.
    """
    if presence is None or not posting_files:
        return posting_files
    if not term_ids or any(not ts for ts in term_ids):
        # a trigram-less phrase (< 3 chars) carries no presence
        # information — it could match in any block, so pruning has
        # nothing to stand on. Engine paths never get here
        # (_parse_single drops such phrases) but direct callers
        # (bench tooling) feed raw phrase_terms() output.
        return posting_files
    covered = presence.covered
    has_uncovered = any(pb not in covered for pb, _ in posting_files)
    try:
        bmap = presence.blocks_for(
            sorted({int(t) for ts in term_ids for t in ts}))
    except Exception:
        return posting_files
    per_phrase = []
    for ts in term_ids:
        s = bmap[int(ts[0])]
        for t in ts[1:]:
            if not s:
                break
            s = s & bmap[int(t)]
        if not s and not has_uncovered:
            return []
        per_phrase.append(s)
    if known_idfs is not None:
        allowed = set(per_phrase[0])
        for s in per_phrase[1:]:
            allowed &= s
    else:
        allowed = set().union(*per_phrase) if per_phrase else set()
    return [(pb, p) for pb, p in posting_files
            if pb not in covered or pb in allowed]


def _prune_batch(posting_files, parsed, known_idfs_by_qid, presence):
    """Batch form of _prune_posting_files: each query keeps its own
    pruned set; the shared scan runs over the union (a block scanned
    for query B emits nothing for query A whose set excluded it —
    same argument as single-query pruning). Queries whose own set is
    empty are dropped (they provably yield no rows). Returns
    (files, parsed, known_idfs_by_qid, needed) where ``needed`` is the
    surviving queries' sorted term-id union — dropped queries' terms
    need not be read in the shared scan."""
    if presence is None or not posting_files:
        return posting_files, parsed, known_idfs_by_qid, _needed(parsed)
    keep_paths: dict = {}
    parsed2 = []
    known2 = {}
    for qi, phrases, tids in parsed:
        files_q = _prune_posting_files(
            posting_files, tids, known_idfs_by_qid.get(qi), presence)
        if not files_q:
            continue
        parsed2.append((qi, phrases, tids))
        if qi in known_idfs_by_qid:
            known2[qi] = known_idfs_by_qid[qi]
        for pb, p in files_q:
            keep_paths[(pb, p)] = None
    files = [fp for fp in posting_files if fp in keep_paths]
    return files, parsed2, known2, _needed(parsed2)


# Guards the session-conf set/restore in _collect_bounded: two
# concurrent query tails on one SparkSession must not interleave the
# override (ADVICE r03 — one could run its limit probe under the
# other's restored value, or restore the wrong previous value).
_LIMIT_CONF_LOCK = threading.Lock()


def _tail_bound(n_tasks, phrase_counts, top_k):
    """(upper_bound_on_candidate_rows, is_exact) for the scoring tail,
    computable driver-side for free BEFORE launching any job (VERDICT
    r03 #2 — the driver-finish decision must not cost a doomed
    200k-row probe collect at scale).

    Emission pruning runs per TASK (_batch_candidates_fn /
    _task_emission_prune), so rows are charged per task: ``n_tasks`` is
    _scan_tasks() on the Spark feeder and the chunk count on the direct
    one. Per task per query:
    - kind=0 (df stats): one summed row per phrase -> <= n_ph rows.
    - kind=1 (surviving docs), n_ph == 1: the task keeps the union of
      the two branch top-ks -> <= 2*top_k rows, UNCONDITIONALLY.
    - kind=1, n_ph > 1: the exact k-skyband is data-dependent (a task
      of mutually non-dominating docs emits everything), so no static
      bound exists. The same shape charged at 4*top_k serves as a
      ROUTING HEURISTIC only — when even that optimistic estimate
      exceeds the cap, the tail goes straight to the JVM plan; below
      it, the collect stays limit-guarded because the true skyband may
      still blow past it.

    exact=True (all queries single-phrase) means the bound is a real
    guarantee: if it is <= the cap, a plain collect cannot exceed the
    cap and needs no limit probe at all."""
    exact = all(p == 1 for p in phrase_counts)
    per_task = sum(
        (2 * top_k if p == 1 else 4 * top_k) + p for p in phrase_counts
    )
    return n_tasks * per_task, exact


def _collect_bounded(df, max_rows: int):
    """limit(max_rows+1).collect() in ONE Spark job. The default
    incremental-limit execution (1 partition, then scaleUpFactor more,
    a separate JOB per round) would cost the query tail 2-3 extra
    scheduling rounds — but raising
    spark.sql.limit.initialNumPartitions SESSION-wide would turn every
    ad-hoc df.limit(1) existence probe into a full scan, so the
    override is scoped to exactly this collect (set/restore), under
    _LIMIT_CONF_LOCK so concurrent query tails on one session
    serialize the conf window instead of racing it."""
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    with _LIMIT_CONF_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, "100000")
        try:
            return df.limit(max_rows + 1).collect()
        finally:
            spark.conf.set(key, prev)


def _finish(spark, cand, parsed, phrase_dfs_by_query, known_idfs_by_qid,
            n_docs, avgdl, top_k, bound=None, exact=False):
    """The scoring tail over a BATCH_SCHEMA candidate DataFrame: exact
    phrase df -> idf -> BM25 -> two-branch top-k -> union/dedupe/top-k
    per query (reference CTE codebased/search.py:240-302).

    Routing on the candidate ``bound`` (:func:`_tail_bound`):
    - exact bound at or under DRIVER_FINISH_MAX -> one plain collect
      and the numpy finish (:func:`_driver_tail`): ONE Spark job in all;
    - bound over the cap -> straight to the JVM plan
      (:func:`_jvm_tail`), no probe collect (collecting 200k rows only
      to discard them would be a per-query scale tax);
    - otherwise (heuristic multi-phrase bound, or no bound behind the
      Spark reader) a limit-guarded collect; a candidate set past the
      cap falls back to the JVM plan against the SAME persisted
      candidates — one extra job, never a rescan."""
    if bound is not None and exact and bound <= DRIVER_FINISH_MAX:
        return _driver_tail(spark, cand.collect(), parsed,
                            phrase_dfs_by_query, n_docs, avgdl, top_k)
    cand = cand.persist()
    try:
        rows = None
        if bound is None or bound <= DRIVER_FINISH_MAX:
            rows = _collect_bounded(cand, DRIVER_FINISH_MAX)
        if rows is not None and len(rows) <= DRIVER_FINISH_MAX:
            return _driver_tail(spark, rows, parsed, phrase_dfs_by_query,
                                n_docs, avgdl, top_k)
        return _jvm_tail(spark, cand, parsed, known_idfs_by_qid, n_docs,
                         avgdl, top_k)
    finally:
        cand.unpersist()


def _driver_tail(spark, rows, parsed, phrase_dfs_by_query, n_docs, avgdl,
                 top_k) -> DataFrame:
    """Numpy finish of collected candidate rows, query by query."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["qid"]), []).append(r)
    out_rows = []
    for qi, phrases, _tids in parsed:
        fin = _finish_rows(by_q.get(qi, []), len(phrases), n_docs, avgdl,
                           top_k, phrase_dfs_by_query.get(qi))
        out_rows.extend((qi, d, nm, rk) for d, nm, rk in fin)
    return _batch_result_df(spark, out_rows)


def _finish_rows(rows, n_ph, n_docs, avgdl, top_k, dfs_override=None):
    """Numpy scoring tail over ONE query's candidate rows: returns
    [(doc_id, name_match, rank)] best-first (empty on AND-fail) —
    bit-identical to the JVM expressions (shared _norm_np float
    pipeline, same accumulation order). ``dfs_override`` (the phrase-df
    side table's per-phrase (df_all, df_name)) replaces the kind=0
    stat rows, which the covered path does not emit."""
    if dfs_override is not None:
        if any(da == 0 for da, _dn in dfs_override):
            return []  # some phrase matches nothing anywhere -> AND fails
        dfs = {i: [da, dn] for i, (da, dn) in enumerate(dfs_override)}
        docs = [r for r in rows if r["kind"] == 1]
    else:
        dfs = {}
        docs = []
        for r in rows:
            if r["kind"] == 0:
                e = dfs.setdefault(int(r["phrase"]), [0, 0])
                e[0] += int(r["df_all"])
                e[1] += int(r["df_name"])
            else:
                docs.append(r)
        if len(dfs) < n_ph:
            return []  # some phrase matches nothing anywhere -> AND fails
    if not docs:
        return []
    idf_all = [idf_fn(n_docs, dfs[i][0]) for i in range(n_ph)]
    idf_name = [idf_fn(n_docs, dfs[i][1]) if dfs[i][1] else 0.0 for i in range(n_ph)]

    n = len(docs)
    doc_id = np.fromiter((r["doc_id"] for r in docs), dtype=np.int64, count=n)
    dl = np.fromiter((r["dl"] for r in docs), dtype=np.int64, count=n)
    tfs_all = np.array([r["tfs_all"] for r in docs], dtype=np.int64)
    tfs_name = np.array([r["tfs_name"] for r in docs], dtype=np.int64)

    def rank_of(tfs, idfs):
        return _rank_rows(tfs, dl, idfs, avgdl)

    rank_all = rank_of(tfs_all, idf_all)
    sel_all = np.lexsort((doc_id, rank_all))[:top_k]
    named = np.flatnonzero((tfs_name > 0).all(axis=1))
    merged: dict[int, tuple[bool, float]] = {}
    if named.size:
        rank_name_full = rank_of(tfs_name, idf_name)
        sel_name = named[np.lexsort((doc_id[named], rank_name_full[named]))[:top_k]]
        for j in sel_name:
            merged[int(doc_id[j])] = (True, float(rank_name_full[j]))
    for j in sel_all:
        d = int(doc_id[j])
        got = merged.get(d)
        r = float(rank_all[j])
        if got is None:
            merged[d] = (False, r)
        else:
            merged[d] = (got[0], min(got[1], r))
    return sorted(
        ((d, nm, rk) for d, (nm, rk) in merged.items()),
        key=lambda t: (not t[1], t[2], t[0]),
    )[:top_k]


def _jvm_tail(spark, cand, parsed, known_idfs_by_qid, n_docs, avgdl,
              top_k) -> DataFrame:
    """JVM scoring tail over persisted candidates — the fallback when
    the candidate set is too large to pull to the driver. The plan is
    FLAT in batch width (VERDICT r02 #5): per-query idf vectors live in
    a broadcast (qid, idf_all, idf_name) lookup joined to the candidate
    rows, and ONE zip_with/aggregate expression scores every query, so
    plan size is constant whether the batch holds 1 query or 1,000.
    The fold multiplies and adds in the same order as _rank_rows, so
    scores stay bit-identical to the driver finish (pinned by test)."""
    from pyspark.sql.window import Window

    dfs = {
        (int(r["qid"]), int(r["phrase"])): (int(r["sa"]), int(r["sn"]))
        for r in cand.filter(F.col("kind") == 0)
        .groupBy("qid", "phrase")
        .agg(F.sum("df_all").alias("sa"), F.sum("df_name").alias("sn"))
        .collect()
    }
    idf_rows = []
    for qi, phrases, _tids in parsed:
        n_ph = len(phrases)
        if qi in known_idfs_by_qid:
            ia, iname = known_idfs_by_qid[qi]
            idf_rows.append((qi, list(ia), list(iname)))
            continue
        if any((qi, i) not in dfs for i in range(n_ph)):
            continue  # a phrase matched nothing -> AND fails for this query
        idf_rows.append((
            qi,
            [idf_fn(n_docs, dfs[(qi, i)][0]) for i in range(n_ph)],
            [idf_fn(n_docs, dfs[(qi, i)][1]) if dfs[(qi, i)][1] else 0.0
             for i in range(n_ph)],
        ))
    if not idf_rows:
        return _batch_result_df(spark, [])
    idfs_df = spark.createDataFrame(
        idf_rows, "qid int, idf_all array<double>, idf_name array<double>"
    )

    def flat_score(tf_col, idf_col):
        # ((0.0 + w0*norm0) + w1*norm1) + ... — _rank_rows' order
        return F.aggregate(
            F.zip_with(
                F.col(tf_col), F.col(idf_col),
                lambda tf, w: w * _norm(tf, F.col("dl"), avgdl),
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        )

    docs_r = cand.filter(F.col("kind") == 1).join(F.broadcast(idfs_df), "qid")
    allb = docs_r.select(
        "qid", "doc_id", F.lit(False).alias("name_match"),
        (-flat_score("tfs_all", "idf_all")).alias("rank"),
    ).unionAll(
        docs_r.filter(F.forall(F.col("tfs_name"), lambda x: x > 0)).select(
            "qid", "doc_id", F.lit(True).alias("name_match"),
            (-flat_score("tfs_name", "idf_name")).alias("rank"),
        )
    )
    w_branch = Window.partitionBy("qid", "name_match").orderBy(
        F.asc("rank"), F.asc("doc_id"))
    limited = allb.withColumn("rn", F.row_number().over(w_branch)).filter(
        F.col("rn") <= top_k).drop("rn")
    mergedq = (
        limited.groupBy("qid", "doc_id")
        .agg(F.max("name_match").alias("name_match"), F.min("rank").alias("rank"))
    )
    w_final = Window.partitionBy("qid").orderBy(
        F.desc("name_match"), F.asc("rank"), F.asc("doc_id"))
    return (
        mergedq.withColumn("rn", F.row_number().over(w_final))
        .filter(F.col("rn") <= top_k)
        .drop("rn")
        .withColumn("score", -F.col("rank"))
        .select("qid", "doc_id", "name_match", "rank", "score")
        .localCheckpoint(eager=True)
    )
