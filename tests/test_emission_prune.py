"""The one emission prune (operators/query._emission_prune), Spark-free.

The uncovered and covered block paths and the task body prune their
candidate docs through one function; these tests pin that it is exact (the driver's final
top-k over the survivors equals the top-k over every candidate) and
that the covered-block, uncovered-block and task-level paths all reach
it, and nothing else ranks or prunes emissions on its own. They also
pin the per-task share: a capped query yields its full stat rows and
one overflow marker, and its rescan with the summed dfs finishes as
the uncapped run does."""

import ast
import sys
from pathlib import Path

import numpy as np

import codebased_spark.operators.query as q
from codebased_spark.operators.build import _encode_row

N_DOCS = 5_000
AVGDL = 57.5
_ROW_COLS = ["pblock", "term", "col", "df",
             "doc_bytes", "tf_bytes", "pos_bytes", "dl_bytes",
             "skip_last", "skip_max_tf", "skip_min_dl",
             "skip_doc_off", "skip_tf_off", "skip_pos_off", "skip_dl_off"]


def _candidates(rng, n, n_ph):
    """A task-like candidate set: distinct, unsorted doc ids; tf and dl
    drawn from a few values, and a block of rows copied from the first
    ones, so many docs tie on (tf, dl) and only doc_id orders them."""
    docs = rng.permutation(np.arange(n, dtype=np.int64) * 7 + 3)
    dl = rng.choice(np.array([20, 40, 57, 80], dtype=np.int64), size=n)
    ta = rng.integers(1, 4, size=(n, n_ph)).astype(np.int64)
    tn = np.where(rng.random((n, n_ph)) < 0.5,
                  rng.integers(1, 3, size=(n, n_ph)), 0).astype(np.int64)
    tn = np.minimum(tn, ta)
    dup = n // 3
    dl[n - dup:] = dl[:dup]
    ta[n - dup:] = ta[:dup]
    tn[n - dup:] = tn[:dup]
    return docs, dl, ta, tn


def _dfs(rng, tn):
    """Per-phrase (df_all, df_name) a real index could hold for these
    candidates; a large df_all takes the idf clamp."""
    out = []
    for i in range(tn.shape[1]):
        da = int(rng.choice([3, 40, 900, 4_000]))
        dn = int(rng.integers(1, da + 1)) if (tn[:, i] > 0).any() else 0
        out.append((da, dn))
    return out


def _finish(docs, dl, ta, tn, n_ph, top_k, dfs):
    rows = [{"kind": 1, "doc_id": int(d), "dl": int(x),
             "tfs_all": [int(v) for v in a], "tfs_name": [int(v) for v in b]}
            for d, x, a, b in zip(docs, dl, ta, tn)]
    return q._finish_rows(rows, n_ph, N_DOCS, AVGDL, top_k, dfs_override=dfs)


def test_emission_prune_is_exact_on_random_candidate_sets():
    rng = np.random.default_rng(20261019)
    pruned_any = 0
    for case in range(60):  # every (n_ph, top_k, known) combination
        n_ph = 1 + case % 3
        top_k = (1, 2, 3, 5, 10)[case % 5]
        n = int(rng.choice([top_k, 2 * top_k, 2 * top_k + 1, 6 * top_k, 240]))
        docs, dl, ta, tn = _candidates(rng, n, n_ph)
        known = case % 4 >= 2
        dfs = _dfs(rng, tn)
        idfs = q._idf_pair(N_DOCS, dfs) if known else None
        kept = q._emission_prune(docs, dl, ta, tn, n_ph, top_k, AVGDL, idfs)
        assert kept[0].size <= n
        if n <= 2 * top_k:
            assert kept[0].size == n
        if kept[0].size < n:
            pruned_any += 1
        if known or n_ph == 1:
            assert kept[0].size <= 2 * top_k
        # an unknown idf vector may be any positive one: check several
        for trial in range(1 if known else 3):
            if trial:
                dfs = _dfs(rng, tn)
            assert _finish(*kept, n_ph, top_k, dfs) == \
                _finish(docs, dl, ta, tn, n_ph, top_k, dfs), (case, trial)
    assert pruned_any >= 10  # the prune really dropped rows


def _row(term, col, docs, tfs, starts, dls):
    """A posting row whose doc i holds ``term`` at starts[i] + 5*j for
    j < tfs[i]."""
    pos = np.concatenate([s + 5 * np.arange(t) for s, t in zip(starts, tfs)])
    return q._Row(dict(zip(_ROW_COLS, _encode_row(
        0, term, col, docs, tfs, pos.astype(np.int64), dls))))


def _block(rng, base, n):
    """One block where the phrase (11, 12) matches every doc in the
    content column and every third doc in the name column."""
    docs = base + np.arange(n, dtype=np.int64)
    dls = rng.integers(10, 200, size=n).astype(np.int64)
    tfs = rng.integers(1, 4, size=n).astype(np.int64)
    zero = np.zeros(n, dtype=np.int64)
    nm = np.arange(0, n, 3)
    one = np.ones(nm.size, dtype=np.int64)
    return {
        (11, 2): _row(11, 2, docs, tfs, zero, dls),
        (12, 2): _row(12, 2, docs, tfs, zero + 1, dls),
        (11, 1): _row(11, 1, docs[nm], one, zero[nm], dls[nm]),
        (12, 1): _row(12, 1, docs[nm], one, zero[nm] + 1, dls[nm]),
    }


def test_every_block_path_prunes_through_the_one_function(monkeypatch):
    rng = np.random.default_rng(7)
    blocks = [(0, _block(rng, 0, 60), None),
              (1, _block(rng, 1 << 40, 60), np.array([(1 << 40) + 2]))]
    rows, phrase, top_k = blocks[0][1], [[11, 12]], 4
    callers = []
    real = q._emission_prune

    def counting(*a):
        callers.append(sys._getframe(1).f_code.co_name)
        return real(*a)

    monkeypatch.setattr(q, "_emission_prune", counting)
    stats, frame = q._query_block_frames(rows, phrase, None, top_k, AVGDL)
    assert callers == ["_query_block_frames"]
    assert stats == [(0, 60, 20)] and frame[0].size <= 2 * top_k
    idfs = q._idf_pair(N_DOCS, [(120, 40)])
    _stats, frame = q._query_block_frames(rows, phrase, None, top_k, AVGDL,
                                          known_idfs=idfs)
    assert callers[1:] == ["_covered_block_frame"]
    assert frame[0].size <= 2 * top_k
    del callers[:]
    out = list(q._candidate_body([(0, phrase)], top_k, AVGDL)(blocks))
    assert callers == ["_query_block_frames", "_query_block_frames", "body"]
    stat_rows, doc_rows = out
    assert list(stat_rows["df_all"]) == [119]  # one tombstoned doc left out
    assert len(doc_rows) <= 2 * top_k


def _multi_block(rng, base, n, phrases):
    """One block where each two-trigram phrase of ``phrases`` matches
    every doc in the content column, and every third doc in the name
    column: the second phrase's tf mirrors the first's (6 - tf), so
    the multi-phrase k-skyband is large."""
    docs = base + np.arange(n, dtype=np.int64)
    dls = rng.choice(np.array([40, 57, 80], dtype=np.int64), size=n)
    nm = np.arange(0, n, 3)
    zero = np.zeros(n, dtype=np.int64)
    one = np.ones(nm.size, dtype=np.int64)
    first = rng.integers(1, 6, size=n).astype(np.int64)
    rows = {}
    for i, (a, b) in enumerate(phrases):
        tfs = 6 - first if i == 1 else (
            first if i == 0 else rng.integers(1, 6, size=n).astype(np.int64))
        rows[(a, 2)] = _row(a, 2, docs, tfs, zero, dls)
        rows[(b, 2)] = _row(b, 2, docs, tfs, zero + 1, dls)
        rows[(a, 1)] = _row(a, 1, docs[nm], one, zero[nm], dls[nm])
        rows[(b, 1)] = _row(b, 1, docs[nm], one, zero[nm] + 1, dls[nm])
    return rows


def _records(frames):
    return [r for pdf in frames for r in pdf.to_dict("records")]


def test_share_overflow_marks_and_rescan_finishes_exactly():
    rng = np.random.default_rng(11)
    phrases = [[11, 12], [21, 22], [31, 32]]
    for n_ph, top_k in [(2, 2), (3, 2), (2, 3), (3, 1)]:
        blocks = [(0, _multi_block(rng, 0, 80, phrases[:n_ph]), None),
                  (1, _multi_block(rng, 1 << 40, 80, phrases[:n_ph]),
                   np.array([(1 << 40) + 5]))]
        batch = [(0, phrases[:n_ph]), (1, [[11, 12]])]
        share = 2 * top_k
        full = _records(q._candidate_body(batch, top_k, AVGDL)(blocks))
        capped = _records(q._candidate_body(batch, top_k, AVGDL,
                                            share=share)(blocks))
        of = {k: [r for r in rows if r["qid"] == 0]
              for k, rows in (("full", full), ("capped", capped))}
        assert sum(r["kind"] == 1 for r in of["full"]) > share  # overflows
        # the full stat rows, one marker, no doc rows
        assert [r for r in of["capped"] if r["kind"] == 0] == \
            [r for r in of["full"] if r["kind"] == 0]
        assert [r["kind"] for r in of["capped"]].count(2) == 1
        assert not any(r["kind"] == 1 for r in of["capped"])
        # the single-phrase query is untouched by the share
        assert [r for r in capped if r["qid"] == 1] == \
            [r for r in full if r["qid"] == 1]
        parsed = [(qi, [None] * len(tids), tids) for qi, tids in batch]
        out, rescan = q._driver_tail(capped, parsed, {}, N_DOCS, AVGDL, top_k)
        assert list(rescan) == [0] and {r[0] for r in out} == {1}
        dfs = rescan[0]
        assert len(dfs) == n_ph and all(da > 0 for da, _dn in dfs)
        again = _records(q._candidate_body(
            [batch[0]], top_k, AVGDL, {0: q._idf_pair(N_DOCS, dfs)},
            share=share)(blocks))
        assert not any(r["kind"] != 1 for r in again)
        assert len(again) <= len(blocks) * 2 * top_k
        want = q._finish_rows(of["full"], n_ph, N_DOCS, AVGDL, top_k)
        assert want and q._finish_rows(again, n_ph, N_DOCS, AVGDL, top_k,
                                       dfs) == want


def test_share_overflow_of_a_failed_and_rescans_nothing():
    """A capped query whose summed stat rows miss a phrase fails its
    AND: no rescan, no rows."""
    rows = [{"qid": 0, "kind": 0, "phrase": 0, "df_all": 9, "df_name": 1},
            {"qid": 0, "kind": 2, "phrase": -1, "df_all": 0, "df_name": 0}]
    parsed = [(0, [None, None], [[1], [2]])]
    assert q._driver_tail(rows, parsed, {}, N_DOCS, AVGDL, 3) == ([], {})


def test_block_kernel_helpers_have_one_caller_each():
    """The rarest-first intersection, the per-column merge, the phrase
    conjunction and the Pareto skyband are each reached from one place
    (the skyband only from the emission prune)."""
    tree = ast.parse(Path(q.__file__).read_text())
    callers: dict = {}
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                callers.setdefault(node.func.id, set()).add(fn.name)
    assert callers["_pareto_survivors"] == {"_emission_prune"}
    assert callers["_intersect"] == {"_phrase_block_tfs",
                                     "_phrase_col_candidates"}
    assert callers["_merge_cols"] == {"_phrase_block_docs",
                                      "_covered_block_frame"}
    assert callers["_conjoin"] == {"_query_block_frames",
                                   "_covered_block_frame"}
    assert callers["_emission_prune"] == {"_query_block_frames",
                                          "_covered_block_frame",
                                          "_candidate_body"}


def test_one_scoring_tail():
    """The scoring tail has one finisher: the numpy driver tail, which
    alone reaches the per-query finish; no Spark window plan remains."""
    tree = ast.parse(Path(q.__file__).read_text())
    fns = {fn.name: fn for fn in tree.body if isinstance(fn, ast.FunctionDef)}
    calls = {name: {node.func.id for node in ast.walk(fn)
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)} & set(fns)
             for name, fn in fns.items()}
    finishers = {"_driver_tail", "_finish_rows", "_jvm_tail"}
    assert calls["_finish"] & finishers == {"_driver_tail"}
    assert {n for n, c in calls.items() if "_finish_rows" in c} == \
        {"_driver_tail"}
    assert "_jvm_tail" not in fns and "_collect_bounded" not in fns
    imported = {a.name if isinstance(node, ast.Import) else node.module
                for node in ast.walk(tree)
                if isinstance(node, (ast.Import, ast.ImportFrom))
                for a in (node.names if isinstance(node, ast.Import)
                          else [node])}
    assert not any("window" in (m or "") for m in imported)
