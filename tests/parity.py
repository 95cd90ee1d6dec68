"""Rank-identical comparison helper.

SQLite leaves the order of equal-rank rows undefined (and which of them
survive a LIMIT at a tie boundary). Rank-identity therefore means:
- the ordered sequence of (name_match, score) is identical (1e-9), and
- within every maximal tie group that does NOT cross the result
  boundary, the set of doc_ids is identical.
The clamped-idf queries (idf=1e-6) make such ties common, so this is the
strongest comparison that is well-defined.
"""

from __future__ import annotations


def _groups(rows):
    """rows: list of (doc_id, name_match, score) sorted best-first ->
    list of (name_match, rounded_score, set_of_doc_ids)."""
    out = []
    for doc_id, nm, score in rows:
        key = (bool(nm), round(score, 9))
        if out and out[-1][0] == key:
            out[-1][1].add(doc_id)
        else:
            out.append([key, {doc_id}])
    return out


def assert_rank_identical(ours, oracle, top_k):
    """ours/oracle: list of (doc_id, name_match, score) best-first."""
    assert len(ours) == len(oracle), (
        f"result count differs: ours={len(ours)} oracle={len(oracle)}\n"
        f"ours={ours}\noracle={oracle}"
    )
    go, gr = _groups(ours), _groups(oracle)
    assert [k for k, _ in go] == [k for k, _ in gr], (
        f"(name_match, score) sequence differs:\nours={go}\noracle={gr}"
    )
    seen = 0
    for (key, docs_o), (_, docs_r) in zip(go, gr):
        seen += len(docs_o)
        boundary = seen == len(ours) and len(ours) == top_k
        if not boundary:
            assert docs_o == docs_r, f"tie group {key}: ours={docs_o} oracle={docs_r}"


def spark_hits(df):
    return [
        (int(r["doc_id"]), bool(r["name_match"]), float(r["score"]))
        for r in df.collect()
    ]


def oracle_hits(hits):
    return [(h.doc_id, bool(h.name_match), h.score) for h in hits]


def skyband_rows(n=400):
    """CORPUS_SCHEMA rows whose multi-phrase queries over "value", "xke"
    and "merge" have large k-skybands: the three tfs are
    anti-correlated, dl varies, tie groups repeat, and every fourth
    path names both "value" and "xke" (name-branch candidates)."""
    rows = []
    for i in range(n):
        a, b, c = 1 + i % 5, 1 + (i * 7) % 4, 1 + (i * 3) % 6
        if i % 13 == 0:
            a, b, c = 2, 2, 2
        body = ("value " * a) + ("xke " * b) + ("merge " * c) + "z" * (i % 50)
        path = f"value_xke_{i:04d}.txt" if i % 4 == 0 else f"p{i:04d}.txt"
        rows.append(("r1", path, "c" * 40, "text", body))
    return rows
