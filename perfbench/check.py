"""Output checks against the SQLite FTS5 oracle.

Rank identity is the rule of the repository's parity suite: the ordered
(name_match, score) sequences agree within 1e-9, and every tie group
that does not cross the top-k boundary holds the same doc ids (SQLite
leaves the order of equal-rank rows undefined).
"""

from __future__ import annotations

from codebased_spark.oracle import Fts5Oracle

TOL = 1e-9


def hits(rows) -> list[tuple[int, bool, float]]:
    """(doc_id, name_match, score) from collected engine rows."""
    return [(int(r["doc_id"]), bool(r["name_match"]), float(r["score"]))
            for r in rows]


def rank_mismatch(ours, ref, top_k: int) -> "str | None":
    """None when ``ours`` is rank-identical to ``ref``, else why not.
    Both are lists of (doc_id, name_match, score), best first."""
    if len(ours) != len(ref):
        return f"{len(ours)} hits, oracle has {len(ref)}"
    for (_, nm_o, s_o), (_, nm_r, s_r) in zip(ours, ref):
        if nm_o != nm_r or abs(s_o - s_r) >= TOL:
            return f"(name_match, score) ({nm_o}, {s_o!r}) vs oracle ({nm_r}, {s_r!r})"

    def groups(rows):
        out: list[list] = []
        for doc_id, nm, score in rows:
            key = (nm, round(score, 9))
            if out and out[-1][0] == key:
                out[-1][1].add(doc_id)
            else:
                out.append([key, {doc_id}])
        return out

    seen = 0
    for (key, docs_o), (_, docs_r) in zip(groups(ours), groups(ref)):
        seen += len(docs_o)
        at_boundary = seen == len(ours) == top_k
        if not at_boundary and docs_o != docs_r:
            return f"tie group {key}: doc ids {sorted(docs_o)} vs oracle {sorted(docs_r)}"
    return None


class Oracle:
    """FTS5 oracle over the live docs of an index: doc ids, paths and
    names from the index's public ``doc_stats`` (minus tombstones),
    content from the generated corpus."""

    def __init__(self, index, content: dict):
        stats = index.doc_stats.select("doc_id", "repo", "path", "name")
        dead = index.deletes_df()
        if dead is not None:
            stats = stats.join(dead, "doc_id", "left_anti")
        rows = stats.collect()
        self.paths = {int(r["doc_id"]): (r["repo"], r["path"]) for r in rows}
        self.fts = Fts5Oracle(
            (r["doc_id"], r["path"], r["name"], content[(r["repo"], r["path"])])
            for r in rows)

    def mismatch(self, query: str, rows, top_k: int) -> "str | None":
        ref = [(h.doc_id, bool(h.name_match), h.score)
               for h in self.fts.search(query, top_k)]
        return rank_mismatch(hits(rows), ref, top_k)
