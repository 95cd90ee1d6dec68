"""Seeded inputs: corpora, 1% change sets and the query stream.

Everything here is a pure function of the seed, so the same seed gives
the same files, change sets and query strings on every run.

A corpus is made of ``sources.corpus.gen_file`` files, the engine's own
seeded code fixture (the rows ``gen_corpus`` generates): five language
templates filled from a 40-word vocabulary, so some terms are in nearly
every file and their idf clamps, while identifiers, class names and
port numbers are rare. Query words are drawn from the corpus's own
tokens, weighted by their document frequency.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np

from codebased_spark.functions.fts5 import query_phrases
from codebased_spark.sources.corpus import CORPUS_SCHEMA, gen_file

FILES_PER_REPO = 50
_WORD = re.compile(r"[A-Za-z0-9]{3,}")


class Corpus:
    """One seeded corpus: ``rows`` in CORPUS_SCHEMA order, keyed by
    (repo, path) in ``content``; ``vocab`` holds its tokens by falling
    document frequency, ``weights`` those frequencies normalised."""

    def __init__(self, n_files: int, seed: int):
        self.seed = seed
        rows = []
        for i in range(n_files):
            repo_i, file_i = divmod(i, FILES_PER_REPO)
            path, lang, content = gen_file(repo_i, file_i, seed)
            rows.append((f"repo-{repo_i:05d}", path, "0" * 40, lang, content))
        self.rows = rows
        self.content = {(r[0], r[1]): r[4] for r in rows}
        df = Counter(w for c in self.content.values() for w in set(_WORD.findall(c)))
        ranked = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
        self.vocab = [w for w, _ in ranked]
        counts = np.array([n for _, n in ranked], dtype=float)
        self.weights = counts / counts.sum()

    def input_bytes(self) -> int:
        return sum(len(c.encode()) for c in self.content.values())


def write_rows(rows: list[tuple], out_dir: str, parts: int) -> str:
    """Write corpus rows as ``parts`` parquet files (one Spark input
    partition each); return the directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    cols = CORPUS_SCHEMA.fieldNames()
    step = -(-len(rows) // parts)
    for p in range(parts):
        chunk = rows[p * step:(p + 1) * step]
        tbl = pa.table({c: [r[k] for r in chunk] for k, c in enumerate(cols)})
        pq.write_table(tbl, os.path.join(out_dir, f"part-{p:03d}.parquet"))
    return out_dir


def change_sets(corpus: Corpus, rounds: int, frac: float = 0.01):
    """``rounds`` disjoint seeded change sets of ``frac`` of the files.
    Each changed file gets one appended line with the round's marker,
    a token that occurs nowhere else, so a search for it must return
    exactly the round's files. Yields (marker, rows)."""
    rng = np.random.default_rng([corpus.seed, 3])
    per = max(1, int(len(corpus.rows) * frac))
    order = rng.permutation(len(corpus.rows))
    for r in range(rounds):
        pick = order[(r * per) % len(order):][:per]
        marker = f"mk{corpus.seed % 1000}q{r}z{int(rng.integers(10**6))}"
        rows = []
        for i in sorted(pick):
            repo, path, commit, lang, content = corpus.rows[i]
            rows.append((repo, path, commit, lang,
                         content + f"\n// touched {marker}\n"))
        yield marker, rows


# --- the query stream -------------------------------------------------------

# One cycle of shapes. Fixed order, so every seed runs the same mix and
# only the strings change. Two more shapes are queries the engine
# answers without scanning: "absent", a trigram that occurs nowhere in
# the corpus, and "short", a phrase shorter than a trigram.
SCAN_SHAPES = ("common", "rare_phrase", "conj3", "clamped", "ident", "covered")
_CLAMPED = ("return", "retur", "eturn")


class QueryStream:
    """Distinct query strings of the named shapes, drawn from a corpus.

    Every returned string is new, so the per-index result memo never
    answers a timed query."""

    def __init__(self, corpus: Corpus, hot_phrases: list[str], seed: int,
                 salt: int = 0):
        self.rng = np.random.default_rng([seed, 4, salt])
        self.corpus = corpus
        # hot phrases that quote cleanly: a phrase holding a double quote
        # would change the query's phrase split
        self.hot = [p for p in hot_phrases if len(p) >= 3 and '"' not in p] or list(_CLAMPED)
        self.seen: set[str] = set()
        self.texts = list(corpus.content.values())
        self.idents = sorted({
            w for c in corpus.content.values() for w in c.split()
            if "_" in w and w.replace("_", "").isalpha()
        }) or ["alpha_beta"]

    def _word(self, lo: int = 0, hi: int = 200) -> str:
        """A corpus token of document-frequency rank in [lo, hi), drawn
        in proportion to its document frequency."""
        v = self.corpus.vocab
        hi = min(hi, len(v))
        p = self.corpus.weights[lo:hi] / self.corpus.weights[lo:hi].sum()
        return v[lo + int(self.rng.choice(hi - lo, p=p))]

    def _draw(self, shape: str) -> str:
        rng = self.rng
        if shape == "common":
            return f"{self._word(0, 60)} {self._word(0, 60)}"
        if shape == "rare_phrase":
            # two adjacent tokens of a line of a file, as they stand in
            # it; a draw holding a double quote is redrawn by ``next``
            lines = [ln for ln in self.texts[int(rng.integers(len(self.texts)))]
                     .splitlines() if len(ln.split()) >= 2]
            words = lines[int(rng.integers(len(lines)))].split()
            j = int(rng.integers(len(words) - 1))
            return '"' + " ".join(words[j:j + 2]) + '"'
        if shape == "conj3":
            return " ".join(self._word(20, 600) for _ in range(3))
        if shape == "clamped":
            # "return" is in four of the five code templates, so it is
            # in more than half the files and its idf clamps. Case
            # variants fold to the same trigrams: the work repeats while
            # the query string stays new.
            w = _CLAMPED[int(rng.integers(len(_CLAMPED)))]
            mask = rng.random(len(w)) < 0.5
            return "".join(c.upper() if m else c for c, m in zip(w, mask))
        if shape == "ident":
            w = self.idents[int(rng.integers(len(self.idents)))]
            a = int(rng.integers(0, max(1, len(w) - 5)))
            return w[a:a + int(rng.integers(4, 8))]
        if shape == "covered":
            # two hot phrases that occur together in one file, so the
            # query scans on every seed. Pairs drawn at random were often
            # answered without a scan, how often depending on the seed's
            # phrase list: their median on `large` was 30 ms on three
            # seeds in five and 400 ms on the others.
            text = self.texts[int(rng.integers(len(self.texts)))].lower()
            found = [p for p in self.hot if p in text]
            if len(found) < 2:
                return ""  # ``next`` draws again
            a, b = rng.choice(len(found), size=2, replace=False)
            return f'"{found[a]}" "{found[b]}"'
        if shape == "absent":
            tail = "".join(chr(ord("j") + int(x)) for x in rng.integers(0, 4, 6))
            return f"qzx{tail}"
        if shape == "short":
            return "".join(chr(ord("a") + int(x)) for x in rng.integers(0, 26, 2))
        raise ValueError(f"unknown query shape {shape!r}")

    def next(self, shape: str) -> str:
        for k in range(2000):
            q = self._draw(shape)
            if k >= 1000:
                # a shape whose space is exhausted gets a distinct suffix word
                q = f"{q} {self._word(0, 3000)}"
            # a double quote inside a drawn phrase would change the split
            n = q.count('"')
            clean = n == 2 if shape == "rare_phrase" else n % 2 == 0
            if q and clean and q not in self.seen:
                self.seen.add(q)
                return q
        raise RuntimeError(f"no new {shape!r} query left")


def covered(index, query: str) -> bool:
    """True when every phrase of ``query`` is in the index's hot-phrase
    df table (the known-idf query path)."""
    phrases = query_phrases(query)
    return bool(phrases) and bool(index.phrase_dfs) and all(
        p in index.phrase_dfs for p in phrases)
