"""Exact BM25 scoring by direct document scan (the reference-semantics
executor; operators Q1-Q6 of SURVEY.md §2.4).

This path computes rank-identical FTS5 scores straight from the ``docs``
DataFrame — no index — and is the semantic baseline the posting-list /
block-skip path (operators/query.py) must agree with bit-for-bit. It is
also the correct plan when the query set is unknown-in-advance batch
scoring (one scan, all phrases at once).

Dataflow per query:
  phrases  = quote + parse (Q1/Q2, driver-side pure functions)
  tf       = vectorized overlapping-substring counts per (doc, phrase,
             column-group) — ONE Arrow-batched pandas UDF over the scan,
             regex lookahead counting in C, no per-row Python
  df(p)    = one small agg (map-side partial -> 2·|phrases| longs)
  score    = JVM-side expression: sum_p idf_p * tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
  branches = name-column branch + all-column branch, each ORDER BY rank
             LIMIT k, then union -> groupBy(doc_id) -> max(name_match),
             min(rank) -> final sort + limit  (codebased/search.py:240-302)

Every aggregate/sort here is a Catalyst TakeOrderedAndProject /
partial-agg plan; the only Python is the tf counting UDF.
"""

from __future__ import annotations

import re
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codebased_spark import B, DEFAULT_TOP_K, K1
from codebased_spark.functions.fts5 import idf as idf_fn
from codebased_spark.functions.fts5 import match_phrases


def _tf_udf(phrases: list[str]):
    """pandas UDF: (path, name, content) -> struct of two arrays —
    per-phrase tf over all columns, and over the name column only.
    Overlapping counts via regex lookahead (C-speed, vectorized)."""
    pats = [re.compile("(?=" + re.escape(p) + ")") for p in phrases]

    schema = "tfs_all array<long>, tfs_name array<long>"

    def count(series: pd.Series, pat) -> pd.Series:
        return series.str.count(pat)

    @F.pandas_udf(schema)
    def tf(path: pd.Series, name: pd.Series, content: pd.Series) -> pd.DataFrame:
        lp = path.str.lower()
        ln = name.str.lower()
        lc = content.str.lower()
        alls, names = [], []
        for pat in pats:
            names.append(count(ln, pat).astype("int64"))
            alls.append((count(lp, pat) + names[-1] + count(lc, pat)).astype("int64"))
        return pd.DataFrame(
            {
                "tfs_all": pd.Series(list(map(list, zip(*alls))) if alls else [[]] * len(path)),
                "tfs_name": pd.Series(list(map(list, zip(*names))) if names else [[]] * len(path)),
            }
        )

    return tf


def with_phrase_tfs(docs: DataFrame, phrases: list[str]) -> DataFrame:
    tf = _tf_udf(phrases)
    return docs.withColumn("_tf", tf("path", "name", "content")).select(
        "*", F.col("_tf.tfs_all").alias("tfs_all"), F.col("_tf.tfs_name").alias("tfs_name")
    ).drop("_tf")


def phrase_dfs(scored: DataFrame, n_phrases: int) -> tuple[list[int], list[int]]:
    """Document frequencies per phrase for both branches, one agg job."""
    aggs = []
    for i in range(n_phrases):
        aggs.append(F.sum((F.col("tfs_all")[i] > 0).cast("long")).alias(f"a{i}"))
        aggs.append(F.sum((F.col("tfs_name")[i] > 0).cast("long")).alias(f"n{i}"))
    row = scored.agg(*aggs).collect()[0]
    df_all = [int(row[f"a{i}"] or 0) for i in range(n_phrases)]
    df_name = [int(row[f"n{i}"] or 0) for i in range(n_phrases)]
    return df_all, df_name


def _branch(scored, tf_col, idfs, avgdl, top_k, name_match):
    """One CTE branch: conjunctive match, score, ORDER BY rank LIMIT k
    (codebased/search.py:242-254). doc_id breaks rank ties
    deterministically (SQLite leaves tie order undefined)."""
    matched = scored
    score = F.lit(0.0)
    for i, w in enumerate(idfs):
        tf = F.col(tf_col)[i].cast("double")
        matched = matched.filter(F.col(tf_col)[i] > 0)
        score = score + F.lit(w) * tf * (K1 + 1.0) / (
            tf + K1 * (1.0 - B + B * F.col("dl").cast("double") / F.lit(avgdl))
        )
    return (
        matched.withColumn("rank", -score)
        .withColumn("name_match", F.lit(name_match))
        .select("doc_id", "name_match", "rank")
        .orderBy(F.asc("rank"), F.asc("doc_id"))
        .limit(top_k)
    )


def search_bruteforce(
    docs: DataFrame,
    query: str,
    top_k: int = DEFAULT_TOP_K,
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """The reference's full two-branch search over a docs DataFrame.

    Returns (doc_id, name_match, rank, score) sorted best-first. Phrases
    under 3 chars have no trigrams and drop out of the conjunction; a
    query left with none returns nothing, matching FTS5."""
    spark = docs.sparkSession
    phrases = match_phrases(query)
    empty = spark.createDataFrame(
        [], "doc_id long, name_match boolean, rank double, score double"
    )
    if not phrases:
        return empty

    if n_docs is None or avgdl is None:
        from codebased_spark.operators.docs import corpus_stats

        n_docs, avgdl = corpus_stats(docs)
    if n_docs == 0:
        return empty

    scored = with_phrase_tfs(docs, phrases)
    scored.persist()
    try:
        df_all, df_name = phrase_dfs(scored, len(phrases))
        idfs_all = [idf_fn(n_docs, d) for d in df_all]
        idfs_name = [idf_fn(n_docs, d) for d in df_name]

        name_b = _branch(scored, "tfs_name", idfs_name, avgdl, top_k, True)
        all_b = _branch(scored, "tfs_all", idfs_all, avgdl, top_k, False)

        merged = (
            name_b.unionAll(all_b)
            .groupBy("doc_id")
            .agg(F.max("name_match").alias("name_match"), F.min("rank").alias("rank"))
            .orderBy(F.desc("name_match"), F.asc("rank"), F.asc("doc_id"))
            .limit(top_k)
            .withColumn("score", -F.col("rank"))
        )
        # materialize before unpersist so the cached tf scan is reused
        out = merged.localCheckpoint(eager=True)
    finally:
        scored.unpersist()
    return out
