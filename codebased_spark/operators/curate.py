"""Corpus curation: the composed keep/drop pipeline a training-data run
executes over raw documents (dedup + length + quality gates in one
pass). Output is an auditable verdict table — every dropped doc carries
the FIRST rule that killed it, in fixed priority order, so downstream
can reproduce and tune the funnel.

Design for 100 TB:
- every rule is JVM-side expression algebra (no Python);
- the two dedup rules shuffle 16-byte digests via window partitions,
  never text;
- the optional MinHash near-dup stage (``near_dup=True``) reuses
  operators/dedup.lsh_candidate_pairs — banding keeps the pair space
  bounded; it is off by default because its verdicts depend on hash
  bucketing (the deterministic rules are oracle-checked end-to-end in
  the correctness gate, entry ``curate_corpus``).

Reason priority (first match wins): too_short, too_long,
exact_duplicate, near_duplicate_prefix, high_punctuation — the
conventional C4/Gopher-style ordering: cheap structural gates first,
then dedup, then quality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from codebased_spark.operators.textops import PUNCT_RE

DEFAULT_MIN_CHARS = 20
DEFAULT_MAX_CHARS = 100_000
DEFAULT_MAX_PUNCT_RATIO = 0.30


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    min_chars: int = DEFAULT_MIN_CHARS,
    max_chars: int = DEFAULT_MAX_CHARS,
    max_punct_ratio: float = DEFAULT_MAX_PUNCT_RATIO,
    near_dup: bool = False,
) -> DataFrame:
    """(doc_id, keep, drop_reason) for every input doc.

    Exact-duplicate groups keep their min doc_id; prefix near-dup
    groups (first 5 casefolded words) likewise. With ``near_dup=True``
    an additional MinHash-LSH stage drops the higher doc_id of each
    candidate pair (reason ``near_duplicate_minhash``)."""
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    n = F.length(t)
    n_punct = n - F.length(F.regexp_replace(t, PUNCT_RE, ""))
    punct_ratio = F.round(
        n_punct.cast("double") / F.greatest(n, F.lit(1)).cast("double"), 6
    )
    digest = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    prefix_key = F.md5(
        F.concat_ws(" ", F.slice(F.split(t, " +"), 1, 5))
    )

    flagged = docs.select(
        "doc_id",
        n.alias("n_chars"),
        punct_ratio.alias("punct_ratio"),
        digest.alias("digest"),
        prefix_key.alias("prefix_key"),
    )
    w_d = Window.partitionBy("digest")
    w_p = Window.partitionBy("prefix_key")
    # prefix_canon only counts docs that survive the (earlier-priority)
    # length gates: otherwise a too_short/too_long canon would drop every
    # other group member as near_duplicate_prefix while itself dying,
    # losing the whole group (ADVICE r02). Exact-dup groups don't need
    # this: identical text fails the gates together. Any doc reaching
    # the prefix check passed its own length gates, so its group has a
    # passer and prefix_canon is non-null there. A canon dropped by the
    # LATER high_punctuation gate can still orphan its group — that is
    # the documented strict-priority semantics (dedup outranks quality:
    # the group WAS deduplicated onto its canon; the canon then failing
    # quality is that representative's own verdict), and the oracle
    # mirrors it.
    length_ok = (F.col("n_chars") >= min_chars) & (F.col("n_chars") <= max_chars)
    flagged = flagged.withColumn("exact_canon", F.min("doc_id").over(w_d)).withColumn(
        "prefix_canon", F.min(F.when(length_ok, F.col("doc_id"))).over(w_p)
    )

    reason = (
        F.when(F.col("n_chars") < min_chars, "too_short")
        .when(F.col("n_chars") > max_chars, "too_long")
        .when(F.col("doc_id") != F.col("exact_canon"), "exact_duplicate")
        .when(F.col("doc_id") != F.col("prefix_canon"), "near_duplicate_prefix")
        .when(F.col("punct_ratio") > max_punct_ratio, "high_punctuation")
    )
    out = flagged.select(
        "doc_id",
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )

    if near_dup:
        from codebased_spark.operators.dedup import lsh_candidate_pairs

        drops = (
            lsh_candidate_pairs(docs, text_col)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        out = (
            out.join(drops.withColumn("lsh_hit", F.lit(True)), "doc_id", "left")
            .select(
                "doc_id",
                (F.col("keep") & F.col("lsh_hit").isNull()).alias("keep"),
                F.when(
                    F.col("drop_reason").isNull() & F.col("lsh_hit").isNotNull(),
                    "near_duplicate_minhash",
                ).otherwise(F.col("drop_reason")).alias("drop_reason"),
            )
        )
    return out


def curation_report(verdicts: DataFrame) -> DataFrame:
    """(drop_reason, n) including the 'kept' row — the funnel summary
    every curation run should log (no silent truncation)."""
    return (
        verdicts.groupBy(
            F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("outcome")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
