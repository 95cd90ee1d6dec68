"""Text-analysis operators for training-data pipelines.

All of these stay JVM-side (built-in pyspark.sql.functions — no Python
in the hot path), so they run inside whole-stage codegen and scale
linearly with the scan: token counting, quality scoring, language-ID
scoring, and a deterministic trigram fingerprint.

The n-gram window, the trigram code and its hash key are defined here
once; dedup, trainprep and phrasedf build on them.

Every operator here has an exact ANSI-SQL oracle (see __spark_entry__)
— expressions are chosen to be bit-reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FINGERPRINT_MOD = 2305843009213693951  # 2^61 - 1 (Mersenne prime)

# Trigram hash key = code % (2^49 - 1), taken wherever a code is
# multiplied: the identity on every ASCII trigram (all are < 2^49 - 1),
# and for any code point MinHash's a*key + b stays below 2^62 and the
# fingerprint's key*64 below 2^55, in engines that wrap or promote.
TRIGRAM_KEY_MOD = 562949953421311  # 2^49 - 1

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
# a punctuation char is any char but a letter, a digit or a space, in
# any script (on lowercased ASCII the same set as [^a-z0-9 ])
PUNCT_RE = "[^\\p{L}\\p{N} ]"


def ngram_windows(arr: Column, n: int) -> Column:
    """The n-wide sliding windows over ``arr`` as structs with fields
    "0".."n-1" (empty under n elements): the zip of n shifted slices,
    linear however the optimizer inlines ``arr``. A lambda reading
    ``arr[i]`` per index is re-evaluated per element once ``arr`` is
    inlined into it — quadratic."""
    m = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(arr, j + 1, m) for j in range(n)])


def joined_ngrams(words: Column, n: int) -> Column:
    """The n-grams of the string array ``words``, in order, each joined
    with single spaces; empty when there are fewer than n words."""
    return F.transform(
        ngram_windows(words, n),
        lambda g: F.concat_ws(" ", *[g[str(j)] for j in range(n)]),
    )


def trigram_codes(lc: Column) -> Column:
    """Positional trigram codes of the case-folded string ``lc`` as
    array<bigint>: c0*2^42 + c1*2^21 + c2 over code points, the packing
    of functions/fts5.pack_trigram (injective: code points are < 2^21).
    Strings under 3 code points give an empty array."""
    # the empty pattern splits on code points, as length()/substring() count
    cps = F.transform(F.split(lc, ""), lambda c: F.ascii(c))
    return F.transform(
        ngram_windows(cps, 3),
        lambda w: w["0"].cast("bigint") * 4398046511104
        + w["1"].cast("bigint") * 2097152 + w["2"],
    )


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy (runs of
    alphanumerics / single punctuation, the common pre-tokenizer split)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(F.trim(t), " +")
    subwords = F.split(t, "[^a-zA-Z0-9]+")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(words)).alias("n_tokens"),
        F.size(F.filter(subwords, lambda w: F.length(w) > 0)).alias("n_subwords"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: length, punctuation ratio, stopword
    ratio, mean word length — rounded to 6 so cross-engine float
    comparisons are stable."""
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    n = F.length(t)
    words = F.filter(F.split(F.trim(t), " +"), lambda w: F.length(w) > 0)
    n_words = F.size(words)
    n_punct = n - F.length(F.regexp_replace(t, PUNCT_RE, ""))
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    safe = lambda num, den: F.round(num.cast("double") / F.greatest(den, F.lit(1)).cast("double"), 6)
    return docs.select(
        "doc_id",
        n.alias("n_chars"),
        n_words.alias("n_words"),
        safe(n_punct, n).alias("punct_ratio"),
        safe(n_stop, n_words).alias("stopword_ratio"),
        safe(n - n_words + 1, n_words).alias("mean_word_len"),
    )


def lang_marker_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID by marker-token frequency (n-gram heuristic): counts
    of a few high-frequency function words per language family. A real
    deployment swaps in a trained n-gram profile; the dataflow (one
    scan, codegen'd counts, argmax) is the production shape."""
    t = F.concat(F.lit(" "), F.lower(F.coalesce(F.col(text_col), F.lit(""))), F.lit(" "))

    def count_of(word):
        return (
            (F.length(t) - F.length(F.regexp_replace(t, f" {word} ", "")))
            / (len(word) + 2)
        ).cast("long")

    en = count_of("the") + count_of("and") + count_of("of")
    es = count_of("el") + count_of("la") + count_of("de")
    return docs.select(
        "doc_id",
        en.alias("en_score"),
        es.alias("es_score"),
        F.when(en >= es, F.lit("en")).otherwise(F.lit("es")).alias("pred_lang"),
    )


def trigram_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic positional document fingerprint:
    sum_i key(trigram_i) * ((i-1) % 64 + 1)  mod  (2^61-1).
    Pure SQL expressions (transform + aggregate over the trigram
    codes) — reproducible in any ANSI engine, no UDF."""
    # key*64 < 2^55 and acc < 2^61 after each mod: int64 in any engine
    keyed = F.transform(trigram_codes(F.col("lc")),
                        lambda c, i: (c % TRIGRAM_KEY_MOD) * (i % 64 + 1))
    fp = F.aggregate(keyed, F.lit(0).cast("bigint"),
                     lambda acc, x: (acc + x) % FINGERPRINT_MOD)
    return (
        docs.withColumn("lc", F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        .select(
            "doc_id",
            fp.alias("fingerprint"),
            F.greatest(F.length("lc") - 2, F.lit(0)).alias("n_trigrams"),
        )
    )


def split_identifiers(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-aware identifier splitting: camelCase / PascalCase /
    snake_case / kebab-case identifiers -> lowercase subtokens, exploded
    with counts. Pure regexp expressions (codegen'd, ANSI-reproducible):

      parseHTTPRequest -> parse, http, request
      build_posting_list -> build, posting, list

    The camel boundary regex inserts a split before every
    [A-Z][a-z] run and between [a-z0-9][A-Z] — the standard two-rule
    splitter that handles acronym runs (HTTPServer -> http, server)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    # boundary 1: lower/digit followed by upper; boundary 2: acronym end
    camel = F.regexp_replace(t, "([a-z0-9])([A-Z])", "$1 $2")
    camel = F.regexp_replace(camel, "([A-Z]+)([A-Z][a-z])", "$1 $2")
    toks = F.split(F.lower(camel), "[^a-z0-9]+")
    return (
        docs.select("doc_id", F.explode(toks).alias("subtoken"))
        .filter(F.length("subtoken") > 0)
        .groupBy("subtoken")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("df"),
        )
    )


def trigram_document_frequency(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """I1+I2 as relational algebra over built-ins: explode the distinct
    trigram set per doc, aggregate document frequency per trigram. (The
    posting build in operators/build.py does this inside one UDF pass;
    this variant is the pure-Catalyst cross-check.)"""
    tri = F.array_distinct(F.transform(
        ngram_windows(F.split(F.col("lc"), ""), 3),
        lambda w: F.concat(w["0"], w["1"], w["2"]),
    ))
    return (
        docs.withColumn("lc", F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        .select("doc_id", F.explode(tri).alias("trigram"))
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
