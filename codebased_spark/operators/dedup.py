"""Deduplication operators for training-data pipelines.

Spark-first designs:
- exact: hash-groupBy — one shuffle on a short digest, never on text.
- n-gram Jaccard: distinct-trigram explode + semi-join against the probe
  set — all built-ins, codegen'd; at corpus-vs-corpus scale the same
  shape runs behind LSH blocking (below) to bound the pair space.
- MinHash + LSH banding: signatures via universal hashing over trigram
  codes (deterministic a_i, b_i), band-hash groupBy -> candidate pairs.
  The band join is the classic shuffle-bounded near-dup at 10^12 scale:
  pairs only materialize inside buckets.
- SimHash: 64-bit sign-aggregated trigram hashes; Hamming-adjacent
  bucket probing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from codebased_spark.operators.textops import TRIGRAM_KEY_MOD, trigram_codes

# Deterministic universal-hash parameters over the 49-bit trigram key
# (textops.TRIGRAM_KEY_MOD). Multipliers are 13-bit primes so
# a*key < 2^13 * 2^49 = 2^62 never overflows int64 — keeping the
# arithmetic identical in engines that promote (DuckDB -> HUGEINT) and
# engines that check or wrap (Spark ANSI / non-ANSI).
MINHASH_PRIME = 2305843009213693951  # 2^61 - 1
MINHASH_A = [8191, 5381, 7919, 6151, 4093, 3571, 2861, 1777,
             7507, 6827, 5749, 4957, 4231, 3917, 3259, 2741]
MINHASH_B = [2654435769, 2246822519, 3266489917, 668265263,
             374761393, 2166136261, 40503, 65599,
             15485863, 32452843, 49979687, 67867967,
             86028121, 104395301, 122949823, 141650939]

def _with_trigram_codes(docs: DataFrame, text_col: str) -> DataFrame:
    """docs + ``tri_codes``: the distinct trigram codes of the text."""
    lc = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    return docs.withColumn("tri_codes", F.array_distinct(trigram_codes(lc)))


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content digest. Shuffles 16-byte digests,
    not documents (at 100 TB this is the difference between a working
    job and an OOM)."""
    return (
        docs.select("doc_id", F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
    )


def key_duplicates(docs: DataFrame, text_col: str = "text", n_words: int = 5) -> DataFrame:
    """Near-exact dedup on a normalized prefix key (first n words,
    casefolded) — the cheap first pass before MinHash."""
    key = F.md5(
        F.concat_ws(
            " ", F.slice(F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " +"), 1, n_words)
        )
    )
    return (
        docs.select("doc_id", key.alias("prefix_key"))
        .groupBy("prefix_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def jaccard_to_probe(docs: DataFrame, probe_doc_id: int, text_col: str = "text") -> DataFrame:
    """Trigram-set Jaccard similarity of every doc against one probe doc.
    Pure relational: explode distinct trigram codes, count intersection
    via an equi-join with the (broadcast) probe set."""
    coded = _with_trigram_codes(docs, text_col)
    sizes = coded.select("doc_id", F.size("tri_codes").alias("set_size"))
    tri = coded.select("doc_id", F.explode("tri_codes").alias("code"))
    probe = tri.filter(F.col("doc_id") == probe_doc_id).select(
        F.col("code").alias("pcode")
    )
    probe_size = coded.filter(F.col("doc_id") == probe_doc_id).select(
        F.size("tri_codes").alias("probe_size")
    )
    inter = (
        tri.join(F.broadcast(probe), tri.code == probe.pcode)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        sizes.join(inter, "doc_id", "left")
        .fillna(0, ["inter"])
        .crossJoin(F.broadcast(probe_size))
        .select(
            "doc_id",
            F.round(
                F.col("inter").cast("double")
                / (F.col("set_size") + F.col("probe_size") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text", n_hashes: int = 8) -> DataFrame:
    """MinHash signature per doc: sig_i = min over trigram keys of
    (a_i * key + b_i) mod (2^61-1), key = code % (2^49-1). Deterministic
    and engine-portable: every term stays below 2^63 for any code point."""
    assert n_hashes <= len(MINHASH_A)
    coded = _with_trigram_codes(docs, text_col)
    sigs = [
        F.expr(
            f"array_min(transform(tri_codes, c -> "
            f"(({MINHASH_A[i]}L * (c % {TRIGRAM_KEY_MOD}L) + {MINHASH_B[i]}L) % {MINHASH_PRIME}L)))"
        ).alias(f"sig{i}")
        for i in range(n_hashes)
    ]
    return coded.select("doc_id", *sigs)


def _lsh_bands(docs: DataFrame, text_col: str, n_hashes: int, band_size: int) -> DataFrame:
    """(doc_id, band, bucket) rows — one per doc per band.

    The bucket is md5 over the band's signature values rendered as
    decimal strings ('|'-separated) — engine-portable (any SQL engine
    can compute the identical bucket, which is what puts
    lsh_candidate_pairs under a DuckDB oracle) and collision-free in
    practice, unlike Spark's Murmur3 ``F.hash`` which only Spark can
    reproduce. 16 bytes/row of extra shuffle width vs an int bucket is
    noise next to the signature shuffle itself."""
    # docs with no trigrams (< 3 chars) have null signatures: MinHash is
    # undefined on the empty set, so they get NO bands (and thus can
    # never pair) — matching the SQL oracle, where such docs simply
    # produce no signature row. A null array explodes to no rows; a
    # Filter on sig0 instead is pushed below the signature projection
    # and computes every doc's trigram codes a second time.
    sigs = minhash_signatures(docs, text_col, n_hashes)
    n_bands = n_hashes // band_size
    return sigs.select(
        "doc_id",
        F.explode(F.when(F.col("sig0").isNotNull(), F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws("|", *[
                        F.col(f"sig{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ])).alias("bucket"),
                )
                for b in range(n_bands)
            ]
        ))).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_bucket_stats(
    docs: DataFrame, text_col: str = "text", n_hashes: int = 16,
    band_size: int = 4, max_bucket: int = 64,
) -> DataFrame:
    """(band, bucket, size, dropped) — the coverage report that must
    accompany any capped LSH run: ``dropped`` buckets are exactly the
    ones :func:`lsh_candidate_pairs` skipped, so downstream knows which
    docs were NOT fully compared (no silent truncation)."""
    bands = _lsh_bands(docs, text_col, n_hashes, band_size)
    return bands.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("size")
    ).withColumn("dropped", F.col("size") > max_bucket)


def lsh_candidate_pairs(
    docs: DataFrame, text_col: str = "text", n_hashes: int = 16,
    band_size: int = 4, max_bucket: int = 64,
) -> DataFrame:
    """LSH banding over MinHash signatures -> unordered candidate pairs.

    Pairs only form within a band bucket (self-join on (band, bucket)),
    so the shuffle is O(docs · bands), not O(docs²). Two guards make
    that bound REAL at 100 TB (the round-1 parameterization measured
    62% of all-pairs on a 500-doc corpus — effectively all-pairs):

    - 16 hashes × band 4 puts the s-curve threshold at
      (1/4)^(1/4) ≈ 0.71 trigram-Jaccard: unrelated docs almost never
      share a 4-hash band, near-dups (s ≥ 0.8) are caught with
      P ≥ 1-(1-0.8⁴)⁴ ≈ 0.92 (recall test in test_training_ops.py).
    - buckets larger than ``max_bucket`` are dropped BEFORE any pair
      forms — one degenerate bucket (e.g. the empty-text bucket) is
      otherwise O(|bucket|²) regardless of banding.
      :func:`lsh_bucket_stats` reports exactly what was dropped.

    Physical shape: ONE scan of the corpus, one exchange of band rows.
    A size-count + semi-join spelling references the bands subtree
    (trigram expansion + 16 MinHash folds) from several places and
    the optimizer reused none of them (EIGHT scans, 5.9 s at 500 docs).
    A window count over (band, bucket) — a spillable buffer — drops
    rows of buckets outside [2, max_bucket] BEFORE ``collect_list``
    gathers each bucket's sorted doc list, so a degenerate bucket is
    never collected into one array; i<j pairs expand with array
    transforms (ordered: the list is sorted). Oracle-pinned
    (lsh_candidate_pairs gate entry).
    """
    bands = _lsh_bands(docs, text_col, n_hashes, band_size)
    size = F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    grouped = (
        bands.withColumn("size", size)
        .filter((F.col("size") >= 2) & (F.col("size") <= max_bucket))
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    # all i<j pairs of the sorted list: for element x at 0-based
    # position i, pair with every element after it (slice is 1-based)
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """61-bit SimHash over trigram codes: bit k of the hash is the sign
    of sum over trigrams of (bit k of h(key) ? +1 : -1), h = one
    universal hash of the trigram key. The per-bit tally is a dense
    61-wide popcount — a shape Catalyst's interpreted lambda algebra
    evaluates ~100x slower than numpy, so this one runs as an
    Arrow-batched pandas UDF over the (JVM-computed) trigram-code arrays."""
    import numpy as np
    import pandas as pd

    a, b = MINHASH_A[0], MINHASH_B[0]

    def _simhash(codes):
        shifts = np.arange(61, dtype=np.uint64)
        out = np.zeros(len(codes), dtype=np.int64)
        for i, arr in enumerate(codes):
            c = np.asarray(arr, dtype=np.int64) % TRIGRAM_KEY_MOD
            if c.size == 0:
                continue
            h = ((a * c + b) % MINHASH_PRIME).astype(np.uint64)
            bits = (h[:, None] >> shifts) & np.uint64(1)  # (n_tri, 61)
            sums = 2 * bits.sum(axis=0, dtype=np.int64) - c.size
            out[i] = int(((sums > 0).astype(np.uint64) << shifts).sum())
        return pd.Series(out)

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf can't resolve for nested functions — set them directly.
    _simhash.__annotations__ = {"codes": pd.Series, "return": pd.Series}
    simhash_udf = F.pandas_udf(_simhash, "long")

    coded = _with_trigram_codes(docs, text_col)
    return coded.select("doc_id", simhash_udf(F.col("tri_codes")).alias("simhash"))
