"""Driver contract for the spark-graft builder (PySpark target).

Maps the codebased_spark engine's operators (SURVEY.md §2) onto the
driver's testdata tables so the DuckDB harness can verify them:

- the ``documents`` table is deterministically mapped into the engine's
  corpus shape (path/name = printf('d%%09d', doc_id) — or name = first
  two words for the name-branch queries) so doc_id keys line up between
  Spark results and oracle SQL;
- BM25/FTS queries run the exact reference semantics (trigram phrases,
  idf clamp, whole-row DL, two-branch union) and the oracle SQL
  re-implements the same formula in ANSI SQL (overlapping tf == replace
  trick, valid because the chosen phrases have no self-overlap);
- training-data operators (dedup / similarity / text stats) come from
  codebased_spark.operators.{dedup,simsearch,textops}.

Float columns are rounded to 6 decimals on BOTH sides; queries avoid
LIMIT-at-tie boundaries (k exceeds the candidate count or scores are
well-separated), so order-insensitive value hashing is stable.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from codebased_spark import B, K1  # noqa: E402
from codebased_spark.operators.docs import with_doc_lengths  # noqa: E402
from codebased_spark.operators.score import search_bruteforce  # noqa: E402
from codebased_spark.operators.textops import TRIGRAM_KEY_MOD  # noqa: E402

K_ALL = 100000  # effectively "no limit": avoids tie-at-boundary ambiguity


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs_df(spark: SparkSession, sf_dir: str, named: bool) -> DataFrame:
    """documents -> engine docs DF keyed by the table's own doc_id."""
    d = _documents(spark, sf_dir)
    ident = F.format_string("d%09d", F.col("doc_id"))
    name = (
        F.concat_ws(" ", F.slice(F.split(F.coalesce(F.col("text"), F.lit("")), " "), 1, 2))
        if named
        else ident
    )
    docs = d.select(
        "doc_id",
        ident.alias("path"),
        name.alias("name"),
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )
    return with_doc_lengths(docs)


_NAME_SQL = {
    False: "printf('d%09d', doc_id)",
    True: "array_to_string(list_slice(string_split(coalesce(text, ''), ' '), 1, 2), ' ')",
}


def _bm25_sql(phrases: list[str], named: bool, top_k: int) -> str:
    """Generate the oracle: FTS5-exact BM25 two-branch union in DuckDB
    SQL. tf per column via the replace trick (phrases chosen
    self-overlap-free); DL whole-row; per-branch df; idf clamp 1e-6."""
    tf_cols, df_cols = [], []
    for i, p in enumerate(phrases):
        pl = p.lower().replace("'", "''")
        L = len(p)
        per_col = [
            f"cast((length(lc_{c}) - length(replace(lc_{c}, '{pl}', ''))) / {L} as bigint)"
            for c in ("path", "name", "content")
        ]
        tf_cols.append(f"{' + '.join(per_col)} AS tfa{i}")
        tf_cols.append(f"{per_col[1]} AS tfn{i}")
        df_cols.append(f"count_if(tfa{i} > 0) AS dfa{i}")
        df_cols.append(f"count_if(tfn{i} > 0) AS dfn{i}")

    def idf(df):
        return (
            f"(CASE WHEN ln((s.n - d.{df} + 0.5) / (d.{df} + 0.5)) <= 0 "
            f"THEN 1e-6 ELSE ln((s.n - d.{df} + 0.5) / (d.{df} + 0.5)) END)"
        )

    def contrib(tf, df):
        return (
            f"{idf(df)} * cast(t.{tf} as double) * {K1 + 1.0} / "
            f"(cast(t.{tf} as double) + {K1} * (1.0 - {B} + {B} * t.dl / s.avgdl))"
        )

    sa = " + ".join(contrib(f"tfa{i}", f"dfa{i}") for i in range(len(phrases)))
    sn = " + ".join(contrib(f"tfn{i}", f"dfn{i}") for i in range(len(phrases)))
    all_cond = " AND ".join(f"t.tfa{i} > 0" for i in range(len(phrases)))
    name_cond = " AND ".join(f"t.tfn{i} > 0" for i in range(len(phrases)))
    return f"""
WITH corpus AS (
  SELECT doc_id,
         lower(printf('d%09d', doc_id)) AS lc_path,
         lower({_NAME_SQL[named]}) AS lc_name,
         lower(coalesce(text, '')) AS lc_content
  FROM documents
),
lens AS (
  SELECT *, cast(greatest(length(lc_path) - 2, 0) + greatest(length(lc_name) - 2, 0)
                 + greatest(length(lc_content) - 2, 0) as double) AS dl
  FROM corpus
),
stats AS (SELECT cast(count(*) as double) AS n, avg(dl) AS avgdl FROM lens),
tf AS (SELECT doc_id, dl, {', '.join(tf_cols)} FROM lens),
dfs AS (SELECT {', '.join(df_cols)} FROM tf),
name_branch AS (
  SELECT t.doc_id, true AS name_match, -({sn}) AS rank
  FROM tf t, dfs d, stats s WHERE {name_cond}
  ORDER BY rank, t.doc_id LIMIT {top_k}
),
all_branch AS (
  SELECT t.doc_id, false AS name_match, -({sa}) AS rank
  FROM tf t, dfs d, stats s WHERE {all_cond}
  ORDER BY rank, t.doc_id LIMIT {top_k}
),
merged AS (
  SELECT doc_id, max(name_match) AS name_match, min(rank) AS rank
  FROM (SELECT * FROM name_branch UNION ALL SELECT * FROM all_branch)
  GROUP BY doc_id
)
SELECT doc_id, name_match, round(-rank, 6) AS score
FROM merged
ORDER BY name_match DESC, rank, doc_id
LIMIT {top_k}
"""


def _fts_query(phrases: list[str], named: bool, top_k: int):
    query = " ".join(f'"{p}"' for p in phrases)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs_df(spark, sf_dir, named)
        res = search_bruteforce(docs, query, top_k)
        return res.select("doc_id", "name_match", F.round("score", 6).alias("score"))

    return run


_TRI_NUMBERS = """
  nums AS (
    SELECT unnest(range(1, 1 + (SELECT max(length(coalesce(text, ''))) FROM documents))) AS i
  )
"""


# (doc_id, i, code): the positional trigram codes of the case-folded
# text, c0*2^42 + c1*2^21 + c2 over code points (textops.trigram_codes),
# spelled independently in DuckDB SQL; use sites take DISTINCT or the
# hash key (code % TRIGRAM_KEY_MOD) themselves.
_TRI_CODES = f"""{_TRI_NUMBERS.strip()},
  tri_codes AS (
    SELECT d.doc_id, n.i,
           ascii(substr(lower(coalesce(d.text, '')), n.i, 1))::BIGINT * 4398046511104
         + ascii(substr(lower(coalesce(d.text, '')), n.i + 1, 1))::BIGINT * 2097152
         + ascii(substr(lower(coalesce(d.text, '')), n.i + 2, 1))::BIGINT AS code
    FROM documents d JOIN nums n ON n.i <= length(coalesce(d.text, '')) - 2
  )"""


def q_trigram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.textops import trigram_document_frequency

    return (
        trigram_document_frequency(_documents(spark, sf_dir))
        .orderBy(F.desc("df"), F.asc("trigram"))
        .limit(40)
    )


TRIGRAM_DF_SQL = f"""
WITH {_TRI_NUMBERS},
tri AS (
  SELECT DISTINCT d.doc_id, substr(lower(coalesce(d.text, '')), n.i, 3) AS trigram
  FROM documents d JOIN nums n ON n.i <= length(coalesce(d.text, '')) - 2
)
SELECT trigram, count(*) AS df
FROM tri GROUP BY trigram
ORDER BY df DESC, trigram LIMIT 40
"""


def q_hot_phrase_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The digest-keyed hot-phrase miner (operators/phrasedf.py
    top_ngrams_df): top-64 case-folded word unigrams+bigrams by
    frequency, shuffling 8-byte xxhash64 keys instead of phrase text
    (VERDICT r04 #4); the oracle recomputes the same top-64 directly
    from the text so the two-pass digest pruning is value-checked."""
    from codebased_spark.operators.phrasedf import top_ngrams_df

    return top_ngrams_df(
        _documents(spark, sf_dir), top_n=64, text_col="text", key="digest")


HOT_PHRASE_MINING_SQL = r"""
WITH docs AS (
  SELECT regexp_split_to_array(lower(coalesce(text, '')), '\s+') AS ws
  FROM documents
),
nums AS (
  SELECT unnest(range(1, 1 + (SELECT max(len(ws)) FROM docs))) AS i
),
uni AS (SELECT unnest(ws) AS phrase FROM docs),
bi AS (
  SELECT d.ws[n.i] || ' ' || d.ws[n.i + 1] AS phrase
  FROM docs d JOIN nums n ON n.i <= len(d.ws) - 1
),
allg AS (SELECT phrase FROM uni UNION ALL SELECT phrase FROM bi)
SELECT phrase, count(*) AS n
FROM allg
WHERE length(phrase) >= 3
GROUP BY phrase
ORDER BY n DESC, phrase ASC
LIMIT 64
"""


def q_doc_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.textops import trigram_fingerprint

    d = _documents(spark, sf_dir)
    fp = trigram_fingerprint(d)
    base = d.select(
        "doc_id",
        F.sha2(F.coalesce(F.col("text"), F.lit("")).cast("binary"), 256).alias("sha256"),
    )
    return base.join(fp, "doc_id").select("doc_id", "sha256", "fingerprint", "n_trigrams")


DOC_DIGEST_SQL = f"""
WITH {_TRI_CODES},
fp AS (
  SELECT doc_id,
         cast(sum((code % {TRIGRAM_KEY_MOD}) * ((i - 1) % 64 + 1))
              % 2305843009213693951 as bigint) AS fingerprint,
         count(*) AS n_trigrams
  FROM tri_codes
  GROUP BY doc_id
)
SELECT d.doc_id, sha256(coalesce(d.text, '')) AS sha256,
       coalesce(fp.fingerprint, 0) AS fingerprint,
       coalesce(fp.n_trigrams, 0) AS n_trigrams
FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_documents(spark, sf_dir))


DEDUP_EXACT_SQL = """
SELECT md5(coalesce(text, '')) AS digest, count(*) AS n_dups, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.dedup import key_duplicates

    return key_duplicates(_documents(spark, sf_dir), n_words=2)


DEDUP_PREFIX_SQL = """
SELECT md5(array_to_string(list_slice(string_split_regex(lower(coalesce(text, '')), ' +'), 1, 2), ' ')) AS prefix_key,
       count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def q_jaccard_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.dedup import jaccard_to_probe

    return jaccard_to_probe(_documents(spark, sf_dir), probe_doc_id=0)


JACCARD_SQL = f"""
WITH {_TRI_CODES},
tri AS (SELECT DISTINCT doc_id, code FROM tri_codes),
sizes AS (SELECT doc_id, count(*) AS set_size FROM tri GROUP BY 1),
probe AS (SELECT code FROM tri WHERE doc_id = 0),
probe_size AS (SELECT count(*) AS probe_size FROM probe),
inter AS (
  SELECT t.doc_id, count(*) AS inter FROM tri t JOIN probe p ON t.code = p.code GROUP BY 1
)
-- from documents: a sub-3-char doc has an EMPTY trigram set, which
-- Spark scores 0 against the probe — keep its row, as _minhash_sql does
SELECT d.doc_id,
       round(cast(coalesce(i.inter, 0) as double)
             / cast(coalesce(s.set_size, 0) + ps.probe_size - coalesce(i.inter, 0) as double),
             6) AS jaccard
FROM documents d LEFT JOIN sizes s ON d.doc_id = s.doc_id
LEFT JOIN inter i ON d.doc_id = i.doc_id, probe_size ps
"""


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_documents(spark, sf_dir), n_hashes=4)


def _sig_mins(n_hashes: int) -> str:
    """The MinHash signature aggregates over tri_codes ``t``."""
    from codebased_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_PRIME

    return ", ".join(
        f"min(({MINHASH_A[i]} * (t.code % {TRIGRAM_KEY_MOD}) + {MINHASH_B[i]})"
        f" % {MINHASH_PRIME})"
        f" AS sig{i}"
        for i in range(n_hashes)
    )


def _minhash_sql(n_hashes: int = 4) -> str:
    mins = _sig_mins(n_hashes)
    sig_cols = ", ".join(f"s.sig{i}" for i in range(n_hashes))
    # LEFT JOIN: sub-3-char docs have an EMPTY trigram set, so Spark
    # emits null signatures for them — the oracle must keep their rows
    # (with nulls) rather than drop them in the inner join
    return f"""
WITH {_TRI_CODES},
sigs AS (SELECT t.doc_id, {mins} FROM tri_codes t GROUP BY t.doc_id)
SELECT d.doc_id, {sig_cols}
FROM documents d LEFT JOIN sigs s ON d.doc_id = s.doc_id
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.simsearch import cosine_similarity_to_probe

    return cosine_similarity_to_probe(_embeddings(spark, sf_dir), probe_vec_id=0).filter(
        F.col("vec_id") != 0
    )


COSINE_SQL = """
WITH probe AS (SELECT embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], p.pv)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(p.pv, p.pv))), 6) AS cosine
FROM embeddings e, probe p WHERE e.vec_id <> 0
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.textops import token_stats

    return token_stats(_documents(spark, sf_dir))


TOKEN_STATS_SQL = """
SELECT doc_id,
       length(coalesce(text, '')) AS n_chars,
       CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
            ELSE len(string_split_regex(trim(coalesce(text, '')), ' +')) END AS n_tokens,
       len(list_filter(string_split_regex(coalesce(text, ''), '[^a-zA-Z0-9]+'),
                       w -> length(w) > 0)) AS n_subwords
FROM documents
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.textops import quality_scores

    return quality_scores(_documents(spark, sf_dir))


QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, lower(coalesce(text, '')) AS lc FROM documents
),
w AS (
  SELECT doc_id, lc, length(lc) AS n,
         list_filter(string_split_regex(trim(lc), ' +'), x -> length(x) > 0) AS words,
         length(lc) - length(regexp_replace(lc, '[^\\p{L}\\p{N} ]', '', 'g')) AS n_punct
  FROM t
)
SELECT doc_id, n AS n_chars, len(words) AS n_words,
       round(cast(n_punct as double) / greatest(n, 1), 6) AS punct_ratio,
       round(cast(len(list_filter(words, x -> x IN ('the','a','of','and','to','in','is','it'))) as double)
             / greatest(len(words), 1), 6) AS stopword_ratio,
       round(cast(n - len(words) + 1 as double) / greatest(len(words), 1), 6) AS mean_word_len
FROM w
"""


def q_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.textops import lang_marker_scores

    return lang_marker_scores(_documents(spark, sf_dir))


LANG_SQL = """
WITH t AS (SELECT doc_id, ' ' || lower(coalesce(text, '')) || ' ' AS p FROM documents),
c AS (
  SELECT doc_id,
    cast((length(p) - length(replace(p, ' the ', ''))) / 5 as bigint)
      + cast((length(p) - length(replace(p, ' and ', ''))) / 5 as bigint)
      + cast((length(p) - length(replace(p, ' of ', ''))) / 4 as bigint) AS en_score,
    cast((length(p) - length(replace(p, ' el ', ''))) / 4 as bigint)
      + cast((length(p) - length(replace(p, ' la ', ''))) / 4 as bigint)
      + cast((length(p) - length(replace(p, ' de ', ''))) / 4 as bigint) AS es_score
  FROM t
)
SELECT doc_id, en_score, es_score,
       CASE WHEN en_score >= es_score THEN 'en' ELSE 'es' END AS pred_lang
FROM c
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.dedup import simhash64

    return simhash64(_documents(spark, sf_dir))


def _simhash_sql() -> str:
    """DuckDB replica of operators/dedup.simhash64: same universal hash
    (a0, b0 mod 2^61-1) over DISTINCT trigram codes, bit k set iff
    2 * popcount_k > n_trigrams. The 61-bit reassembly sum is HUGEINT in
    DuckDB -> CAST to BIGINT (the sessionize lesson)."""
    from codebased_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_PRIME

    a, b = MINHASH_A[0], MINHASH_B[0]
    return f"""
WITH {_TRI_CODES},
tri AS (SELECT DISTINCT doc_id, code FROM tri_codes),
h AS (SELECT doc_id, ({a} * (code % {TRIGRAM_KEY_MOD}) + {b}) % {MINHASH_PRIME} AS h
      FROM tri),
n_tri AS (SELECT doc_id, count(*) AS n FROM h GROUP BY 1),
bits AS (
  SELECT h.doc_id, k.k,
         count(*) FILTER (WHERE (h.h >> k.k) & 1 = 1) AS ones
  FROM h CROSS JOIN (SELECT unnest(range(0, 61)) AS k) k
  GROUP BY 1, 2
),
sh AS (
  SELECT b.doc_id,
         CAST(sum(CASE WHEN 2 * b.ones > t.n THEN (1::BIGINT << b.k)
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM bits b JOIN n_tri t USING (doc_id) GROUP BY 1
)
SELECT d.doc_id, coalesce(sh.simhash, 0) AS simhash
FROM documents d LEFT JOIN sh USING (doc_id)
"""


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(_documents(spark, sf_dir))


def _lsh_pairs_sql(n_hashes: int = 16, band_size: int = 4, max_bucket: int = 64) -> str:
    """DuckDB replica of operators/dedup.lsh_candidate_pairs: identical
    MinHash signatures, identical md5-of-'|'-joined band buckets
    (portable by construction — see dedup._lsh_bands), same bucket cap
    applied before the self-join."""
    mins = _sig_mins(n_hashes)
    n_bands = n_hashes // band_size
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"sig{b * band_size + j}" for j in range(band_size))
        + ")) AS bucket FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH {_TRI_CODES},
sigs AS (SELECT t.doc_id, {mins} FROM tri_codes t GROUP BY t.doc_id),
bands AS (
  {band_selects}
),
sizes AS (SELECT band, bucket, count(*) AS size FROM bands GROUP BY 1, 2),
capped AS (
  SELECT b.doc_id, b.band, b.bucket
  FROM bands b JOIN sizes s USING (band, bucket) WHERE s.size <= {max_bucket}
)
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM capped l JOIN capped r
  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
"""


def _ann_lsh_sql(dim: int = 64, n_planes: int = 16, probe: int = 0,
                 k: int = 10, max_hamming: int = 3) -> str:
    """DuckDB replica of simsearch.ann_topk_indexed over hyperplane
    signatures. The plane weights are dyadic rationals from the same
    pure function (plane_weight), embedded as exact literals; each
    plane's dot product is spelled as the same left-associated
    float->double product chain Spark's fold evaluates, so the SIGN of
    every projection is bit-identical across engines. The exact cosine
    re-rank rounds to 6 like the Spark side (same as COSINE_SQL)."""
    from codebased_spark.operators.simsearch import plane_weight

    planes = []
    for p in range(n_planes):
        dot = " + ".join(
            f"embedding[{j + 1}]::DOUBLE * ({plane_weight(p, j)!r})"
            for j in range(dim)
        )
        planes.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END)")
    sig = "\n       + ".join(planes)
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding,
         CAST({sig} AS BIGINT) AS lsh_sig
  FROM embeddings
),
probe_sig AS (SELECT lsh_sig AS psig FROM sigs WHERE vec_id = {probe}),
probe_vec AS (SELECT embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id = {probe})
SELECT s.vec_id,
       round(list_dot_product(s.embedding::DOUBLE[], p.pv)
             / (sqrt(list_dot_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[]))
                * sqrt(list_dot_product(p.pv, p.pv))), 6) AS cosine
FROM sigs s, probe_sig ps, probe_vec p
WHERE bit_count(xor(s.lsh_sig, ps.psig)) <= {max_hamming}
  AND s.vec_id <> {probe}
ORDER BY cosine DESC, s.vec_id LIMIT {k}
"""


def _documents_as_index_corpus(d: DataFrame) -> DataFrame:
    """documents table -> engine corpus shape; the table's doc_id rides
    in the path ('d%09d') so results map back through doc_stats."""
    return d.select(
        F.lit("docs").alias("repo"),
        F.format_string("d%09d", F.col("doc_id")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("text").alias("lang"),
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )


def q_fts_index_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP path under the oracle (VERDICT r01 #2): build a real
    posting-list index over the documents corpus and search through
    FtsIndex.search (pyarrow shard scan + block-local conjunction +
    two-branch merge) — not the brute-force scorer the other fts gate
    entries pin. Engine doc_ids are internal; results map back to the
    table's doc_id through the stored path ('d%09d')."""
    import shutil
    import tempfile

    from codebased_spark.plans.engine import build_index

    corpus = _documents_as_index_corpus(_documents(spark, sf_dir))
    idx_dir = tempfile.mkdtemp(prefix="gate_fts_idx_")
    try:
        index = build_index(spark, corpus, idx_dir, num_blocks=8)
        # this entry pins the DISTRIBUTED plan (the route rule may send
        # a single search of this store direct, which has its own entry
        # below)
        index.driver_direct = False
        hits = index.search('"value"', K_ALL)
        out = (
            index.doc_stats.select("doc_id", "path")
            .join(F.broadcast(hits), "doc_id")
            .select(
                F.substring("path", 2, 9).cast("long").alias("doc_id"),
                "name_match",
                F.round("score", 6).alias("score"),
            )
        )
        # materialize before the tmp index dir is removed
        rows = out.collect()
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id long, name_match boolean, score double")


def q_fts_after_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search THROUGH an incrementally-committed index under the oracle
    (r6): build over a deterministic half of the documents corpus, fold
    the FULL corpus in as a batch (the sha gate passes only the missing
    half; fresh blocks append above the existing ones; the presence
    manifest delta-extends to cover them), then search the reloaded
    index. The oracle recomputes BM25 over the full table from scratch,
    so this pins — at VALUE level — the sha gate, block-offset
    assignment, exact N/avgdl maintenance (both feed every score), and
    shard pruning across a mixed covered/freshly-covered block set."""
    import shutil
    import tempfile

    from codebased_spark.plans.engine import build_index
    from codebased_spark.streaming.incremental import incremental_update

    corpus = _documents_as_index_corpus(_documents(spark, sf_dir))
    half = corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == 0)
    idx_dir = tempfile.mkdtemp(prefix="gate_fts_incr_")
    try:
        build_index(spark, half, idx_dir, num_blocks=4)
        index = incremental_update(spark, idx_dir, corpus)
        index.driver_direct = False  # pin the distributed plan
        assert index.term_blocks is not None  # presence active & extended
        hits = index.search("table merge", K_ALL)
        out = (
            index.doc_stats.select("doc_id", "path")
            .join(F.broadcast(hits), "doc_id")
            .select(
                F.substring("path", 2, 9).cast("long").alias("doc_id"),
                "name_match",
                F.round("score", 6).alias("score"),
            )
        )
        rows = out.collect()  # materialize before the tmp dir is removed
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id long, name_match boolean, score double")


def q_fts_hot_covered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The covered multi-trigram WAND path under the oracle (r4): the
    same real index as fts_bm25_index_path plus the phrase-df side
    table for the query's phrases, so FtsIndex.search routes through
    _covered_block_frame (known idfs, upper-bound-ordered lazy position
    verification, exact branch-top-k emission). Cross-engine proof that
    the fast path changes plans, not values."""
    import shutil
    import tempfile

    from codebased_spark.operators.phrasedf import build_phrase_df
    from codebased_spark.plans.engine import build_index

    corpus = _documents_as_index_corpus(_documents(spark, sf_dir))
    idx_dir = tempfile.mkdtemp(prefix="gate_fts_hot_")
    try:
        index = build_index(spark, corpus, idx_dir, num_blocks=8)
        index.driver_direct = False  # pin the DISTRIBUTED covered plan
        build_phrase_df(spark, index, ["table", "merge"])
        assert {"table", "merge"} <= set(index.phrase_dfs)  # covered
        hits = index.search("table merge", K_ALL)
        out = (
            index.doc_stats.select("doc_id", "path")
            .join(F.broadcast(hits), "doc_id")
            .select(
                F.substring("path", 2, 9).cast("long").alias("doc_id"),
                "name_match",
                F.round("score", 6).alias("score"),
            )
        )
        rows = out.collect()  # materialize before the tmp dir is removed
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id long, name_match boolean, score double")


def q_fts_direct_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ZERO-JOB driver-direct read-through under the oracle (r5):
    the same real index as fts_bm25_index_path, searched with
    driver_direct pinned ON (the direct feeder of operators/query.run_search,
    the one query entry — driver-side pyarrow scan of the same task body,
    numpy scoring, Arrow result relation, no Spark job), whatever the
    route rule would pick. Same oracle SQL as fts_bm25_index_path:
    cross-engine proof the direct feeder changes execution, not
    values."""
    import shutil
    import tempfile

    from codebased_spark.plans.engine import build_index

    corpus = _documents_as_index_corpus(_documents(spark, sf_dir))
    idx_dir = tempfile.mkdtemp(prefix="gate_fts_direct_")
    try:
        index = build_index(spark, corpus, idx_dir, num_blocks=8)
        index.driver_direct = True
        hits = index.search('"value"', K_ALL)
        out = (
            index.doc_stats.select("doc_id", "path")
            .join(F.broadcast(hits), "doc_id")
            .select(
                F.substring("path", 2, 9).cast("long").alias("doc_id"),
                "name_match",
                F.round("score", 6).alias("score"),
            )
        )
        rows = out.collect()  # materialize before the tmp dir is removed
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id long, name_match boolean, score double")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via the PERSISTED signature table (build once, query many —
    VERDICT r01 #5: the one-shot path re-projected every vector per
    query)."""
    import os
    import shutil
    import tempfile

    from codebased_spark.operators.simsearch import ann_topk_indexed, build_ann_index

    sig_dir = os.path.join(tempfile.gettempdir(), "gate_ann_sigs")
    shutil.rmtree(sig_dir, ignore_errors=True)
    build_ann_index(_embeddings(spark, sf_dir), dim=64, out_path=sig_dir)
    return ann_topk_indexed(spark, sig_dir, probe_vec_id=0, k=10)


def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/windows.windowed_event_counts (the
    watermark variant's late-drop semantics are pinned by
    tests/test_sessionize.py::test_watermark_drops_late_events)."""
    from codebased_spark.streaming.windows import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windowed_event_counts(ev, "1 hour", watermark=None)


WINDOWED_COUNTS_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via the IVF coarse-quantizer index (build + probe through
    the persisted structure). nprobe == n_lists makes the result
    EXACTLY the brute-force cosine ranking, so the whole index
    roundtrip (deterministic k-means fit, partitioned assignment
    tables, list pruning, exact re-rank) sits under the same oracle as
    `cosine_similarity`. Small-nprobe recall is covered by unit tests
    (tests/test_sessionize.py::test_ivf_index_recall_and_pruning)."""
    import os
    import shutil
    import tempfile

    from codebased_spark.operators.ivf import build_ivf_index, ivf_topk

    idx = os.path.join(tempfile.gettempdir(), "gate_ivf_idx")
    shutil.rmtree(idx, ignore_errors=True)
    build_ivf_index(_embeddings(spark, sf_dir), idx, n_lists=8, iters=3)
    return ivf_topk(spark, idx, probe_vec_id=0, k=K_ALL, nprobe=8)


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact baseline (the LSH-banded
    scale variant is pinned to this output in tests/test_sessionize.py).
    Threshold 0.3: the synthetic embeddings carry no true near-dups, so
    a moderate cutoff exercises the pair math on ~1k rows."""
    from codebased_spark.operators.simsearch import cosine_pairs_exact

    return cosine_pairs_exact(_embeddings(spark, sf_dir), threshold=0.3)


COSINE_PAIRS_SQL = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
            6) >= 0.3
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (30 min) over the events table — the batch
    form of streaming/sessionize.py (its applyInPandasWithState twin is
    pinned equal in tests/test_sessionize.py)."""
    from codebased_spark.streaming.sessionize import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(ev, gap_minutes=30).select(
        "user_id", "session_seq", "session_start", "session_end",
        "n_events", "sum_value",
    )


SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  -- CAST: DuckDB's sum(int) is HUGEINT, which .df() converts to
  -- float64 — hash-mismatching Spark's bigint even when values agree.
  SELECT *, CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM marked
)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM numbered
GROUP BY user_id, session_seq
"""


def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation funnel over documents: the
    deterministic rules (length gates, exact + prefix dedup, punctuation
    quality) verified end-to-end; the MinHash near-dup stage is
    bucket-hash-dependent and covered by unit tests instead."""
    from codebased_spark.operators.curate import curate_corpus

    return curate_corpus(_documents(spark, sf_dir))


CURATE_SQL = """
WITH flagged AS (
  SELECT doc_id,
         length(lower(coalesce(text, ''))) AS n_chars,
         round((length(lower(coalesce(text, '')))
                - length(regexp_replace(lower(coalesce(text, '')), '[^\\p{L}\\p{N} ]', '', 'g')))::DOUBLE
               / greatest(length(lower(coalesce(text, ''))), 1), 6) AS punct_ratio,
         min(doc_id) OVER (PARTITION BY md5(coalesce(text, ''))) AS exact_canon,
         -- canon only among length-gate passers (matches curate.py):
         -- a gated-out canon must not drop its whole prefix group
         min(CASE WHEN length(lower(coalesce(text, ''))) BETWEEN 20 AND 100000
                  THEN doc_id END) OVER (PARTITION BY md5(array_to_string(
             list_slice(string_split_regex(lower(coalesce(text, '')), ' +'), 1, 5), ' '))) AS prefix_canon
  FROM documents
)
SELECT doc_id,
       CASE
         WHEN n_chars < 20 THEN 'too_short'
         WHEN n_chars > 100000 THEN 'too_long'
         WHEN doc_id <> exact_canon THEN 'exact_duplicate'
         WHEN doc_id <> prefix_canon THEN 'near_duplicate_prefix'
         WHEN punct_ratio > 0.30 THEN 'high_punctuation'
       END IS NULL AS keep,
       CASE
         WHEN n_chars < 20 THEN 'too_short'
         WHEN n_chars > 100000 THEN 'too_long'
         WHEN doc_id <> exact_canon THEN 'exact_duplicate'
         WHEN doc_id <> prefix_canon THEN 'near_duplicate_prefix'
         WHEN punct_ratio > 0.30 THEN 'high_punctuation'
       END AS drop_reason
FROM flagged
"""


def q_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication signal (Lee et al. 2022) at 8-token
    granularity: spans shared by >= 2 distinct documents."""
    from codebased_spark.operators.trainprep import duplicate_ngram_spans

    return duplicate_ngram_spans(_documents(spark, sf_dir), n=8, min_docs=2)


DUP_NGRAM_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(coalesce(text, '')), ' +') AS words
  FROM documents
),
nums AS (SELECT unnest(range(1, 1 + (SELECT max(len(words)) FROM w))) AS i),
g AS (
  SELECT w.doc_id, array_to_string(w.words[n.i:n.i + 7], ' ') AS ngram
  FROM w JOIN nums n ON n.i <= len(w.words) - 7
)
SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2
"""


def q_dup_ngram_spans_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_ngram_spans in key='digest' mode (VERDICT r03 #5):
    groups on md5(ngram) with the span text dropped pre-shuffle — the
    32-hex key bounds shuffle width at 10^12-file scale. Oracled via
    DuckDB's md5() over the same spans; counts must be identical to
    the text-keyed entry."""
    from codebased_spark.operators.trainprep import duplicate_ngram_spans

    return duplicate_ngram_spans(
        _documents(spark, sf_dir), n=8, min_docs=2, key="digest")


DUP_NGRAM_DIGEST_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(coalesce(text, '')), ' +') AS words
  FROM documents
),
nums AS (SELECT unnest(range(1, 1 + (SELECT max(len(words)) FROM w))) AS i),
g AS (
  SELECT w.doc_id, md5(array_to_string(w.words[n.i:n.i + 7], ' ')) AS ngram_md5
  FROM w JOIN nums n ON n.i <= len(w.words) - 7
)
SELECT ngram_md5, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
FROM g GROUP BY ngram_md5 HAVING count(DISTINCT doc_id) >= 2
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test contamination: overlap of each doc's distinct 8-grams
    with a 'benchmark' probe set (docs 0-9 stand in for one)."""
    from codebased_spark.operators.trainprep import benchmark_contamination

    d = _documents(spark, sf_dir)
    return benchmark_contamination(d, d.filter(F.col("doc_id") < 10), n=8)


def q_contamination_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """benchmark_contamination in key='digest' mode: the semi-join runs
    on md5(ngram) with text dropped before the broadcast — same output
    schema and values as the text-keyed entry (checked by the SAME
    oracle SQL: the digest join changes bytes moved, not results)."""
    from codebased_spark.operators.trainprep import benchmark_contamination

    d = _documents(spark, sf_dir)
    return benchmark_contamination(
        d, d.filter(F.col("doc_id") < 10), n=8, key="digest")


CONTAMINATION_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(coalesce(text, '')), ' +') AS words
  FROM documents
),
nums AS (SELECT unnest(range(1, 1 + (SELECT max(len(words)) FROM w))) AS i),
g AS (
  SELECT DISTINCT w.doc_id, array_to_string(w.words[n.i:n.i + 7], ' ') AS ngram
  FROM w JOIN nums n ON n.i <= len(w.words) - 7
),
probe AS (SELECT DISTINCT ngram FROM g WHERE doc_id < 10),
totals AS (SELECT doc_id, count(*) AS n_ngrams FROM g GROUP BY 1),
hits AS (
  SELECT g.doc_id, count(*) AS n_contaminated
  FROM g JOIN probe p ON g.ngram = p.ngram GROUP BY 1
)
SELECT d.doc_id,
       coalesce(t.n_ngrams, 0) AS n_ngrams,
       coalesce(h.n_contaminated, 0) AS n_contaminated,
       round(coalesce(h.n_contaminated, 0)::DOUBLE
             / greatest(coalesce(t.n_ngrams, 0), 1), 6) AS contamination
FROM documents d
LEFT JOIN totals t ON d.doc_id = t.doc_id
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: the synthetic corpus carries no PII, so the
    gate plants deterministic emails/IPs/id-numbers per doc (same
    derivation in the oracle) — the regex redaction pipeline and its
    counts are then value-checked cross-engine on non-trivial input."""
    from codebased_spark.operators.trainprep import pii_scrub

    d = _documents(spark, sf_dir)
    planted = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ref 123456789"),
        ).alias("text"),
    )
    return pii_scrub(planted)


PII_SQL = r"""
WITH planted AS (
  SELECT doc_id,
         coalesce(text, '') || ' contact u' || doc_id::VARCHAR
         || '@example.com from 10.0.' || (doc_id % 256)::VARCHAR
         || '.7 ref 123456789' AS text
  FROM documents
),
s AS (
  SELECT doc_id, text,
         regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g') AS s1
  FROM planted
),
s2 AS (
  SELECT *, regexp_replace(s1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS sc2 FROM s
)
SELECT doc_id,
       len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
       len(regexp_extract_all(s1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
       len(regexp_extract_all(sc2, '\b\d{9,}\b')) AS n_longnums,
       sha256(regexp_replace(sc2, '\b\d{9,}\b', '[NUM]', 'g')) AS scrubbed_sha256
FROM s2
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals (duplicate n-gram
    occurrence fractions for n=2,3,4)."""
    from codebased_spark.operators.trainprep import repetition_ratios

    return repetition_ratios(_documents(spark, sf_dir))


REPETITION_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(coalesce(text, '')), ' +') AS words
  FROM documents
),
nums AS (SELECT unnest(range(1, 1 + (SELECT max(len(words)) FROM w))) AS i),
g AS (
  SELECT w.doc_id, n.i,
         array_to_string(w.words[n.i:n.i + 1], ' ') AS g2,
         CASE WHEN n.i <= len(w.words) - 2
              THEN array_to_string(w.words[n.i:n.i + 2], ' ') END AS g3,
         CASE WHEN n.i <= len(w.words) - 3
              THEN array_to_string(w.words[n.i:n.i + 3], ' ') END AS g4
  FROM w JOIN nums n ON n.i <= len(w.words) - 1
),
agg AS (
  SELECT doc_id,
         count(g2) AS t2, count(DISTINCT g2) AS d2,
         count(g3) AS t3, count(DISTINCT g3) AS d3,
         count(g4) AS t4, count(DISTINCT g4) AS d4
  FROM g GROUP BY 1
)
SELECT d.doc_id,
       round(CASE WHEN coalesce(a.t2, 0) > 0 THEN 1.0 - a.d2::DOUBLE / a.t2 ELSE 0.0 END, 6) AS dup2,
       round(CASE WHEN coalesce(a.t3, 0) > 0 THEN 1.0 - a.d3::DOUBLE / a.t3 ELSE 0.0 END, 6) AS dup3,
       round(CASE WHEN coalesce(a.t4, 0) > 0 THEN 1.0 - a.d4::DOUBLE / a.t4 ELSE 0.0 END, 6) AS dup4
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from codebased_spark.operators.trainprep import dataset_split

    return dataset_split(_documents(spark, sf_dir), val_pct=10, salt="v1")


DATASET_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('v1:' || doc_id::VARCHAR), 1, 8)) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT doc_id, bucket::INT AS bucket,
       CASE WHEN bucket < 10 THEN 'val' ELSE 'train' END AS split
FROM b
"""


# The media gate tables live OUTSIDE the driver's sf dirs (the media
# table is engine-defined), but both engines must read the SAME bytes
# for a value oracle to mean anything (VERDICT r03 #4) — so the gate
# materializes them to fixed parquet paths with pure pyarrow (no
# Spark), idempotently, from both queries() callables AND oracle_sql().
_GATE_MEDIA_PATH = "/tmp/codebased_spark_gate_media_s11_n200.parquet"
_GATE_PROJ_PATH = "/tmp/codebased_spark_gate_proj_256x64.parquet"


def _ensure_media_gate_files() -> None:
    """Write (once) the deterministic media table — byte-identical to
    multimodal.gen_media(spark, 200, seed=11), pinned by test — and
    media_features' projection matrix as (b, d, w) rows."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.exists(_GATE_MEDIA_PATH):
        rows = []
        for i in range(200):
            h = hashlib.sha256(f"11:{i}".encode()).digest()
            kind = ("image", "audio", "video")[h[0] % 3]
            payload = hashlib.sha256(h).digest() * (4 + h[1] % 8)
            if kind == "image":
                w, hh, c, sr, nf = 8 + h[2] % 56, 8 + h[3] % 56, 3, 0, 1
            elif kind == "audio":
                w, hh, c, sr, nf = 0, 0, 1, 16000, 0
            else:
                w, hh, c, sr, nf = 16, 16, 3, 0, 2 + h[4] % 14
            rows.append((i, kind, payload, w, hh, c, sr, nf))
        tbl = pa.table(
            {
                "media_id": pa.array([r[0] for r in rows], pa.int64()),
                "kind": pa.array([r[1] for r in rows], pa.string()),
                "payload": pa.array([r[2] for r in rows], pa.binary()),
                "width": pa.array([r[3] for r in rows], pa.int32()),
                "height": pa.array([r[4] for r in rows], pa.int32()),
                "channels": pa.array([r[5] for r in rows], pa.int32()),
                "sample_rate": pa.array([r[6] for r in rows], pa.int32()),
                "n_frames": pa.array([r[7] for r in rows], pa.int32()),
            }
        )
        tmp = f"{_GATE_MEDIA_PATH}.{os.getpid()}.tmp"  # unique per writer
        pq.write_table(tbl, tmp)
        os.replace(tmp, _GATE_MEDIA_PATH)

    if not os.path.exists(_GATE_PROJ_PATH):
        rng = np.random.RandomState(12345)  # = media_features' seed
        proj = rng.standard_normal((256, 64)).astype(np.float32)
        proj = proj.astype(np.float64)  # exact float32 values, as doubles
        bs, ds = np.meshgrid(np.arange(256), np.arange(64), indexing="ij")
        tbl = pa.table(
            {
                "b": pa.array(bs.ravel(), pa.int32()),
                "d": pa.array(ds.ravel(), pa.int32()),
                "w": pa.array(proj.ravel(), pa.float64()),
            }
        )
        tmp = f"{_GATE_PROJ_PATH}.{os.getpid()}.tmp"  # unique per writer
        pq.write_table(tbl, tmp)
        os.replace(tmp, _GATE_PROJ_PATH)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: deterministic media table (persisted so
    DuckDB reads the same bytes) -> binary-payload feature extraction
    (byte histogram x float64 projection) -> exact cosine top-10. Fully
    oracled as of r4: the SQL recomputes the whole chain from the
    payload bytes."""
    from codebased_spark.operators.multimodal import media_features
    from codebased_spark.operators.simsearch import cosine_topk

    _ensure_media_gate_files()
    feats = media_features(spark.read.parquet(_GATE_MEDIA_PATH))
    return cosine_topk(feats, probe_vec_id=0, k=10)


MEDIA_FEATURES_SQL = f"""
WITH m AS (
  SELECT media_id, hex(payload) AS hx, octet_length(payload) AS plen
  FROM read_parquet('{_GATE_MEDIA_PATH}')
),
nums AS (SELECT unnest(range(0, (SELECT max(plen) FROM m))) AS i),
bytes AS (
  SELECT m.media_id,
         CAST(('0x' || substr(m.hx, 2 * n.i + 1, 2)) AS INT) AS b
  FROM m JOIN nums n ON n.i < m.plen
),
hist AS (
  SELECT media_id, b, count(*)::DOUBLE AS cnt FROM bytes GROUP BY 1, 2
),
tot AS (SELECT media_id, sum(cnt) AS total FROM hist GROUP BY 1),
feat AS (
  SELECT h.media_id, p.d, sum((h.cnt / t.total) * p.w) AS v
  FROM hist h
  JOIN tot t USING (media_id)
  JOIN read_parquet('{_GATE_PROJ_PATH}') p ON p.b = h.b
  GROUP BY 1, 2
),
probe AS (SELECT d, v FROM feat WHERE media_id = 0),
pn AS (SELECT sqrt(sum(v * v)) AS npr FROM probe),
dots AS (
  SELECT f.media_id,
         sum(f.v * p.v) AS dp,
         sqrt(sum(f.v * f.v)) AS nf
  FROM feat f JOIN probe p USING (d)
  GROUP BY 1
)
SELECT d.media_id AS vec_id, round(d.dp / (d.nf * pn.npr), 6) AS cosine
FROM dots d, pn
WHERE d.media_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the persisted media table: payload sliced
    into n_frames spans of floor(len/n_frames) bytes, every 2nd frame
    emitted. Fully oracled as of r4 (stride arithmetic in SQL)."""
    from codebased_spark.operators.multimodal import sample_video_frames

    _ensure_media_gate_files()
    media = spark.read.parquet(_GATE_MEDIA_PATH)
    return sample_video_frames(media, every_n=2).select(
        "media_id", "frame_no", F.length("frame_payload").alias("frame_bytes")
    )


VIDEO_FRAMES_SQL = f"""
WITH m AS (
  SELECT media_id, octet_length(payload) AS plen, n_frames,
         greatest(octet_length(payload) // n_frames, 1) AS per
  FROM read_parquet('{_GATE_MEDIA_PATH}')
  WHERE kind = 'video' AND n_frames > 0
)
SELECT m.media_id,
       f.f::INT AS frame_no,
       (least(m.plen, (f.f + 1) * m.per) - least(m.plen, f.f * m.per))::INT
         AS frame_bytes
FROM m, unnest(range(0, m.n_frames, 2)) AS f(f)
"""


def q_identifier_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-aware identifier splitting (north_star: camelCase/snake_case
    subtokens). Deterministic camel_snake identifiers are constructed
    from each doc's first three words, then split back — verifying the
    two-rule camel splitter against the SQL oracle."""
    from codebased_spark.operators.textops import split_identifiers

    d = _documents(spark, sf_dir)
    words = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), " +")
    w = lambda i: F.element_at(words, i)
    ident = F.concat(
        w(1),
        F.upper(F.expr("substring(element_at(split(trim(coalesce(text, '')), ' +'), 2), 1, 1)")),
        F.expr("substring(element_at(split(trim(coalesce(text, '')), ' +'), 2), 2)"),
        F.lit("_"),
        w(3),
    )
    return split_identifiers(d.select("doc_id", ident.alias("text")))


IDENTIFIER_SPLIT_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(coalesce(text, '')), ' +') AS ws
  FROM documents
),
ident AS (
  SELECT doc_id,
         ws[1] || upper(substr(ws[2], 1, 1)) || substr(ws[2], 2) || '_' || ws[3] AS t
  FROM words
),
sp AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split_regex(
             lower(regexp_replace(
               regexp_replace(t, '([a-z0-9])([A-Z])', '\1 \2', 'g'),
               '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g')),
             '[^a-z0-9]+'),
           x -> length(x) > 0)) AS subtoken
  FROM ident
)
SELECT subtoken, count(*) AS occurrences, count(distinct doc_id) AS df
FROM sp GROUP BY 1
"""


def q_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 change detection: anti-join a mutated snapshot against the
    stored (path, sha256) state — the incremental sha gate
    (codebased/index.py:457-458) as relational algebra. The mutated
    snapshot reverses every 50th doc's text, deterministically in both
    engines."""
    d = _documents(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    v2 = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 50 == 0, F.reverse(t)).otherwise(t).alias("text2"),
    )
    old = d.select("doc_id", F.sha2(t.cast("binary"), 256).alias("sha256"))
    return (
        v2.select("doc_id", F.sha2(F.col("text2").cast("binary"), 256).alias("sha256"))
        .join(old, ["doc_id", "sha256"], "left_anti")
        .select("doc_id")
    )


CHANGE_DETECTION_SQL = """
SELECT doc_id FROM documents
WHERE sha256(CASE WHEN doc_id % 50 = 0 THEN reverse(coalesce(text, ''))
                  ELSE coalesce(text, '') END) <> sha256(coalesce(text, ''))
"""


def q_events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5 streaming-shape agg: tumbling 1-hour windows per
    event type (the batch twin of the Structured Streaming watermark
    agg in streaming/incremental.py)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


EVENTS_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5 window functions: top-2 events per user by value
    (row_number over a partitioned window — the per-group top-k shape
    used for per-query branch limits in the batched search)."""
    from pyspark.sql.window import Window

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("user_id", "event_id", F.round("value", 4).alias("value"), "rn")
    )


TOPK_PER_USER_SQL = """
SELECT user_id, event_id, round(value, 4) AS value, rn
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 2
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5 set-membership joins: customers partitioned into
    has-orders / no-orders via left-semi + left-anti (the reference's
    IN-list membership at search.py:143-150 and NOT-IN sweep at
    index.py:676-690)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey")
    )
    with_o = c.join(o, "c_custkey", "left_semi").select(
        "c_custkey", F.lit("has_orders").alias("status")
    )
    without = c.join(o, "c_custkey", "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("status")
    )
    return with_o.unionAll(without)


SEMI_ANTI_SQL = """
SELECT c_custkey, 'has_orders' AS status FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'no_orders' AS status FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build a REAL posting-list index over the sf0.001
    documents corpus and run the BM25 conjunctive search through
    FtsIndex.search — the engine's pyarrow shard scan + block-local
    conjunction + two-branch merge (VERDICT r02 #5 cosmetic: the
    showcase should be the engine, not the oracle-shaped brute force).
    Metadata joined back per the reference Q4-Q7 path."""
    import shutil
    import tempfile

    from codebased_spark.plans.engine import build_index

    sf_dir = "/root/testdata/sf0.001"
    corpus = _documents_as_index_corpus(_documents(spark, sf_dir))
    idx_dir = tempfile.mkdtemp(prefix="entry_fts_idx_")
    try:
        index = build_index(spark, corpus, idx_dir, num_blocks=8)
        hits = index.search("table merge", 32)
        out = (
            index.doc_stats.select("doc_id", "path", "name")
            .join(F.broadcast(hits), "doc_id")
            .orderBy(F.desc("name_match"), F.desc("score"), F.asc("doc_id"))
            # materialize before the tmp index dir is removed
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "fts_bm25_conjunctive": _fts_query(["table", "merge"], named=False, top_k=K_ALL),
        "fts_bm25_phrase": _fts_query(["fast table"], named=False, top_k=K_ALL),
        "fts_bm25_named_branch": _fts_query(["table"], named=True, top_k=K_ALL),
        "fts_bm25_rare_phrase": _fts_query(["customer query"], named=False, top_k=K_ALL),
        "fts_bm25_index_path": q_fts_index_path,
        "fts_bm25_direct_path": q_fts_direct_path,
        "fts_bm25_hot_covered": q_fts_hot_covered,
        "fts_bm25_after_commit": q_fts_after_commit,
        "trigram_document_frequency": q_trigram_df,
        "hot_phrase_mining": q_hot_phrase_mining,
        "doc_digest_fingerprint": q_doc_digest,
        "dedup_exact": q_dedup_exact,
        "dedup_prefix_key": q_dedup_prefix,
        "jaccard_to_probe": q_jaccard_probe,
        "minhash_signatures": q_minhash,
        "cosine_similarity": q_cosine_topk,
        "token_stats": q_token_stats,
        "quality_scores": q_quality,
        "lang_marker_scores": q_lang_scores,
        "simhash64": q_simhash,
        "lsh_candidate_pairs": q_lsh_pairs,
        "ann_topk_lsh": q_ann_lsh,
        "media_features_cosine": q_media_features,
        "video_frame_sample": q_video_frame_sample,
        "change_detection": q_change_detection,
        "identifier_split": q_identifier_split,
        "events_windowed_agg": q_events_windowed_agg,
        "topk_per_user": q_topk_per_user,
        "semi_anti_join": q_semi_anti_join,
        "cosine_near_dup_pairs": q_cosine_pairs,
        "sessionize_events": q_sessionize,
        "curate_corpus": q_curate,
        "ann_topk_ivf": q_ann_ivf,
        "windowed_event_counts": q_windowed_counts,
        "duplicate_ngram_spans": q_dup_ngram_spans,
        "duplicate_ngram_spans_digest": q_dup_ngram_spans_digest,
        "benchmark_contamination": q_contamination,
        "benchmark_contamination_digest": q_contamination_digest,
        "pii_scrub": q_pii_scrub,
        "dataset_split": q_dataset_split,
        "repetition_ratios": q_repetition,
    }


def oracle_sql() -> dict[str, str]:
    # the media oracles read fixed parquet paths — make sure they exist
    # even if the harness runs SQL before (or without) the Spark query
    _ensure_media_gate_files()
    return {
        "fts_bm25_conjunctive": _bm25_sql(["table", "merge"], named=False, top_k=K_ALL),
        "fts_bm25_phrase": _bm25_sql(["fast table"], named=False, top_k=K_ALL),
        "fts_bm25_named_branch": _bm25_sql(["table"], named=True, top_k=K_ALL),
        "fts_bm25_rare_phrase": _bm25_sql(["customer query"], named=False, top_k=K_ALL),
        "fts_bm25_index_path": _bm25_sql(["value"], named=False, top_k=K_ALL),
        # same oracle: the direct path must be value-identical
        "fts_bm25_direct_path": _bm25_sql(["value"], named=False, top_k=K_ALL),
        "fts_bm25_after_commit": _bm25_sql(["table", "merge"], named=False,
                                           top_k=K_ALL),
        "fts_bm25_hot_covered": _bm25_sql(["table", "merge"], named=False,
                                          top_k=K_ALL),
        "trigram_document_frequency": TRIGRAM_DF_SQL,
        "hot_phrase_mining": HOT_PHRASE_MINING_SQL,
        "doc_digest_fingerprint": DOC_DIGEST_SQL,
        "dedup_exact": DEDUP_EXACT_SQL,
        "dedup_prefix_key": DEDUP_PREFIX_SQL,
        "jaccard_to_probe": JACCARD_SQL,
        "minhash_signatures": _minhash_sql(4),
        "cosine_similarity": COSINE_SQL,
        "token_stats": TOKEN_STATS_SQL,
        "quality_scores": QUALITY_SQL,
        "lang_marker_scores": LANG_SQL,
        "change_detection": CHANGE_DETECTION_SQL,
        "identifier_split": IDENTIFIER_SPLIT_SQL,
        "events_windowed_agg": EVENTS_WINDOW_SQL,
        "topk_per_user": TOPK_PER_USER_SQL,
        "semi_anti_join": SEMI_ANTI_SQL,
        "cosine_near_dup_pairs": COSINE_PAIRS_SQL,
        "sessionize_events": SESSIONIZE_SQL,
        "curate_corpus": CURATE_SQL,
        "ann_topk_ivf": COSINE_SQL,  # nprobe == n_lists -> exact ranking
        "windowed_event_counts": WINDOWED_COUNTS_SQL,
        # r3: the three formerly rows-only hash-dependent entries now
        # have full oracles — the engine's band buckets / simhash /
        # hyperplane signatures are portable arithmetic by construction.
        "simhash64": _simhash_sql(),
        "lsh_candidate_pairs": _lsh_pairs_sql(),
        "ann_topk_lsh": _ann_lsh_sql(),
        "duplicate_ngram_spans": DUP_NGRAM_SQL,
        "duplicate_ngram_spans_digest": DUP_NGRAM_DIGEST_SQL,
        "benchmark_contamination": CONTAMINATION_SQL,
        # digest mode changes shuffle bytes, not values — same oracle
        "benchmark_contamination_digest": CONTAMINATION_SQL,
        "pii_scrub": PII_SQL,
        "dataset_split": DATASET_SPLIT_SQL,
        "repetition_ratios": REPETITION_SQL,
        # r4: the media entries are fully oracled — the gate persists
        # the deterministic media table + projection to parquet so
        # DuckDB recomputes the byte-histogram features, cosine top-10,
        # and frame-stride arithmetic from the same bytes.
        "media_features_cosine": MEDIA_FEATURES_SQL,
        "video_frame_sample": VIDEO_FRAMES_SQL,
    }
