"""The shared n-gram window, trigram code and hash key
(operators/textops.py) on text that is not ASCII, checked against the
DuckDB oracles, and their cost on one long document."""

import random
import string
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# Left out on purpose: characters whose lowercase differs between Java,
# Python and DuckDB (e.g. 'İ' lowers to two code points in Java and
# Python, 'ẞ' lowers differently per engine) — the oracle would then
# disagree on the text itself, not on the operators.
_PAIR = ("Сегодня утром мы снова проверяем как движок считает триграммы "
         "для текста на русском языке и сравниваем результат с эталоном "
         "из другой базы данных чтобы убедиться что коды совпадают везде "
         "даже на длинных документах с повторами")
_MIXED = ("the café on the corner serves crème brûlée and “fresh” bread "
          "every morning while the old man reads his newspaper and the "
          "dog sleeps under the table near the warm window 😀 until noon")
UNICODE_DOCS = [
    (0, "Привет Мир, это ТЕСТ: привет мир снова и снова"),  # mixed-case Cyrillic
    (1, "漢字のテスト文字列です。漢字とかなの混在テキスト"),  # CJK
    (2, "say “hi” now and “bye” later, “quoted” words"),
    (3, "ok 😀 ok 😀😀 done with emoji 🚀 here"),  # supplementary plane
    (4, "À la carte: ÀÉÎ café crème brûlée"),
    (5, "line one\nline two\nline three\nline four"),
    (6, "ab"),
    (7, ""),
    (8, None),
    # near-identical pairs that differ in their 2nd word, so the prefix
    # rule keeps both and only MinHash-LSH pairs them
    (9, _PAIR),
    (10, _PAIR.replace("утром", "вечером", 1)),
    (11, "мир мир мир мир мир мир мир мир мир мир"),
    (12, _MIXED),
    (13, _MIXED.replace("café", "bistro", 1)),
]
GATE_ENTRIES = [
    "doc_digest_fingerprint", "jaccard_to_probe", "minhash_signatures",
    "simhash64", "lsh_candidate_pairs", "trigram_document_frequency",
    "repetition_ratios", "duplicate_ngram_spans", "curate_corpus",
    "quality_scores",
]


def _write_docs(path, rows):
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": pa.array([r[1] for r in rows], pa.string())}),
        path / "documents.parquet",
    )
    return str(path)


@pytest.fixture(scope="module")
def unicode_sf(tmp_path_factory):
    return _write_docs(tmp_path_factory.mktemp("unicode_sf"), UNICODE_DOCS)


@pytest.mark.parametrize("name", GATE_ENTRIES)
def test_gate_entry_matches_oracle_on_unicode(spark, unicode_sf, name):
    import duckdb

    import __spark_entry__ as entry
    from tools.check_entry import normalize

    got = normalize(entry.queries()[name](spark, unicode_sf).toArrow())
    con = duckdb.connect()
    con.execute("create view documents as select * from "
                f"read_parquet('{unicode_sf}/documents.parquet')")
    want = normalize(con.execute(entry.oracle_sql()[name]).arrow())
    assert got, name  # the corpus exercises the entry
    assert got == want


def test_curate_near_dup_on_unicode(spark, unicode_sf):
    """curate_corpus(near_dup=True) runs on non-ASCII text, and its
    near_duplicate_minhash docs are exactly the lsh_candidate_pairs
    doc_bs that no earlier rule dropped."""
    from codebased_spark.operators.curate import curate_corpus
    from codebased_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.read.parquet(f"{unicode_sf}/documents.parquet")
    plain = {r["doc_id"]: r["drop_reason"] for r in curate_corpus(docs).collect()}
    # letters and digits of every script count as text, not punctuation
    assert all(plain[d] is None for d in (0, 1, 9, 10, 11))
    doc_bs = {r["doc_b"] for r in lsh_candidate_pairs(docs).collect()}
    survivors = {d for d in doc_bs if plain[d] is None}
    assert survivors == {10, 13}

    nd = {r["doc_id"]: (r["keep"], r["drop_reason"])
          for r in curate_corpus(docs, near_dup=True).collect()}
    assert {d for d, (_, why) in nd.items()
            if why == "near_duplicate_minhash"} == survivors
    assert all(nd[d] == (False, "near_duplicate_minhash") for d in survivors)
    assert all(nd[d][1] == plain[d] for d in nd if d not in survivors)


def _long_text(n_words=20000, seed=7):
    rng = random.Random(seed)
    vocab = ["".join(rng.choice(string.ascii_lowercase)
                     for _ in range(rng.randint(2, 7))) for _ in range(2000)]
    return " ".join(rng.choice(vocab) for _ in range(n_words))


def _long_ops():
    from codebased_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from codebased_spark.operators.textops import (
        trigram_document_frequency,
        trigram_fingerprint,
    )
    from codebased_spark.operators.trainprep import (
        duplicate_ngram_spans,
        repetition_ratios,
    )

    return {
        "minhash_signatures": lambda d: minhash_signatures(d, n_hashes=16),
        "lsh_candidate_pairs": lsh_candidate_pairs,
        "trigram_fingerprint": trigram_fingerprint,
        "trigram_document_frequency": trigram_document_frequency,
        "repetition_ratios": repetition_ratios,
        "duplicate_ngram_spans": duplicate_ngram_spans,
    }


@pytest.fixture(scope="module")
def long_doc_dir(tmp_path_factory):
    text = _long_text()
    assert 90_000 < len(text) < 130_000
    return _write_docs(tmp_path_factory.mktemp("long_doc"), [(0, text)])


@pytest.mark.parametrize("op", sorted(_long_ops()))
def test_text_operator_is_linear_on_one_long_document(spark, long_doc_dir, op):
    """One ~110k-char (20k-word) document: a window that re-reads the
    string or word array per position takes from half a minute to
    several minutes here; the zipped-slice window takes seconds."""
    docs = spark.read.parquet(f"{long_doc_dir}/documents.parquet")
    t0 = time.perf_counter()
    _long_ops()[op](docs).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    assert elapsed < 15.0, (op, elapsed)
