"""Term->block presence manifest (operators/presence.py): shard
pruning must be exact (pruned == unpruned, bit for bit), safely
degraded (uncovered blocks always scanned, any failure -> scan all),
delta-maintained by commits, and able to prove a no-hit query empty
with zero reads."""

import os

import pytest
from pyspark.sql import functions as F

from codebased_spark.functions.fts5 import pack_trigram
from codebased_spark.operators.presence import (
    TermBlocks,
    load_term_blocks,
    update_term_blocks,
)
from codebased_spark.operators.query import (
    _prune_posting_files,
    search_index,
    search_index_files_batch,
)
from codebased_spark.plans.engine import FtsIndex, build_index
from codebased_spark.sources.corpus import CORPUS_SCHEMA, fixture_corpus

QUERIES = [
    "hello world",            # common multi-trigram
    '"hello world" server',   # two phrases
    "wor",                    # single trigram
    "index.js",               # name/path hit
    "zqxjkwv",                # occurs nowhere
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("presence") / "idx")
    index = build_index(spark, fixture_corpus(spark), idx_dir, num_blocks=4)
    return index, idx_dir


def _rows(df):
    return [(int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]),
             float(r["score"])) for r in df.collect()]


def _pruned_and_unpruned(spark, index, query, presence):
    """One query's rows through the shard scan with presence pruning on
    both feeders, and through the generic DataFrame scan — an
    independent path that reads every block (no shard list at all)."""
    pruned = [
        _rows(search_index_files_batch(
            spark, index.posting_files, [query], index.n_docs, index.avgdl,
            10, presence=presence, direct=direct).drop("qid"))
        for direct in (True, False)
    ]
    generic = _rows(search_index(
        index.postings, query, index.n_docs, index.avgdl, 10))
    return pruned, generic


def test_build_creates_manifest_and_matches_bruteforce(spark, built):
    index, idx_dir = built
    tb = index.term_blocks
    assert tb is not None
    # ground truth straight from the posting shards
    truth = {}
    for r in (
        spark.read.parquet(os.path.join(idx_dir, "postings"))
        .select("pblock", "term").distinct().collect()
    ):
        truth.setdefault(int(r["term"]), set()).add(int(r["pblock"]))
    terms = list(truth)
    got = tb.blocks_for(terms)
    for t in terms:
        assert got[t] == truth[t], t
    # every shard on disk is covered right after a full build
    assert {pb for pb, _ in index.posting_files} <= tb.covered
    # a term that exists nowhere maps to the empty set
    assert tb.blocks_for([pack_trigram("zzq")])[pack_trigram("zzq")] == frozenset()


@pytest.mark.parametrize("query", QUERIES)
def test_pruned_search_bit_identical(spark, built, query):
    index, _ = built
    pruned, generic = _pruned_and_unpruned(spark, index, query,
                                           index.term_blocks)
    assert pruned == [generic, generic]


def test_pruned_batch_bit_identical(spark, built):
    index, _ = built
    base = search_index_files_batch(
        spark, index.posting_files, QUERIES, index.n_docs, index.avgdl, 10)
    pruned = search_index_files_batch(
        spark, index.posting_files, QUERIES, index.n_docs, index.avgdl, 10,
        presence=index.term_blocks)
    key = lambda r: (int(r["qid"]), int(r["doc_id"]))  # noqa: E731
    assert sorted(map(tuple, pruned.collect()), key=lambda t: (t[0], t[1])) == \
        sorted(map(tuple, base.collect()), key=lambda t: (t[0], t[1]))


def test_absent_phrase_is_provably_empty_zero_reads(built):
    """A phrase whose trigrams occur in no covered block AND-fails the
    whole query before any file is touched."""
    index, _ = built
    term_ids = [[pack_trigram("zzq"), pack_trigram("zqx")],
                [pack_trigram("hel")]]
    files = _prune_posting_files(
        index.posting_files, term_ids, None, index.term_blocks)
    assert files == []
    assert _rows(index.search("zzqzqx hello", 10)) == []


def test_prune_semantics_union_vs_intersection():
    """Uncovered query keeps the union of per-phrase trigram
    intersections (df stats for each phrase must stay exact); a
    covered query keeps only the full intersection."""
    tb = TermBlocks("/nonexistent", covered=[0, 1, 2, 3])
    tb._cache = {
        10: frozenset({0, 1}), 11: frozenset({1, 2}),  # phrase A -> {1}
        20: frozenset({3}),                            # phrase B -> {3}
    }
    files = [(pb, f"p{pb}") for pb in range(4)]
    term_ids = [[10, 11], [20]]
    assert _prune_posting_files(files, term_ids, None, tb) == [
        (1, "p1"), (3, "p3")]
    # covered: docs must hold every phrase -> {1} & {3} == {} -> nothing
    known = ([1.0, 1.0], [0.0, 0.0])
    assert _prune_posting_files(files, term_ids, known, tb) == []


def test_uncovered_blocks_always_scanned():
    tb = TermBlocks("/nonexistent", covered=[0, 1])
    tb._cache = {10: frozenset()}
    files = [(0, "p0"), (1, "p1"), (5, "p5")]  # 5 committed after manifest
    # term absent from every covered block, but block 5 might hold it
    assert _prune_posting_files(files, [[10]], None, tb) == [(5, "p5")]
    # ...and with no uncovered block the query is provably empty
    assert _prune_posting_files([(0, "p0"), (1, "p1")], [[10]], None, tb) == []


def test_trigramless_phrase_degrades_to_full_scan():
    """A phrase shorter than 3 chars has no trigrams, so presence has
    no information about it — pruning must keep every shard instead of
    crashing (direct callers like bench.py feed raw phrase_terms()
    output, which is [] for such phrases)."""
    tb = TermBlocks("/nonexistent", covered=[0, 1])
    tb._cache = {10: frozenset({0})}
    files = [(0, "p0"), (1, "p1")]
    assert _prune_posting_files(files, [[]], None, tb) == files
    assert _prune_posting_files(files, [[10], []], None, tb) == files
    assert _prune_posting_files(files, [], None, tb) == files
    known = ([1.0], [0.0])
    assert _prune_posting_files(files, [[]], known, tb) == files


def _write_tb_parquet(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"term": pa.array([t for t, _ in rows], pa.int64()),
                  "blocks": pa.array([b for _, b in rows],
                                     pa.list_(pa.int32()))}),
        os.path.join(path, "part-0.parquet"))


def test_dense_sentinel_resolves_to_covered(tmp_path):
    """[DENSE_SENTINEL] rows resolve to the CURRENT covered set, on
    both the lazy and the preload read path, and union correctly with
    exact rows from other generations."""
    from codebased_spark.operators.presence import DENSE_SENTINEL

    d = str(tmp_path / "tb")
    os.makedirs(d)
    _write_tb_parquet(d, [(10, [DENSE_SENTINEL]), (11, [0, 2]),
                          (12, [DENSE_SENTINEL]), (12, [1])])
    covered = [0, 1, 2, 3]
    for preload in (False, True):
        tb = TermBlocks(d, covered=covered, preload=preload)
        got = tb.blocks_for([10, 11, 12, 99])
        assert got[10] == frozenset(covered)
        assert got[11] == frozenset({0, 2})
        assert got[12] == frozenset(covered)  # any generation dense
        assert got[99] == frozenset()


def test_dense_terms_capped_at_build(spark, tmp_path):
    """A full build over >= MIN_BLOCKS_FOR_DENSE blocks stores dense
    terms as the sentinel (bounding the table at scale) while search
    stays bit-identical to the unpruned scan."""
    from codebased_spark.operators.presence import (
        DENSE_SENTINEL,
        MIN_BLOCKS_FOR_DENSE,
    )
    from codebased_spark.sources.corpus import gen_corpus

    idx_dir = str(tmp_path / "idx")
    n_blocks = MIN_BLOCKS_FOR_DENSE
    index = build_index(spark, gen_corpus(spark, 12, 10, seed=7), idx_dir,
                        num_blocks=n_blocks)
    tb = index.term_blocks
    assert tb is not None and len(tb.covered) == n_blocks
    # the corpus generator's shared vocabulary makes some trigrams
    # dense by construction — they must be stored as the sentinel
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(idx_dir, "term_blocks"))
    stored = {int(t): [int(b) for b in bl] for t, bl in
              zip(tbl["term"].to_pylist(), tbl["blocks"].to_pylist())}
    dense = [t for t, bl in stored.items() if bl == [DENSE_SENTINEL]]
    assert dense, "shared vocab must produce at least one dense term"
    # no stored exact array may reach the dense cutoff
    cutoff = -(-n_blocks // 2)  # ceil(0.5 * n)
    assert all(len(bl) < cutoff for t, bl in stored.items()
               if bl != [DENSE_SENTINEL])
    # dense terms resolve to every covered block
    got = tb.blocks_for(dense[:3])
    assert all(got[t] == tb.covered for t in dense[:3])
    # and pruned search through the dense-capped table is bit-identical
    for query in ("hello world", "zqxjkwv"):
        pruned, generic = _pruned_and_unpruned(spark, index, query, tb)
        assert pruned == [generic, generic]


def test_dense_cap_applies_to_large_deltas(spark, tmp_path):
    """A commit appending >= MIN_BLOCKS_FOR_DENSE blocks judges density
    against ITS OWN scanned blocks and writes sentinel rows for its
    dense terms (an over-approximation against the full covered set —
    pruning-safe); search through the mixed exact+sentinel table stays
    correct. A commit appends as many blocks as the index has, so the
    index has MIN_BLOCKS_FOR_DENSE blocks, built from two files: none
    of its terms can be dense."""
    import pyarrow.parquet as pq

    from codebased_spark.operators.presence import (
        DENSE_SENTINEL,
        MIN_BLOCKS_FOR_DENSE,
    )
    from codebased_spark.sources.corpus import ALL_FIXTURES, gen_corpus
    from codebased_spark.streaming.incremental import incremental_update

    idx_dir = str(tmp_path / "idx")
    build_index(spark, fixture_corpus(spark, ALL_FIXTURES[:2]), idx_dir,
                num_blocks=MIN_BLOCKS_FOR_DENSE)
    before = {os.path.basename(p) for p in
              os.listdir(os.path.join(idx_dir, "term_blocks"))
              if p.endswith(".parquet")}
    batch = fixture_corpus(spark).unionByName(
        gen_corpus(spark, 10, 12, seed=3).withColumn(
            "path", F.concat(F.lit("new/"), F.col("path"))))
    idx = incremental_update(spark, idx_dir, batch)
    tb = idx.term_blocks
    assert {pb for pb, _ in idx.posting_files} <= tb.covered
    # the delta file (and only it) must hold sentinel rows
    delta_sentinels = exact_sentinels = 0
    for p in os.listdir(os.path.join(idx_dir, "term_blocks")):
        if not p.endswith(".parquet"):
            continue
        bl = pq.read_table(
            os.path.join(idx_dir, "term_blocks", p))["blocks"].to_pylist()
        n = sum(1 for b in bl if b == [DENSE_SENTINEL])
        if os.path.basename(p) in before:
            exact_sentinels += n
        else:
            delta_sentinels += n
    assert exact_sentinels == 0 and delta_sentinels > 0
    # mixed-generation lookups and search stay correct
    assert len(idx.search("hello world", 10).collect()) > 0
    # add-only commit: no deletes to pass
    pruned, generic = _pruned_and_unpruned(spark, idx, "hello world", tb)
    assert pruned == [generic, generic]


def test_small_writes_stay_exact(built):
    """Below MIN_BLOCKS_FOR_DENSE the table stores exact arrays — the
    4-block fixture must contain no sentinel rows (a tiny delta must
    never mark its whole term set dense)."""
    import pyarrow.parquet as pq

    from codebased_spark.operators.presence import DENSE_SENTINEL

    _, idx_dir = built
    tbl = pq.read_table(os.path.join(idx_dir, "term_blocks"))
    assert all(DENSE_SENTINEL not in bl
               for bl in tbl["blocks"].to_pylist())


def test_lookup_failure_degrades_to_full_scan(built):
    index, _ = built

    class Broken:
        covered = frozenset({pb for pb, _ in index.posting_files})

        def blocks_for(self, terms):
            raise OSError("store unreachable")

    files = _prune_posting_files(
        index.posting_files, [[pack_trigram("hel")]], None, Broken())
    assert files == index.posting_files


def test_incremental_commit_extends_coverage(spark, tmp_path):
    """A commit delta-extends the manifest: new blocks become covered
    and their (previously unseen) terms resolve; queries stay correct
    through the reloaded index (which prunes by default)."""
    idx_dir = str(tmp_path / "idx")
    from codebased_spark.streaming.incremental import incremental_update

    v1 = [("r", "a.py", "c" * 40, "python", "alpha bravo common")]
    v2 = [("r", "a.py", "c" * 40, "python", "alpha bravo common"),
          ("r", "b.py", "d" * 40, "python", "zulu yankee common")]
    build_index(spark, spark.createDataFrame(v1, CORPUS_SCHEMA), idx_dir,
                num_blocks=2)
    idx = incremental_update(
        spark, idx_dir, spark.createDataFrame(v2, CORPUS_SCHEMA))
    tb = idx.term_blocks
    assert tb is not None
    assert {pb for pb, _ in idx.posting_files} <= tb.covered
    t_new = pack_trigram("zul")
    assert tb.blocks_for([t_new])[t_new], "new block's term must resolve"
    hits = idx.search("zulu", 10).collect()
    assert len(hits) == 1
    assert len(idx.search("alpha", 10).collect()) == 1
    assert len(idx.search("common", 10).collect()) == 2


def test_commit_without_update_degrades_not_breaks(spark, tmp_path, monkeypatch):
    """If the presence update is skipped (crash window), the new blocks
    are uncovered -> always scanned -> results stay correct."""
    import codebased_spark.operators.presence as presence_mod

    idx_dir = str(tmp_path / "idx")
    from codebased_spark.streaming.incremental import incremental_update

    v1 = [("r", "a.py", "c" * 40, "python", "alpha bravo common")]
    v2 = [("r", "a.py", "c" * 40, "python", "alpha bravo common"),
          ("r", "b.py", "d" * 40, "python", "zulu yankee common")]
    build_index(spark, spark.createDataFrame(v1, CORPUS_SCHEMA), idx_dir,
                num_blocks=2)
    monkeypatch.setattr(presence_mod, "update_term_blocks",
                        lambda *a, **k: None)
    idx = incremental_update(
        spark, idx_dir, spark.createDataFrame(v2, CORPUS_SCHEMA))
    tb = idx.term_blocks
    assert tb is not None
    new_blocks = {pb for pb, _ in idx.posting_files} - tb.covered
    assert new_blocks, "the commit's fresh blocks must be uncovered"
    # a term living only in the uncovered block is still found
    assert len(idx.search("zulu", 10).collect()) == 1
    assert len(idx.search("common", 10).collect()) == 2
    # ...and a later explicit delta update repairs coverage
    update_term_blocks(spark, idx_dir, idx.fs)
    idx2 = FtsIndex(spark, idx_dir)
    assert {pb for pb, _ in idx2.posting_files} <= idx2.term_blocks.covered
    assert len(idx2.search("zulu", 10).collect()) == 1


def test_missing_or_corrupt_manifest_disables(spark, built, tmp_path):
    index, idx_dir = built
    # corrupt manifest -> load returns None (index still opens + works)
    man = os.path.join(idx_dir, "_manifest", "term_blocks.json")
    good = open(man).read()
    try:
        with open(man, "w") as f:
            f.write("{not json")
        idx = FtsIndex(spark, idx_dir)
        assert idx.term_blocks is None
        assert len(_rows(idx.search("hello world", 10))) > 0
    finally:
        with open(man, "w") as f:
            f.write(good)
    assert load_term_blocks(FtsIndex(spark, idx_dir)) is not None


def test_noop_commit_short_circuits(spark, tmp_path):
    """A fully sha-gated non-snapshot batch must change nothing and
    write no incremental manifest (the ~9 s fixed-floor fix)."""
    from codebased_spark.streaming.incremental import incremental_update

    idx_dir = str(tmp_path / "idx")
    v1 = spark.createDataFrame(
        [("r", "a.py", "c" * 40, "python", "alpha bravo common")],
        CORPUS_SCHEMA)
    build_index(spark, v1, idx_dir, num_blocks=2)
    man_before = sorted(os.listdir(os.path.join(idx_dir, "_manifest")))
    idx = incremental_update(spark, idx_dir, v1)
    assert idx.n_docs == 1
    assert sorted(os.listdir(os.path.join(idx_dir, "_manifest"))) == man_before
    assert len(idx.search("alpha", 10).collect()) == 1


def test_crashed_update_self_heals_on_next_commit(spark, tmp_path, monkeypatch):
    """Blocks left uncovered by a crashed presence update are picked up
    by the NEXT commit's delta update (coverage derives from the
    manifest, not the commit's offset)."""
    import codebased_spark.operators.presence as presence_mod

    idx_dir = str(tmp_path / "idx")
    from codebased_spark.streaming.incremental import incremental_update

    v1 = [("r", "a.py", "c" * 40, "python", "alpha common")]
    v2 = v1 + [("r", "b.py", "d" * 40, "python", "zulu common")]
    v3 = v2 + [("r", "c.py", "e" * 40, "python", "quebec common")]
    build_index(spark, spark.createDataFrame(v1, CORPUS_SCHEMA), idx_dir,
                num_blocks=2)
    # commit 1: presence update crashes (skipped)
    monkeypatch.setattr(presence_mod, "update_term_blocks",
                        lambda *a, **k: None)
    incremental_update(spark, idx_dir, spark.createDataFrame(v2, CORPUS_SCHEMA))
    monkeypatch.undo()
    # commit 2: normal — must cover commit 1's blocks too
    idx = incremental_update(
        spark, idx_dir, spark.createDataFrame(v3, CORPUS_SCHEMA))
    tb = idx.term_blocks
    assert {pb for pb, _ in idx.posting_files} <= tb.covered
    t_zul = pack_trigram("zul")
    assert tb.blocks_for([t_zul])[t_zul], "commit-1 block healed"
    assert len(idx.search("zulu", 10).collect()) == 1
    assert len(idx.search("quebec", 10).collect()) == 1
    assert len(idx.search("common", 10).collect()) == 3


def test_driver_and_spark_builds_agree(spark, tmp_path, monkeypatch):
    """The r7 driver-side pyarrow presence build (local stores under
    the shard gate) must produce the same reader-visible table as the
    Spark-job path: same term set, same block sets, same dense
    sentinels — full build AND delta append."""
    import codebased_spark.operators.presence as presence_mod
    from codebased_spark.operators.presence import (
        build_term_blocks,
        load_term_blocks,
    )
    from codebased_spark.streaming.incremental import incremental_update

    rows = [("r", f"f{i}.py", "c" * 40, "python",
             f"alpha{i % 3} shared common words here {i}")
            for i in range(30)]
    batch2 = rows + [("r", "new.py", "d" * 40, "python", "zebra shared")]

    def snapshot(idx_dir):
        idx = FtsIndex(spark, idx_dir)
        tb = load_term_blocks(idx)
        assert tb is not None
        import pyarrow.parquet as pq

        tbl = pq.read_table(os.path.join(idx_dir, "term_blocks"))
        terms = sorted(set(tbl["term"].to_pylist()))
        return {int(t): sorted(tb.blocks_for([t])[int(t)]) for t in terms}

    out = {}
    for label, gate in (("driver", 256), ("spark", 0)):
        monkeypatch.setattr(presence_mod, "PRESENCE_DRIVER_MAX_SHARDS", gate)
        idx_dir = str(tmp_path / f"idx_{label}")
        build_index(spark, spark.createDataFrame(rows, CORPUS_SCHEMA),
                    idx_dir, num_blocks=4)
        full = snapshot(idx_dir)
        incremental_update(
            spark, idx_dir, spark.createDataFrame(batch2, CORPUS_SCHEMA))
        out[label] = (full, snapshot(idx_dir))
    assert out["driver"][0] == out["spark"][0], "full build diverged"
    assert out["driver"][1] == out["spark"][1], "delta append diverged"
