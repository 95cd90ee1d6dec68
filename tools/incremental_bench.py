"""Incremental-update benchmark (VERDICT r04 #7): S6-S12 are
correctness-tested but were never timed. Measures, at ~200k files:

- commit latency for a 1%-changed batch (sha gate -> re-chunk ->
  append postings -> tombstone superseded docs -> exact stats update
  -> phrase-df delta rebuild), and
- the no-op commit (same batch re-applied: every sha matches, the
  gate passes nothing through),

the distributed analogue of the reference's "updates in real-time"
claim (codebased/background_worker.py debounce loop). Query latency is
sampled after the commit to show the index stays serviceable.

Usage: python tools/incremental_bench.py [n_files] [change_pct]
Env:   SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SF_DIR
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    change_pct = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from codebased_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from codebased_spark.operators.phrasedf import (
        build_phrase_df,
        hot_phrases_from_corpus,
    )
    from codebased_spark.plans.engine import build_index
    from codebased_spark.sources.corpus import documents_as_corpus, gen_corpus
    from codebased_spark.streaming.incremental import (
        incremental_update,
        tombstone_ratio,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    corpus_dir = os.path.join(tempfile.gettempdir(), f"scale_corpus_{n_files}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        shutil.rmtree(corpus_dir, ignore_errors=True)
        docs = documents_as_corpus(spark, sf_dir)
        synth = gen_corpus(
            spark, n_repos=max(1, (n_files - docs.count()) // 10),
            files_per_repo=10)
        docs.unionByName(synth).write.mode("overwrite").parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)

    idx_dir = os.path.join(tempfile.gettempdir(), f"incr_idx_{n_files}")
    shutil.rmtree(idx_dir, ignore_errors=True)
    num_blocks = max(32, n_files // 6250)
    t0 = time.time()
    index = build_index(spark, corpus, idx_dir, num_blocks=num_blocks)
    build_sec = round(time.time() - t0, 3)
    # setup cost only (not a reported metric): sampled candidate pass
    mined = hot_phrases_from_corpus(corpus, top_n=64, sample_fraction=0.25)
    build_phrase_df(spark, index, mined)

    # the changed batch: a deterministic ~change_pct% of paths get new
    # content (old docs must be tombstoned, new docs appended)
    mod = int(round(100.0 / change_pct))
    changed = corpus.filter(
        F.pmod(F.xxhash64("repo", "path"), F.lit(mod)) == 0
    ).withColumn(
        "content", F.concat(F.col("content"), F.lit("\n// touched v2"))
    ).localCheckpoint(eager=True)
    n_changed = changed.count()

    breakdown: dict = {}
    t0 = time.time()
    index2 = incremental_update(
        spark, idx_dir, changed, stage_timings=breakdown)
    commit_sec = round(time.time() - t0, 3)
    assert index2.phrase_dfs, "phrase-df table must survive the commit"
    assert index2.n_docs == index.n_docs, "upsert must not change doc count"

    # the same batch again: every sha matches, the gate passes nothing
    noop_breakdown: dict = {}
    t0 = time.time()
    index3 = incremental_update(
        spark, idx_dir, changed, stage_timings=noop_breakdown)
    noop_sec = round(time.time() - t0, 3)

    # the POST-COMMIT FIRST query, before any warmup — the reload
    # cold-start the r05 artifact flagged (3.14 s vs ~0.9 steady)
    t = time.time()
    index3.search("hello world", 32).count()
    q_cold_first_sec = round(time.time() - t, 3)
    index3.clear_search_cache()

    index3.search("warmup", 10).collect()
    q_times = {}
    for name, q in [("q_common", "table merge"), ("q_hot", "hello world"),
                    ("q_touched", "touched")]:
        t = time.time()
        n = index3.search(q, 32).count()
        q_times[name] = {"sec": round(time.time() - t, 3), "hits": int(n)}
    # the touched marker must be findable -> new content is live
    assert q_times["q_touched"]["hits"] > 0

    print(json.dumps({
        "metric": "incremental_commit",
        "files": int(index.n_docs),
        "initial_build_sec": build_sec,
        "changed_files": int(n_changed),
        "change_pct": change_pct,
        "commit_sec": commit_sec,
        "commit_breakdown": breakdown,
        "commit_files_per_sec": round(n_changed / commit_sec, 1),
        "noop_commit_sec": noop_sec,
        "noop_breakdown": noop_breakdown,
        "post_commit_first_query_sec": q_cold_first_sec,
        "tombstone_ratio": round(tombstone_ratio(index3), 4),
        "phrase_df_rebuilt": bool(index2.phrase_dfs),
        "queries_after_commit": q_times,
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
