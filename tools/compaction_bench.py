"""Compaction economics (VERDICT r06 "Next round" #7): compact_index
is correctness-tested but its cost/benefit was never measured. For
each tombstone ratio, this builds the ratio by committing a
content-touch batch to a copy of one shared base index, then measures:

- the commit that created the garbage (context),
- tombstone_ratio as the operator would read it,
- query p50 on the tombstoned index vs after compaction (interleaved
  per ratio: tombstoned arm and compacted arm alternate reps),
- compact_index duration (a full rebuild of live paths + dir swap),
- store bytes and shard counts before/after,
- whether the hot-phrase table survives (commits and compaction keep it).

Usage: python tools/compaction_bench.py [n_files] [ratios_pct...]
Defaults: 200000 1 10 30. Prints one JSON line.
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

QUERIES = ["table merge", '"customer query"', "spark stream window",
           "value", "hello world"]


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    ratios = [float(a) for a in sys.argv[2:]] or [1.0, 10.0, 30.0]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from codebased_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from codebased_spark.operators.phrasedf import build_phrase_df
    from codebased_spark.plans.engine import FtsIndex, build_index
    from codebased_spark.sources.corpus import documents_as_corpus, gen_corpus
    from codebased_spark.streaming.incremental import (
        compact_index,
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

    base_dir = os.path.join(tempfile.gettempdir(), f"compact_base_{n_files}")
    shutil.rmtree(base_dir, ignore_errors=True)
    t0 = time.time()
    base = build_index(spark, corpus, base_dir, num_blocks=32)
    build_sec = round(time.time() - t0, 3)
    build_phrase_df(spark, base, ["hello world", "customer query"])

    def dir_stats(d):
        total = 0
        shards = 0
        for root, _dn, fns in os.walk(os.path.join(d, "postings")):
            for fn in fns:
                if fn.endswith(".parquet"):
                    shards += 1
                    total += os.path.getsize(os.path.join(root, fn))
        return {"posting_bytes": total, "n_shards": shards}

    def p50(index, reps=2):
        times = []
        for q in QUERIES:
            best = None
            for _ in range(reps):
                index.clear_search_cache()
                t = time.time()
                index.search(q, 32).collect()
                el = time.time() - t
                best = el if best is None or el < best else best
            times.append(best)
        times.sort()
        return round(times[len(times) // 2], 3)

    out = {}
    for pct in ratios:
        d = os.path.join(tempfile.gettempdir(), f"compact_r{pct}_{n_files}")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(base_dir, d)
        mod = int(round(100.0 / pct))
        changed = corpus.filter(
            F.pmod(F.xxhash64("repo", "path"), F.lit(mod)) == 0
        ).withColumn(
            "content", F.concat(F.col("content"), F.lit("\n// touched v2"))
        )
        live_corpus = corpus.withColumn(
            "content",
            F.when(F.pmod(F.xxhash64("repo", "path"), F.lit(mod)) == 0,
                   F.concat(F.col("content"), F.lit("\n// touched v2"))
                   ).otherwise(F.col("content")),
        )
        t0 = time.time()
        idx = incremental_update(spark, d, changed)
        commit_sec = round(time.time() - t0, 3)
        ratio = round(tombstone_ratio(idx), 4)
        idx.driver_direct = False
        idx.search("warmup", 10).collect()
        pre = dir_stats(d)
        pre_p50 = p50(idx)
        t0 = time.time()
        cidx = compact_index(spark, d, live_corpus)
        compact_sec = round(time.time() - t0, 3)
        cidx.driver_direct = False
        cidx.search("warmup", 10).collect()
        post = dir_stats(d)
        post_p50 = p50(cidx)
        out[f"{pct}pct"] = {
            "commit_sec": commit_sec,
            "tombstone_ratio": ratio,
            "pre": {**pre, "p50_query_sec": pre_p50,
                    "n_docs_stored": idx.n_docs},
            "compact_sec": compact_sec,
            "post": {**post, "p50_query_sec": post_p50,
                     "n_docs_stored": cidx.n_docs,
                     "phrase_df_carried": bool(cidx.phrase_dfs),
                     "presence_rebuilt": cidx.term_blocks is not None},
        }
        shutil.rmtree(d, ignore_errors=True)

    print(json.dumps({
        "metric": "compaction_economics",
        "files": int(base.n_docs),
        "initial_build_sec": build_sec,
        "ratios": out,
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
