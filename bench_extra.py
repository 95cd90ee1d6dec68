"""Round-7 instrumentation harness (bench.py stays FROZEN — guide §1).

Build wall time + query-phase breakdown at a given SF dir.
Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
       python bench_extra.py [build|query|all]
Prints one JSON line per section. The build's per-stage split (docs,
doc_stats, postings, presence) is what
``python3 perfbench/run.py --workload search --trace 1`` reports as
``engine.build.*``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

QUERIES = {
    "q1_common_words": "table merge",
    "q2_rare_phrase": '"customer query"',
    "q3_conjunctive3": "spark stream window",
    "q4_clamped_common": "value",
    "q5_code_hello": "hello world",
    "q6_special_chars": "print('print(\"Hello world\");');",
}


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from codebased_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    from codebased_spark.plans.engine import FtsIndex, build_index
    from codebased_spark.sources.corpus import documents_as_corpus, gen_corpus

    docs_corpus = documents_as_corpus(spark, sf_dir)
    n_docs = docs_corpus.count()
    synth_files = int(os.environ.get("SPARK_GRAFT_SYNTH_FILES", 3 * n_docs))
    synth = gen_corpus(spark, n_repos=max(1, synth_files // 10), files_per_repo=10)
    corpus_dir = os.path.join(tempfile.gettempdir(), f"bench_corpus_sf{sf}_{synth_files}")
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        shutil.rmtree(corpus_dir, ignore_errors=True)
        docs_corpus.unionByName(synth).write.mode("overwrite").parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)

    idx_dir = os.path.join(tempfile.gettempdir(), f"benchx_idx_sf{sf}")

    if mode in ("build", "all"):
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.time()
        index = build_index(spark, corpus, idx_dir, num_blocks=32)
        print(json.dumps({"section": "build", "sf": sf, "files": index.n_docs,
                          "build_total": round(time.time() - t0, 3),
                          "cpus": cpus}))

    if mode in ("query", "all"):
        index = FtsIndex(spark, idx_dir)
        index.driver_direct = False
        index.search("warmup", 10).collect()
        index.search("warm once more", 10).collect()

        from codebased_spark.operators.query import (
            BATCH_SCHEMA,
            _batch_candidates_fn,
            _finish_rows,
            _parse_batch,
            _prune_batch,
            _scan_df,
        )

        out: dict = {}
        for name, q in QUERIES.items():
            parsed, _known = _parse_batch([q], index.n_docs, {})
            if not parsed:
                out[name] = {"note": "no-parse"}
                continue
            t = time.time()
            files, parsed, _known, needed = _prune_batch(
                index.posting_files, parsed, {}, index.term_blocks)
            prune_s = time.time() - t
            if not parsed:
                out[name] = {"note": "pruned-to-zero",
                             "prune_ms": round(prune_s * 1e3, 2)}
                continue
            _qi, phrases, term_ids = parsed[0]
            reps = []
            for _ in range(3):
                t = time.time()
                cand = _scan_df(
                    spark, files,
                    _batch_candidates_fn([(0, term_ids)], needed, None, 32,
                                         index.avgdl),
                    BATCH_SCHEMA,
                )
                rows = cand.collect()
                t_collect = time.time() - t
                t = time.time()
                _finish_rows(rows, len(phrases), index.n_docs, index.avgdl, 32)
                t_finish = time.time() - t
                reps.append((round(t_collect, 3), round(t_finish, 4), len(rows)))
            out[name] = {
                "prune_ms": round(prune_s * 1e3, 2),
                "n_files": len(files),
                "job_collect_s": [r[0] for r in reps],
                "finish_s": [r[1] for r in reps],
                "cand_rows": reps[0][2],
            }
        # floor probes: empty-ish Spark jobs of matching shape
        floors = {}
        t = time.time()
        sc.parallelize(range(32), 32).count()
        floors["rdd_count_32tasks"] = round(time.time() - t, 3)
        t = time.time()
        sc.parallelize(range(32), 32).count()
        floors["rdd_count_32tasks_2"] = round(time.time() - t, 3)
        print(json.dumps({"section": "query_phases", "sf": sf,
                          "queries": out, "floors": floors}))

    spark.stop()


if __name__ == "__main__":
    main()
