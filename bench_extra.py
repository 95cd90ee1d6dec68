"""Round-7 instrumentation harness (bench.py stays FROZEN — guide §1).

Stage-level build timing + query-phase breakdown at a given SF dir.
Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
       python bench_extra.py [build|query|all]
Prints one JSON line per section.
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

    from pyspark.sql import functions as F

    from codebased_spark.operators.build import build_postings_fused
    from codebased_spark.operators.docs import DOC_ID_BLOCK_BITS, build_docs
    from codebased_spark.operators.presence import build_term_blocks
    from codebased_spark.plans.engine import (
        POSTING_ROW_GROUP_BYTES,
        FORMAT_VERSION,
        FtsIndex,
        IndexFS,
        _join,
        _postings_footer_metrics,
        _write_manifest,
    )
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

    stages: dict[str, float] = {}

    def stage(name):
        class _T:
            def __enter__(self):
                sc.setJobDescription(f"r07-build:{name}")
                self.t = time.time()
                return self

            def __exit__(self, *a):
                stages[name] = round(time.time() - self.t, 3)
                sc.setJobDescription(None)

        return _T()

    if mode in ("build", "all"):
        shutil.rmtree(idx_dir, ignore_errors=True)
        fs = IndexFS(spark, idx_dir)
        num_blocks = 32
        t0 = time.time()
        with stage("docs_persist"):
            docs = build_docs(corpus, num_blocks=num_blocks).persist()
            docs.count()
        with stage("doc_stats_write"):
            docs.drop("content").write.mode("overwrite").parquet(
                _join(idx_dir, "doc_stats"))
        with stage("block_rows_agg"):
            block_rows = (
                docs.groupBy(F.shiftright("doc_id", DOC_ID_BLOCK_BITS).alias("pblock"))
                .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl"))
                .collect()
            )
        with stage("corpus_stats_write"):
            from codebased_spark.session import one_row_df

            n = sum(int(r["n"]) for r in block_rows)
            total_dl = sum(int(r["sdl"]) for r in block_rows)
            avgdl = (total_dl / n) if n else 0.0
            one_row_df(
                spark,
                "n_docs long, avgdl double, total_dl long, num_blocks int, version int",
                (n, avgdl, total_dl, num_blocks, FORMAT_VERSION),
            ).write.mode("overwrite").parquet(_join(idx_dir, "corpus_stats"))
        _write_manifest(fs, idx_dir, "doc_stats",
                        {"stage": "doc_stats", "version": FORMAT_VERSION,
                         "num_blocks": num_blocks, "docs_per_block": {}})
        _write_manifest(fs, idx_dir, "corpus_stats",
                        {"stage": "corpus_stats", "n_docs": n, "avgdl": avgdl,
                         "version": FORMAT_VERSION})
        with stage("postings_write"):
            build_postings_fused(docs).write.mode("overwrite").option(
                "parquet.block.size", str(POSTING_ROW_GROUP_BYTES)
            ).partitionBy("pblock").parquet(_join(idx_dir, "postings"))
        with stage("postings_manifest"):
            _write_manifest(
                fs, idx_dir, "postings",
                {"stage": "postings", "version": FORMAT_VERSION,
                 "per_block": _postings_footer_metrics(fs, _join(idx_dir, "postings"))})
        with stage("term_blocks"):
            build_term_blocks(spark, idx_dir, fs=fs)
        docs.unpersist()
        build_total = round(time.time() - t0, 3)
        print(json.dumps({"section": "build_stages", "sf": sf, "files": n,
                          "build_total": build_total, "stages": stages,
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
