"""Capture .explain('formatted') for every bench query path into
plans/r07/<query>_<tag>.txt (tag = before|after). Builds a small index
at sf0.01 (cheap, same plan shape as any SF) and explains the single,
batch, and build-stage DataFrames.

Usage: python tools/r07_capture_plans.py before|after
"""

from __future__ import annotations

import io
import os
import shutil
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = {
    "q1_common_words": "table merge",
    "q2_rare_phrase": '"customer query"',
    "q3_conjunctive3": "spark stream window",
    "q4_clamped_common": "value",
    "q5_code_hello": "hello world",
    "q6_special_chars": "print('print(\"Hello world\");');",
}


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    out_dir = os.path.join(REPO, "plans", "r07")
    os.makedirs(out_dir, exist_ok=True)

    from codebased_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    from codebased_spark.plans.engine import build_index
    from codebased_spark.sources.corpus import documents_as_corpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    corpus = documents_as_corpus(spark, sf_dir)
    idx_dir = "/tmp/r07_plans_idx"
    shutil.rmtree(idx_dir, ignore_errors=True)
    index = build_index(spark, corpus, idx_dir, num_blocks=8)
    index.driver_direct = False  # the distributed plan is the one bench times

    def write(name, df):
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(formatted(df))

    # The per-query Spark JOB bench times is the candidate scan (the
    # result DF is a LocalTableScan of the driver-finished rows —
    # capture BOTH: the scan plan is the evidence the shape claims
    # rest on).
    from codebased_spark.operators.query import (
        BATCH_SCHEMA,
        _batch_candidates_fn,
        _parse_batch,
        _prune_batch,
        _scan_df,
    )

    for name, q in QUERIES.items():
        index._search_cache.clear()
        write(name, index.search(q, 32))
        parsed, _known = _parse_batch([q], index.n_docs, {})
        if not parsed:
            continue
        files, parsed, _known, needed = _prune_batch(
            index.posting_files, parsed, {}, index.term_blocks)
        if not parsed:
            with open(os.path.join(out_dir, f"{name}_scan_{tag}.txt"), "w") as f:
                f.write("(presence pruned every shard: zero-job result)\n")
            continue
        cand = _scan_df(
            spark, files,
            _batch_candidates_fn([(0, parsed[0][2])], needed, None, 32,
                                 index.avgdl),
            BATCH_SCHEMA)
        write(f"{name}_scan", cand)
    write("batch6", index.search_batch(list(QUERIES.values()), 32))

    # build-stage plans: the docs pipeline and the posting write input
    from codebased_spark.operators.build import build_postings_fused
    from codebased_spark.operators.docs import build_docs

    docs = build_docs(corpus, num_blocks=8)
    write("build_docs", docs)
    write("build_postings", build_postings_fused(docs))

    print(f"wrote plans/r07/*_{tag}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
