"""Query-concurrency drive (VERDICT r04 #6): the engine advertises
"build once, query many" — N threads share ONE FtsIndex and hammer it
concurrently. Two phases:

1. determinism: every thread runs the same query list; all results
   must be identical to the single-thread baseline (search cache on,
   covered path on — the engine exactly as shipped).
2. throughput: a pool of DISTINCT queries (so neither the search cache
   nor covered-pass memoization can hide work) is run sequentially and
   then split across N threads; aggregate qps for both is reported.

Spark local-mode note: concurrent actions from driver threads are a
supported Spark pattern; the engine's shared mutable state under
concurrency is the search cache (lock-guarded), the per-search trace
records, and covered-pass memoization — this drive is the evidence
they compose.

Usage: python tools/concurrency_bench.py [n_threads] [index_dir] [feeder]
       (feeder: direct or spark pins FtsIndex.driver_direct; default:
       auto, the route rule. ``routes`` counts the routes the
       throughput phase's searches took, read from ``last_trace`` after
       each; concurrent callers may read one another's records)
Env:   SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SF_DIR
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHARED_QUERIES = [
    "table merge",
    '"customer query"',
    "spark stream window",
    "value",
    "hello world",
    "print('print(\"Hello world\");');",
]

# distinct-query pool for the throughput phase: word pairs over corpus
# vocabulary — every query unique, so caches cannot serve any of them
_WORDS = [
    "table", "merge", "stream", "window", "value", "hello", "world",
    "print", "return", "import", "class", "index", "query", "spark",
    "batch", "shard",
]


def _distinct_pool(n: int) -> list[str]:
    out = []
    i = 0
    while len(out) < n:
        a = _WORDS[i % len(_WORDS)]
        b = _WORDS[(i // len(_WORDS) + i + 1) % len(_WORDS)]
        if a != b:
            out.append(f"{a} {b}")
        i += 1
    return list(dict.fromkeys(out))[:n]


def main() -> None:
    n_threads = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    idx_dir = sys.argv[2] if len(sys.argv) > 2 and sys.argv[2] else None
    feeder = sys.argv[3] if len(sys.argv) > 3 else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from codebased_spark.session import get_spark

    scheduler = os.environ.get("SPARK_GRAFT_SCHEDULER", "FIFO")
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.scheduler.mode": scheduler},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from codebased_spark.operators.phrasedf import build_phrase_df
    from codebased_spark.plans.engine import FtsIndex, build_index
    from codebased_spark.sources.corpus import documents_as_corpus, gen_corpus

    if idx_dir:
        index = FtsIndex(spark, idx_dir)
    else:
        import shutil
        import tempfile

        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        docs = documents_as_corpus(spark, sf_dir)
        corpus = docs.unionByName(
            gen_corpus(spark, n_repos=6000, files_per_repo=10))
        idx_dir = os.path.join(tempfile.gettempdir(), "conc_idx")
        shutil.rmtree(idx_dir, ignore_errors=True)
        index = build_index(spark, corpus, idx_dir, num_blocks=32)
        from codebased_spark.functions.fts5 import query_phrases

        build_phrase_df(
            spark, index,
            sorted({p for q in SHARED_QUERIES for p in query_phrases(q)}))

    if feeder is not None:
        index.driver_direct = {"direct": True, "spark": False}[feeder]
    index.search("warmup", 10).collect()
    index.search("warm once more", 10).collect()

    def hits(q: str):
        return tuple(
            (int(r["doc_id"]), bool(r["name_match"]), float(r["rank"]))
            for r in index.search(q, 16).collect()
        )

    # phase 1: determinism under concurrency
    baseline = {q: hits(q) for q in SHARED_QUERIES}

    def worker(_tid: int):
        return {q: hits(q) for q in SHARED_QUERIES}

    with ThreadPoolExecutor(max_workers=n_threads) as ex:
        results = list(ex.map(worker, range(n_threads)))
    deterministic = all(r == baseline for r in results)

    # phase 2: throughput on distinct queries (cache-proof)
    routes: dict[str, list] = {"sequential": [], "concurrent": []}

    def search(q: str, phase: str) -> None:
        index.search(q, 16).collect()
        routes[phase].append(index.last_trace["route"])

    pool = _distinct_pool(48)
    index.clear_search_cache()
    t0 = time.time()
    for q in pool:
        search(q, "sequential")
    seq_sec = time.time() - t0

    pool2 = [q + " batch" for q in pool]  # distinct from phase-2a too
    index.clear_search_cache()
    chunks = [pool2[i::n_threads] for i in range(n_threads)]
    t0 = time.time()
    with ThreadPoolExecutor(max_workers=n_threads) as ex:
        list(ex.map(lambda c: [search(q, "concurrent") for q in c], chunks))
    par_sec = time.time() - t0

    print(json.dumps({
        "metric": "concurrent_query_drive",
        "n_threads": n_threads,
        "files": int(index.n_docs),
        "deterministic_under_concurrency": deterministic,
        "distinct_queries": len(pool),
        "sequential_qps": round(len(pool) / seq_sec, 2),
        "concurrent_qps": round(len(pool2) / par_sec, 2),
        "concurrency_speedup": round(seq_sec / par_sec, 2),
        "scheduler": scheduler,
        "feeder": {None: "auto", True: "direct", False: "spark"}[
            index.driver_direct],
        "routes": {phase: dict(Counter(r)) for phase, r in routes.items()},
        "cpus": cpus,
    }))
    spark.stop()
    if not deterministic:
        sys.exit(1)


if __name__ == "__main__":
    main()
