"""Scale demonstration (VERDICT r03 #3): build + query at 10x-50x the
bench corpus (200k and ~1M files), recording build throughput, per-query
latency (cold path and phrase-df-covered path), the Spark jobs each
search ran (counted through a job group), and from each search's
``index.last_trace`` its route (with the work and bytes the route
rule chose it from), the rows of each collect, how many queries it
rescanned with known dfs and the shards presence pruning left it — the
honest sandbox proxy for "would these plans survive 100x".

``routes`` is the route crossover table: for each single query, the
6-query batch, a 32-query batch and a rare phrase presence-pruned to
the blocks of a 3-file commit planted after the timings, the route
the rule picks unpinned with its ``route_work`` and ``route_bytes``,
and the best-of-2 wall with each feeder pinned (uncovered, pins
interleaved per rep).

Hot-vs-cold comparison is INTERLEAVED per query (hot first, then cold,
3 reps each, best-of per arm) rather than sequential passes: this VM's
throughput drifts monotonically within a session (BENCH.md "host
collapse"), so sequential pass ordering confounds path cost with host
drift — r04's artifact showed the covered path "losing" at 1M purely
because the hot pass ran second (VERDICT r04 #1). numpy probes bracket
each scale so the window's health is in the artifact.

Usage: python tools/scale_demo.py [n_files ...]   (default: 200000 1000000)
Env:   SPARK_GRAFT_CPUS (default 32)

Prints one JSON line per scale. The corpus is materialized to parquet
BEFORE the build timer (the engine's job is indexing an existing table,
not generating synthetic data). A ``scale_corpus_<n>.source.json``
beside it records what it was made from (file count, resolved sf dir,
size and mtime of its documents file, generator seed); a corpus on disk
is reused only when that record matches, and the record is printed as
``corpus_source``.
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

QUERIES = {
    "q1_common_words": "table merge",
    "q2_rare_phrase": '"customer query"',
    "q3_conjunctive3": "spark stream window",
    "q4_clamped_common": "value",
    "q5_code_hello": "hello world",
    "q6_special_chars": "print('print(\"Hello world\");');",
}


# gen_corpus seed of the synthetic files
SEED = 42

# the route table's 32-query batch: distinct gen_corpus word pairs
BATCH32 = [f"{a} {b}" for a in ("alpha", "beta", "gamma", "delta", "sigma",
                                "omega", "buffer", "stream")
           for b in ("handler", "worker", "parser", "engine")]
# planted in 3 files by a commit after the timings: trigrams no other
# file has, so presence prunes the phrase to the commit's blocks
RARE = "zqvx_kw sentinel_jqzz"


def route_table(index, shapes: dict, reps: int = 2) -> dict:
    """Per shape (name -> run()): the route the rule picks unpinned,
    with the work and bytes it picked it from, and the best-of-``reps``
    wall on each feeder pinned, the pins interleaved per rep."""
    out = {}
    for name, run in shapes.items():
        index.driver_direct = None
        index.clear_search_cache()
        run()
        trace = index.last_trace
        row = {k: trace[k] for k in ("route", "route_work", "route_bytes",
                                     "shards_scanned")}
        secs: dict = {"direct": [], "spark": []}
        for _ in range(reps):
            for feeder, pin in (("direct", True), ("spark", False)):
                index.driver_direct = pin
                index.clear_search_cache()
                t = time.time()
                run()
                secs[feeder].append(round(time.time() - t, 3))
        index.driver_direct = None
        out[name] = dict(row, direct_sec=min(secs["direct"]),
                         spark_sec=min(secs["spark"]), reps=secs)
    return out


def corpus_source(n_files: int, sf_dir: str) -> dict:
    """What a scale corpus of ``n_files`` over ``sf_dir`` is made from."""
    sf_dir = os.path.realpath(sf_dir)
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    return {"n_files": n_files, "sf_dir": sf_dir, "documents_bytes": st.st_size,
            "documents_mtime_ns": st.st_mtime_ns, "seed": SEED}


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [200_000, 1_000_000]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from codebased_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from codebased_spark.functions.fts5 import query_phrases
    from codebased_spark.operators.phrasedf import build_phrase_df
    from codebased_spark.plans.engine import build_index
    from codebased_spark.sources.corpus import (
        CORPUS_SCHEMA,
        documents_as_corpus,
        gen_corpus,
    )
    from codebased_spark.streaming.incremental import incremental_update

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    for n_files in sizes:
        # same corpus mix as bench.py: the driver's documents table (so
        # every bench query shape has real hits) + deterministic
        # synthetic code files up to n_files
        corpus_dir = os.path.join(tempfile.gettempdir(), f"scale_corpus_{n_files}")
        source_path = corpus_dir + ".source.json"
        source = corpus_source(n_files, sf_dir)
        try:
            with open(source_path) as fh:
                reused = json.load(fh) == source and os.path.exists(
                    os.path.join(corpus_dir, "_SUCCESS"))
        except (OSError, ValueError):
            reused = False
        if not reused:
            shutil.rmtree(corpus_dir, ignore_errors=True)
            docs = documents_as_corpus(spark, sf_dir)
            synth = gen_corpus(
                spark, n_repos=max(1, (n_files - docs.count()) // 10),
                files_per_repo=10, seed=SEED,
            )
            docs.unionByName(synth).write.mode("overwrite").parquet(corpus_dir)
            with open(source_path, "w") as fh:
                json.dump(source, fh)
        corpus = spark.read.parquet(corpus_dir)

        # blocks scale with corpus so per-block posting shards stay
        # row-group-prunable (~6k docs/block at every size)
        num_blocks = max(32, n_files // 6250)
        idx_dir = os.path.join(tempfile.gettempdir(), f"scale_idx_{n_files}")
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.time()
        index = build_index(spark, corpus, idx_dir, num_blocks=num_blocks)
        build_sec = time.time() - t0

        index.search("warmup", 10).collect()
        index.search("warm once more", 10).collect()

        hot_phrases = sorted(
            {p for qq in QUERIES.values() for p in query_phrases(qq)})
        tp = time.time()
        build_phrase_df(spark, index, hot_phrases)
        phrase_df_sec = round(time.time() - tp, 3)
        saved_dfs = dict(index.phrase_dfs)

        def probe() -> float:
            import numpy as np

            a = np.random.default_rng(0).integers(
                0, 1 << 62, size=8_000_000, dtype=np.int64)
            t = time.time()
            np.sort(a)
            return round(time.time() - t, 3)

        sc = spark.sparkContext

        def jobs(group: str, action) -> int:
            sc.setJobGroup(group, group)
            try:
                action()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        def timed(qq: str) -> tuple[float, dict]:
            index.clear_search_cache()
            t = time.time()
            n_jobs = jobs(f"scale_{n_files}_{time.time()}",
                          lambda: index.search(qq, 32).collect())
            return round(time.time() - t, 3), dict(index.last_trace,
                                                   jobs=n_jobs)

        probe_before = probe()
        reps = 3
        cold, hot = {}, {}
        for name, qq in QUERIES.items():
            hot_secs, cold_secs = [], []
            for _ in range(reps):
                index.phrase_dfs = saved_dfs          # hot arm first
                sec, hot_meta = timed(qq)
                hot_secs.append(sec)
                index.phrase_dfs = {}                 # cold arm
                sec, cold_meta = timed(qq)
                cold_secs.append(sec)
            hot[name] = {"sec": min(hot_secs), "reps": hot_secs,
                         "trace": hot_meta}
            cold[name] = {"sec": min(cold_secs), "reps": cold_secs,
                          "trace": cold_meta}
        probe_after = probe()

        index.phrase_dfs = saved_dfs
        index.clear_search_cache()
        tb = time.time()
        batch: list = []  # the search's own jobs, not the count's
        batch_jobs = jobs(f"scale_{n_files}_batch6", lambda: batch.append(
            index.search_batch(list(QUERIES.values()), 32)))
        batch[0].count()
        batch_sec = round(time.time() - tb, 3)

        batch6_trace = dict(index.last_trace, jobs=batch_jobs)

        index.phrase_dfs = {}
        shapes = {name: (lambda qq=qq: index.search(qq, 32).collect())
                  for name, qq in QUERIES.items()}
        shapes["batch6"] = lambda: index.search_batch(
            list(QUERIES.values()), 32).collect()
        shapes["batch32"] = lambda: index.search_batch(BATCH32, 32).collect()
        routes = route_table(index, shapes)
        rare_rows = [("rare", f"src/rare_{i}.py", "e" * 40, "python",
                      f'"""{RARE} module."""\nRARE = "{RARE} {i}"\n')
                     for i in range(3)]
        planted = incremental_update(
            spark, idx_dir, spark.createDataFrame(rare_rows, CORPUS_SCHEMA))
        routes.update(route_table(planted, {
            "rare_phrase": lambda: planted.search(f'"{RARE}"', 32).collect()}))

        lat = sorted(v["sec"] for v in cold.values())
        lat_hot = sorted(v["sec"] for v in hot.values())
        print(json.dumps({
            "metric": "scale_demo",
            "files": int(index.n_docs),
            "num_blocks": num_blocks,
            "cpus": cpus,
            "corpus_source": dict(source, reused=reused),
            "build_sec": round(build_sec, 3),
            "build_files_per_sec": round(index.n_docs / build_sec, 1),
            "p50_query_sec": lat[len(lat) // 2],
            "p50_hot_sec": lat_hot[len(lat_hot) // 2],
            "phrase_df_build_sec": phrase_df_sec,
            "batch6_per_query_sec": round(batch_sec / len(QUERIES), 3),
            "batch6_trace": batch6_trace,
            "interleaved_reps": reps,
            "hw_np_sort8M_before_sec": probe_before,
            "hw_np_sort8M_after_sec": probe_after,
            "queries": cold,
            "queries_hot": hot,
            "routes": routes,
        }), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
