"""The two workloads. Both are closed loops with one client: each call
waits for the previous one.

``search``: a read path over two indexes built in set-up.
  - ``large`` has 16 posting blocks, more shards than the driver-direct
    gate allows, so its searches take the Spark route;
  - ``small`` fits the driver-direct gate (at most 8 shards, 4 MB), so
    its searches run with no Spark job;
  - set-up also mines hot phrases on ``large`` and builds their df
    table, so ``covered`` queries take the known-idf path.
  The stream cycles through the query shapes of ``inputs``: each
  scanning shape once on ``large`` and SMALL_REPS times on ``small``,
  the absent-trigram shape 1 + SMALL_REPS times and the 2-letter one
  once on ``large``, with a 32-query
  ``search_batch`` on ``large`` after each half cycle.

``ingest``: writes, with a read after each write. Set-up builds the
index and its hot-phrase table; each round then commits a distinct 1%
change set, runs the first search on the handle the commit returns,
and re-applies the same batch, which the sha gate turns into a no-op.
Rounds run in chains of CHAIN commits from the set-up index, after one
untimed warm-up commit on a copy of it. A traced
run then also sweeps the declared queries (``perfbench.gate``).

Both record, per run, one list of wall times per operation kind
(``op``: the workload's main operation, ``aux_op``, ``noop_op``) and
the rate of its bulk operation (``bulk_per_s``).
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time

from codebased_spark.plans.engine import FtsIndex, build_index
from codebased_spark.operators.phrasedf import build_phrase_df, hot_phrases_from_corpus
from codebased_spark.sources.corpus import CORPUS_SCHEMA
from codebased_spark.streaming.incremental import incremental_update

from perfbench.check import Oracle
from perfbench.gate import sweep, write_tables
from perfbench.inputs import (
    SCAN_SHAPES,
    Corpus,
    QueryStream,
    change_sets,
    covered,
    write_rows,
)

TOP_K = 32
BATCH = 32
SETUPS = 3
# extra searches per shape and cycle for the fast kinds: a driver-direct
# or pruned-to-zero search takes ~1/10 of a Spark-routed one, so it gets
# more samples per run
SMALL_REPS = 2
# ingest commits per chain. Every chain starts again from the set-up
# index, so each run commits onto the same index states (base + 1 and
# base + 2 commits) however many rounds its window fits.
CHAIN = 2

# files per corpus and posting blocks per index
SCALES = {
    "full": {"large": 2500, "large_blocks": 16, "small": 500, "small_blocks": 4,
             "base": 2000, "base_blocks": 8},
    # self-test scale: seconds per run, same routes
    "tiny": {"large": 300, "large_blocks": 12, "small": 120, "small_blocks": 2,
             "base": 200, "base_blocks": 8},
}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def held_mem_mb(spark) -> float:
    """Memory the program holds, in MB: the driver python process's peak
    resident set, plus the JVM heap still in use after a full
    collection, plus the JVM's peak off-heap pools (metaspace, code
    cache). The JVM's peak heap is left out: with a fixed heap it
    depends on when the collector ran, not on the program."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    spark._jvm.java.lang.System.gc()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    off_heap = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if p.getType().name() == "NON_HEAP")
    return vm_hwm_mb(os.getpid()) + (heap + off_heap) / 2**20


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


class Run:
    """State shared by a workload's set-up, timed loop and checks."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer,
                 scale: str = "full", perturb: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.size = SCALES[scale]
        # self-test hook: corrupt one checked result so the checker
        # must count it as failed
        self.perturb = perturb
        self.parts = max(1, spark.sparkContext.defaultParallelism)
        self.attempted = 0
        # failed op -> why; an op fails at most once
        self.failures: dict[str, str] = {}
        self.samples: dict[str, list[float]] = {
            "setup": [], "op": [], "aux_op": [], "noop_op": [],
            "build": [], "mine": [], "phrase_build": []}
        self.bulk_per_s = 0.0
        self.stage_timings: list[dict] = []
        self.noop_timings: list[dict] = []
        self.commit_bytes: list[int] = []
        self.covered: list[bool] = []
        self.index_bytes_per_input_byte = 0.0
        self.mem_mb = 0.0
        # wall seconds of each declared query (traced ingest runs)
        self.gate: dict[str, float] = {}
        self.main_dir = ""
        self.main_index = None

    def fail(self, op: str, why: str) -> None:
        self.failures.setdefault(op, why)

    def timed(self, kind: "str | None", name: str, fn):
        """Run ``fn`` inside an op span; record its wall under ``kind``.
        Returns (ok, result); an exception is a failed op."""
        self.attempted += 1
        with self.tr.span(name, op=True):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # counted, reported, the loop goes on
                self.fail(f"{name}#{self.attempted}", f"{type(e).__name__}: {e}")
                return False, None
            wall = time.perf_counter() - t0
        if kind:
            self.samples[kind].append(wall)
        return True, out

    def corpus_df(self, rows: list[tuple], out_dir: str):
        return self.spark.read.schema(CORPUS_SCHEMA).parquet(
            write_rows(rows, out_dir, self.parts))

    def build(self, name: str, corpus: Corpus, blocks: int, out_dir: str,
              kind: "str | None" = None):
        df = self.corpus_df(corpus.rows, os.path.join(out_dir, f"{name}_input"))
        index_dir = os.path.join(out_dir, name)
        t0 = time.perf_counter()
        with self.tr.span(f"build.{name}", op=True):
            build_index(self.spark, df, index_dir, num_blocks=blocks)
        if kind:
            self.samples[kind].append(time.perf_counter() - t0)
        return df, index_dir

    def hot_phrases(self, df, index_dir: str) -> "tuple[FtsIndex, list[str]]":
        t0 = time.perf_counter()
        with self.tr.span("phrasedf.mine", op=True):
            phrases = hot_phrases_from_corpus(df, top_n=64)
        t1 = time.perf_counter()
        with self.tr.span("phrasedf.build", op=True):
            build_phrase_df(self.spark, FtsIndex(self.spark, index_dir), phrases)
        t2 = time.perf_counter()
        self.samples["mine"].append(t1 - t0)
        self.samples["phrase_build"].append(t2 - t1)
        return FtsIndex(self.spark, index_dir), phrases

    def setups(self, one) -> None:
        """Set up SETUPS times, each into a fresh directory from the same
        seed; time each and keep the last one's state."""
        for k in range(SETUPS):
            out_dir = os.path.join(self.work, f"setup{k}")
            shutil.rmtree(os.path.join(self.work, f"setup{k - 1}"), ignore_errors=True)
            t0 = time.perf_counter()
            with self.tr.span("setup"):
                one(out_dir)
            self.samples["setup"].append(time.perf_counter() - t0)

    def settle(self) -> None:
        """Collect the set-up's garbage in both processes, so that no
        timed call pays for it. Called before the untimed warm-up."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def loop(self, step, min_steps: int = 1, group: int = 1) -> None:
        """Call ``step(i)`` until the run's seconds are used up, at least
        ``min_steps`` times (so every op kind is sampled), and a whole
        number of ``group``s of steps."""
        with self.tr.span("measure"):
            t_end = time.perf_counter() + self.seconds
            i = 0
            while i < min_steps or i % group or time.perf_counter() < t_end:
                step(i)
                i += 1
        # read before the checks, whose oracles live in this process
        self.mem_mb = held_mem_mb(self.spark)

    def load_layer(self) -> None:
        """Traced runs only: time opening the main index on its own."""
        if self.tr.enabled and self.main_dir:
            for _ in range(3):
                with self.tr.span("engine.load", op=True):
                    FtsIndex(self.spark, self.main_dir)


# --- search -----------------------------------------------------------------

class SearchWorkload:
    name = "search"

    def __init__(self, run: Run):
        self.r = run
        size = run.size
        self.large_c = Corpus(size["large"], run.seed)
        self.small_c = Corpus(size["small"], run.seed + 7919)
        self.checks: list[tuple] = []  # (index name, query, rows)

    def _setup(self, out_dir: str) -> None:
        r, size = self.r, self.r.size
        df, large_dir = r.build("large", self.large_c, size["large_blocks"], out_dir)
        _, small_dir = r.build("small", self.small_c, size["small_blocks"], out_dir)
        self.large, self.hot = r.hot_phrases(df, large_dir)
        self.small = FtsIndex(r.spark, small_dir)
        # warm both routes once (never timed)
        self.large.search("warm large", TOP_K).collect()
        self.small.search("warm small", TOP_K).collect()
        r.main_dir, r.main_index = large_dir, self.large

    def run(self) -> None:
        r = self.r
        r.setups(self._setup)
        self.stream = QueryStream(self.large_c, self.hot, r.seed, salt=1)
        self.small_stream = QueryStream(self.small_c, self.hot, r.seed, salt=2)
        r.settle()
        # one untimed search of every scanning shape on each index: the
        # first search of a shape took up to 0.3 s longer than the rest
        for shape in SCAN_SHAPES:
            self._step("large", shape, warm=True)
            self._step("small", shape, warm=True)
        singles = [step for shape in SCAN_SHAPES
                   for step in [("large", shape)] + [("small", shape)] * SMALL_REPS]
        # only the presence-pruned shape is timed: mixed in equal numbers
        # with the instant 2-letter one, the median flipped between the two
        singles += [("large", "absent")] * (1 + SMALL_REPS) + [("large", "short")]
        half = len(singles) // 2
        cycle = singles[:half] + [("batch", None)] + singles[half:] + [("batch", None)]
        self.batch_queries, self.batch_s = 0, 0.0
        r.loop(lambda i: self._step(*cycle[i % len(cycle)]), min_steps=len(cycle))
        r.bulk_per_s = self.batch_queries / self.batch_s if self.batch_s else 0.0
        self._verify()
        r.index_bytes_per_input_byte = (
            dir_bytes(r.main_dir) / self.large_c.input_bytes())
        r.load_layer()

    def _step(self, ix: str, shape: "str | None", warm: bool = False) -> None:
        r = self.r
        if ix == "batch":
            qs = [self.stream.next(SCAN_SHAPES[k % len(SCAN_SHAPES)])
                  for k in range(BATCH)]
            t0 = time.perf_counter()
            ok, rows = r.timed(None, "search.batch",
                               lambda: self.large.search_batch(qs, TOP_K).collect())
            if ok:
                self.batch_queries += len(qs)
                self.batch_s += time.perf_counter() - t0
                for qid, q in enumerate(qs):
                    self.checks.append(("large", q, [x for x in rows if x["qid"] == qid]))
            return
        scan = shape in SCAN_SHAPES
        index = self.large if ix == "large" else self.small
        q = (self.stream if ix == "large" else self.small_stream).next(shape)
        kind = None if warm else ("op" if ix == "large" else "aux_op") if scan else (
            "noop_op" if shape == "absent" else None)
        span = "warm" if warm else "scan" if scan else "noop"
        ok, rows = r.timed(kind, f"search.{ix}.{span}",
                           lambda: index.search(q, TOP_K).collect())
        if ok:
            self.checks.append((ix, q, rows))
            if ix == "large" and scan and not warm:
                r.covered.append(covered(self.large, q))

    def _verify(self) -> None:
        r = self.r
        with r.tr.span("verify"):
            oracles = {"large": Oracle(self.large, self.large_c.content),
                       "small": Oracle(self.small, self.small_c.content)}
            for n, (ix, q, rows) in enumerate(self.checks):
                if r.perturb and n == 0:
                    rows = _perturbed(rows)
                why = oracles[ix].mismatch(q, rows, TOP_K)
                if why:
                    r.fail(f"search.{ix}#{n} {q!r}", why)


def _perturbed(rows):
    """The first row's score nudged past the tolerance (or a phantom
    row when the result is empty)."""
    rows = [dict(x.asDict()) for x in rows]
    if rows:
        rows[0]["score"] += 1e-6
    else:
        rows.append({"doc_id": 0, "name_match": False, "score": 1.0, "rank": 1})
    return rows


# --- ingest -----------------------------------------------------------------

class IngestWorkload:
    name = "ingest"

    def __init__(self, run: Run):
        self.r = run
        self.base = Corpus(run.size["base"], run.seed)
        # per chain: index dir, live content, and per round (marker,
        # changed paths, post-commit hits)
        self.chains: list[dict] = []

    def _setup(self, out_dir: str) -> None:
        r = self.r
        df, index_dir = r.build("base", self.base, r.size["base_blocks"], out_dir,
                                kind="build")
        index, self.hot = r.hot_phrases(df, index_dir)
        index.search("warm", TOP_K).collect()
        self.out_dir = out_dir
        r.main_dir = index_dir

    def run(self) -> None:
        r = self.r
        r.setups(self._setup)
        # files/s through build_index: the median build of the set-ups
        r.bulk_per_s = len(self.base.rows) / statistics.median(r.samples["build"])
        self.pristine = r.main_dir + ".setup"
        shutil.copytree(r.main_dir, self.pristine)
        self.changes = change_sets(self.base, rounds=100)
        r.settle()
        self._warm_up()
        r.loop(self._round, min_steps=CHAIN, group=CHAIN)
        for k, chain in enumerate(self.chains):
            self._verify(k, chain)
        # every chain ends in the same state: report the first
        first = self.chains[0]
        r.main_dir = first["dir"]
        r.main_index = FtsIndex(r.spark, first["dir"])
        r.index_bytes_per_input_byte = dir_bytes(first["dir"]) / sum(
            len(c.encode()) for c in first["content"].values())
        r.load_layer()
        if r.tr.enabled:
            r.gate = sweep(r, write_tables(os.path.join(r.work, "sf"), r.seed))

    def _warm_up(self) -> None:
        """One untimed commit on a throwaway copy of the set-up index, so
        that no timed commit pays the first call's warm-up (without it, a
        run whose window fits one chain had a cold commit in its median)."""
        r = self.r
        warm_dir = r.main_dir + ".warm"
        shutil.copytree(self.pristine, warm_dir)
        _, rows = next(self.changes)
        batch = r.corpus_df(rows, os.path.join(self.out_dir, "change-warm"))
        with r.tr.span("warm_up", op=True):
            incremental_update(r.spark, warm_dir, batch, rebuild_phrase_df=True)
        shutil.rmtree(warm_dir)

    def _round(self, i: int) -> None:
        r = self.r
        if i % CHAIN == 0:
            if self.chains:
                # park the finished chain for the checks after the loop,
                # then start the next one from the set-up index
                chain = self.chains[-1]
                chain["dir"] = f"{r.main_dir}.chain{len(self.chains) - 1}"
                os.rename(r.main_dir, chain["dir"])
                shutil.copytree(self.pristine, r.main_dir)
            self.chains.append({"dir": r.main_dir, "content": dict(self.base.content),
                                "rounds": []})
        chain = self.chains[-1]
        marker, rows = next(self.changes)
        batch = r.corpus_df(rows, os.path.join(self.out_dir, f"change{i}"))
        before = dir_bytes(r.main_dir) if r.tr.enabled else 0
        st: dict = {}
        ok, index = r.timed("op", "commit", lambda: incremental_update(
            r.spark, r.main_dir, batch, rebuild_phrase_df=True, stage_timings=st))
        if not ok:
            return
        r.stage_timings.append(st)
        if r.tr.enabled:
            r.commit_bytes.append(dir_bytes(r.main_dir) - before)
        for repo, path, *_, content in rows:
            chain["content"][(repo, path)] = content
        ok, hits = r.timed("aux_op", "search.post_commit",
                           lambda: index.search(marker, TOP_K).collect())
        if ok:
            r.covered.append(covered(index, marker))
            chain["rounds"].append((marker, {(x[0], x[1]) for x in rows}, hits))
            if len(hits) != min(len(rows), TOP_K):
                r.fail(f"search.post_commit#{i}",
                       f"{len(hits)} hits for a marker in {len(rows)} files")
        st_noop: dict = {}
        ok, same = r.timed("noop_op", "commit.noop", lambda: incremental_update(
            r.spark, r.main_dir, batch, rebuild_phrase_df=True,
            stage_timings=st_noop))
        if ok:
            r.noop_timings.append(st_noop)
            if (same.n_docs, len(same.posting_files)) != (
                    index.n_docs, len(index.posting_files)):
                r.fail(f"commit.noop#{i}", "a fully sha-gated batch changed the index")

    def _verify(self, k: int, chain: dict) -> None:
        """One chain's post-commit hits, and its final index against an
        oracle over the live docs: every round's marker, plus one stream
        query per shape, in one batch. Each final query counts as an op."""
        r = self.r
        with r.tr.span("verify"):
            index = FtsIndex(r.spark, chain["dir"])
            oracle = Oracle(index, chain["content"])
            for n, (marker, paths, hits) in enumerate(chain["rounds"]):
                hit_paths = {oracle.paths.get(int(x["doc_id"])) for x in hits}
                if r.perturb and k == n == 0:
                    hit_paths.add(("nowhere", "nothing"))
                if not hit_paths <= paths:
                    r.fail(f"search.post_commit chain {k} round {n}",
                           "hits outside the round's changed files")
            stream = QueryStream(self.base, self.hot, r.seed, salt=3 + k)
            qs = [m for m, _, _ in chain["rounds"]] + [stream.next(s) for s in SCAN_SHAPES]
            ok, rows = r.timed(None, "search.final_check",
                               lambda: index.search_batch(qs, TOP_K).collect())
            r.attempted += len(qs) - 1
            for qid, q in enumerate(qs if ok else []):
                why = oracle.mismatch(q, [x for x in rows if x["qid"] == qid], TOP_K)
                if why:
                    r.fail(f"final chain {k} #{qid} {q!r}", why)


WORKLOADS = {"search": SearchWorkload, "ingest": IngestWorkload}
