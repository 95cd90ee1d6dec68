"""Per-layer metrics of a traced run, from its spans, the Spark event
log, the engine's public ``stage_timings`` hook and on-disk manifests.

Every name is emitted on every workload; a layer a workload does not
exercise reads 0 there (the ingest workload has no ``large`` route, the
search workload commits nothing and sweeps no declared query).
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.spans import CallSites, attribute, covered_s

# op span name of each query route
ROUTES = {"large": "search.large.scan", "small": "search.small.scan",
          "batch": "search.batch", "post_commit": "search.post_commit"}
SINGLE_SEARCHES = ("search.large.scan", "search.large.noop", "search.small.scan",
                   "search.small.noop", "search.post_commit")
COUNT_FIELDS = ("jobs_per_search", "tasks_per_search", "result_bytes")
SECONDS_FIELDS = ("job_s", "driver_s", "sched_delay_s", "task_deser_s", "task_run_s")
# keys streaming.incremental's stage_timings hook fills today; any other
# key lands in incremental.other_s
INCR_STAGES = (
    "load_index", "sha_gate_probe", "dead_checkpoint", "tombstone_stats_and_offset",
    "dead_pblocks_list", "new_docs_checkpoint_and_agg", "doc_stats_append",
    "postings_append", "deletes_append", "corpus_stats_write",
    "incr_manifest_footer_metrics", "presence_delta", "reload_index", "phrase_df_delta",
)
MODULES = ("plans.engine", "operators.query", "operators.phrasedf",
           "operators.presence", "streaming.incremental")
# index tables, by the module that writes them (writer jobs carry no
# python call site); commits rewrite the engine's tables
TABLE_WRITERS = {"doc_stats": "plans.engine", "corpus_stats": "plans.engine",
                 "postings": "plans.engine", "deletes": "streaming.incremental",
                 "term_blocks": "operators.presence", "phrase_df": "operators.phrasedf"}
BUILD_STAGES = ("docs", "doc_stats", "postings")
# the build whose stages are reported, per workload
MAIN_BUILD = {"search": "build.large", "ingest": "build.base"}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def _p90(xs) -> float:
    return float(statistics.quantiles(xs, n=10)[-1]) if len(xs) >= 2 else _median(xs)


def table_written(job: dict) -> "str | None":
    """The index table a write job targets (a path component named
    after one), else None."""
    parts = (job["writes"] or "").rstrip("/").split("/")
    return next((p for p in reversed(parts) if p in TABLE_WRITERS), None)


def module_of(job: dict, op_name: str, where) -> str:
    """Engine module of a job: its call site, or for a write the module
    owning the table (a commit's rewrites count to streaming.incremental)."""
    module = where(job["callsite"])[0]
    table = table_written(job)
    if module == "other" and table:
        module = TABLE_WRITERS[table]
        if op_name.startswith("commit") and module == "plans.engine":
            module = "streaming.incremental"
    return module


def op_stats(span: dict, jobs: list[dict]) -> dict:
    """What one op cost in Spark: job count, tasks, time inside jobs,
    driver time outside them, and the summed task metrics."""
    wall = span["t1"] - span["t0"]
    job_s = covered_s([(j["submit"], j["end"]) for j in jobs], span["t0"], span["t1"])
    return {
        "wall": wall,
        "jobs_per_search": len(jobs),
        "tasks_per_search": sum(j["tasks"] for j in jobs),
        "job_s": job_s,
        "driver_s": wall - job_s,
        "sched_delay_s": sum(j["sched_s"] for j in jobs),
        "task_deser_s": sum(j["deser_s"] for j in jobs),
        "task_run_s": sum(j["run_s"] for j in jobs),
        "result_bytes": sum(j["result_bytes"] for j in jobs),
    }


def build_stages(span: dict, jobs: list[dict], where) -> dict:
    """Stage split of one build_index call.

    docs: the per-block agg that materializes the persisted docs;
    doc_stats: the doc_stats and corpus_stats writes; postings: the
    posting write; presence: from the last of those jobs to the call's
    return (the presence table, built on the driver for small stores,
    and the final index open)."""
    by_stage: dict[str, list[dict]] = {s: [] for s in BUILD_STAGES}
    for j in jobs:
        module, fn = where(j["callsite"])
        table = table_written(j)
        if table in ("doc_stats", "corpus_stats"):
            by_stage["doc_stats"].append(j)
        elif table == "postings":
            by_stage["postings"].append(j)
        elif module == "plans.engine" and fn == "get_block_rows":
            by_stage["docs"].append(j)
    wall = span["t1"] - span["t0"]
    out = {f"{s}_s": covered_s([(j["submit"], j["end"]) for j in js],
                               span["t0"], span["t1"])
           for s, js in by_stage.items()}
    staged = [j for js in by_stage.values() for j in js]
    last = max((j["end"] for j in staged), default=span["t1"])
    out["presence_s"] = max(0.0, span["t1"] - last)
    out["overlap_frac"] = sum(out[f"{s}_s"] for s in BUILD_STAGES) / wall
    out["jobs"] = len(jobs)
    out["postings_task_s"] = sum(j["run_s"] for j in by_stage["postings"])
    return out


def postings_manifest(index_dir: str) -> tuple[int, int]:
    """(bytes, rows) of the posting shards, from the build's manifest."""
    with open(os.path.join(index_dir, "_manifest", "postings.json")) as fh:
        per_block = json.load(fh).get("per_block", {})
    return (sum(int(b.get("bytes") or 0) for b in per_block.values()),
            sum(int(b.get("rows") or 0) for b in per_block.values()))


def per_layer(workload: str, run, spans: list[dict], jobs: dict, root: str) -> dict:
    where = CallSites(root)
    by_op = attribute(jobs, spans)
    ops = [s for s in spans if s["op"] and s["t1"] is not None]
    stats = {s["op"]: op_stats(s, by_op[s["op"]]) for s in ops}
    m: dict[str, float] = {}

    # plans.engine
    m["engine.load_s"] = _median([stats[s["op"]]["wall"] for s in ops
                                  if s["name"] == "engine.load"])
    builds = [build_stages(s, by_op[s["op"]], where) for s in ops
              if s["name"] == MAIN_BUILD[workload]]
    for key in ("docs_s", "doc_stats_s", "postings_s", "presence_s", "overlap_frac"):
        m[f"engine.build.{key}"] = _median([b[key] for b in builds])
    m["engine.build_jobs"] = _median([b["jobs"] for b in builds])

    # operators.build (postings encode + write)
    m["build.postings_task_s"] = _median([b["postings_task_s"] for b in builds])
    p_bytes, p_rows = postings_manifest(run.main_dir)
    m["build.postings_bytes"] = float(p_bytes)
    m["build.bytes_per_posting_row"] = p_bytes / p_rows if p_rows else 0.0

    # operators.query, per route
    for route, name in ROUTES.items():
        rs = [stats[s["op"]] for s in ops if s["name"] == name]
        for f in COUNT_FIELDS:
            m[f"query.{route}.{f}"] = _mean([x[f] for x in rs])
        for f in SECONDS_FIELDS:
            m[f"query.{route}.{f}"] = _median([x[f] for x in rs])
        m[f"query.{route}.p90_s"] = _p90([x["wall"] for x in rs])
    singles = [stats[s["op"]]["jobs_per_search"] for s in ops
               if s["name"] in SINGLE_SEARCHES]
    m["query.direct_frac"] = _mean([n == 0 for n in singles])
    m["query.jvm_tail_frac"] = _mean([n >= 2 for n in singles])
    m["query.shards_after_commits"] = float(len(run.main_index.posting_files))

    # operators.phrasedf
    m["phrasedf.mine_s"] = _median(run.samples["mine"])
    m["phrasedf.build_s"] = _median(run.samples["phrase_build"])
    m["phrasedf.covered_frac"] = _mean(run.covered)

    # streaming.incremental
    for key in INCR_STAGES:
        m[f"incremental.{key}_s"] = _median([st.get(key, 0.0) for st in run.stage_timings])
    m["incremental.other_s"] = _median([
        sum(v for k, v in st.items() if k not in INCR_STAGES)
        for st in run.stage_timings])
    m["incremental.jobs_per_commit"] = _mean([
        stats[s["op"]]["jobs_per_search"] for s in ops if s["name"] == "commit"])
    m["incremental.bytes_written_per_commit"] = _median(run.commit_bytes)
    for key in ("load_index", "sha_gate_probe"):
        m[f"incremental.noop.{key}_s"] = _median(
            [st.get(key, 0.0) for st in run.noop_timings])

    # Spark job time by engine module
    op_name = {s["op"]: s["name"] for s in ops}
    job_op = {j["id"]: op_name[op] for op, js in by_op.items() for j in js}
    per_module = dict.fromkeys(MODULES + ("other",), 0.0)
    for j in jobs.values():
        module = module_of(j, job_op.get(j["id"], ""), where)
        per_module[module if module in per_module else "other"] += j["end"] - j["submit"]
    for module, secs in per_module.items():
        m[f"jobs.{module}_s"] = secs
    attributed = {j["id"] for js in by_op.values() for j in js}
    m["trace.jobs"] = float(len(jobs))
    m["trace.jobs_unattributed"] = float(len(jobs) - len(attributed))


    # latencies whose run-to-run spread on a shared 4-core host is too
    # wide to hold an end-to-end bound (sets of ten seeds): driver-direct
    # searches (search, 0.28-0.39) and first searches after a commit
    # (ingest, 0.21-0.30) of ~50 ms and ~0.5 s; searches presence pruning
    # answers (search, 0.53) and sha-gated re-applies (ingest, 0.23) of
    # ~15 ms and ~1 s
    m["aux_op.p50_s"] = _median(run.samples["aux_op"])
    m["noop.p50_s"] = _median(run.samples["noop_op"])

    # declared queries (traced ingest runs)
    for name in gate_queries():
        m[f"gate.{name}_s"] = run.gate.get(name, 0.0)
    m["gate.sweep_s"] = sum(run.gate.values())
    return m


def gate_queries() -> list[str]:
    import __spark_entry__

    return list(__spark_entry__.queries())
