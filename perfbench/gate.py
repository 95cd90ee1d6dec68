"""The declared-query sweep: every ``__spark_entry__.queries()`` entry
run once over small seeded tables, each result checked against its
``oracle_sql()`` twin on DuckDB.

The tables have the columns the declared queries read from the sf
tables (``documents``, ``embeddings``, ``events``, ``customer``,
``orders``). Document texts are ``sources.corpus.gen_file`` files, the
same fixture the search corpora use; the other tables are seeded
numbers. The media queries' fixed scratch files are pointed into the
run's work directory.
"""

from __future__ import annotations

import os
import time

import numpy as np

from codebased_spark.sources.corpus import gen_file

N_DOCS = 400
N_VECS = 300
DIM = 64
N_EVENTS = 3000
N_USERS = 100
N_CUSTOMERS = 150
N_ORDERS = 600
EVENT_TYPES = ("click", "view", "search", "commit")


def write_tables(out_dir: str, seed: int) -> str:
    """Write the seeded tables as ``<name>.parquet``; return ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 6])
    texts = [gen_file(i // 50, i % 50, seed)[2] for i in range(N_DOCS)]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 2 * 86400, N_EVENTS)).astype("timedelta64[s]")
    tables = {
        "documents": {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["code"] * N_DOCS, pa.string()),
            "source": pa.array(["gen_file"] * N_DOCS, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int32()),
        },
        "embeddings": {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(rng.standard_normal((N_VECS, DIM)).astype(np.float32)),
                                  pa.list_(pa.float32())),
        },
        "events": {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "ts": pa.array(ts0 + offsets, pa.timestamp("us")),
            "event_type": pa.array([EVENT_TYPES[k] for k in
                                    rng.integers(0, len(EVENT_TYPES), N_EVENTS)], pa.string()),
            # whole cents, so sums round the same way on both engines
            "value": pa.array(rng.integers(0, 10_000, N_EVENTS) / 100, pa.float64()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(1, N_CUSTOMERS + 1), pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(1, N_CUSTOMERS + 1)],
                               pa.string()),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1), pa.int64()),
            # two customers in three place orders; the rest never do
            "o_custkey": pa.array(rng.integers(1, N_CUSTOMERS * 2 // 3 + 1, N_ORDERS),
                                  pa.int64()),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def sweep(run, sf_dir: str) -> dict:
    """Run every declared query once, timing the query and the collection
    of its rows, then check each against its oracle. Returns wall seconds
    by query name; a query that raises or disagrees is a failed op."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_entry import normalize

    # the media queries write and read two fixed scratch files; keep
    # them inside the run's work directory
    moved = {}
    for attr, name in (("_GATE_MEDIA_PATH", "gate_media.parquet"),
                       ("_GATE_PROJ_PATH", "gate_proj.parquet")):
        moved[getattr(entry, attr)] = os.path.join(run.work, name)
        setattr(entry, attr, moved[getattr(entry, attr)])
    oracles = {}
    for name, sql in entry.oracle_sql().items():
        for old, new in moved.items():
            sql = sql.replace(old, new)
        oracles[name] = sql

    walls: dict[str, float] = {}
    results = {}
    for name, fn in entry.queries().items():
        run.attempted += 1
        with run.tr.span(f"gate.{name}", op=True):
            t0 = time.perf_counter()
            try:
                results[name] = fn(run.spark, sf_dir).toPandas()
            except Exception as e:  # counted, reported, the sweep goes on
                run.fail(f"gate.{name}", f"{type(e).__name__}: {e}")
                continue
            walls[name] = time.perf_counter() - t0

    with run.tr.span("verify"):
        con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            table = f.removesuffix(".parquet")
            con.execute(f"create view {table} as select * from "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
        for name, got in results.items():
            if name not in oracles:
                run.fail(f"gate.{name}", "no oracle")
                continue
            try:
                ref = normalize(con.execute(oracles[name]).df())
            except duckdb.Error as e:
                run.fail(f"gate.{name}", f"oracle error: {e}")
                continue
            ours = normalize(got)
            if run.perturb and name == "dedup_exact":
                ours = ours + [("phantom",)]
            if ours != ref:
                diff = next(((x, y) for x, y in zip(ours + [None], ref + [None])
                             if x != y), None)
                run.fail(f"gate.{name}", f"{len(ours)} rows vs oracle {len(ref)}; "
                                         f"first difference {diff}")
        con.close()
    return walls
