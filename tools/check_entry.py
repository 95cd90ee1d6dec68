"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
over the same sf dir, compare row counts + order-insensitive values.

Usage: python tools/check_entry.py [sf_dir]
"""

from __future__ import annotations

import datetime
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _value(v):
    """One result value in comparable form: a float rounded to 6
    decimals, an aware timestamp as naive UTC (DuckDB returns TIMESTAMP
    naive)."""
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def normalize(table):
    """Sort columns by name, normalize values (:func:`_value`), sort
    rows -> list of tuples. Takes a pyarrow Table (Spark
    ``DataFrame.toArrow()``, DuckDB ``.arrow()``), so a bigint stays an
    exact Python int and a null stays None. A pandas frame is converted
    to Arrow first; its bigint columns that hold a null have already
    become float64 there."""
    import pyarrow as pa

    if not isinstance(table, pa.Table):
        table = pa.Table.from_pandas(table, preserve_index=False)

    def values(col):
        # microseconds, Spark's precision: a nanosecond column (pandas)
        # would list as pandas Timestamps, which sort apart from datetimes
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", col.type.tz))
        return [_value(v) for v in col.to_pylist()]

    columns = [values(table.column(c)) for c in sorted(table.column_names)]
    return sorted(zip(*columns), key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None

    import __spark_entry__ as entry
    from codebased_spark.session import get_spark

    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from read_parquet('{p}')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toArrow()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {sdf.num_rows} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).arrow()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error {str(e)[:200]}")
            continue
        a, b = normalize(sdf), normalize(odf)
        if len(a) != len(b):
            failures.append((name, f"row count {len(a)} vs {len(b)}"))
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
        elif a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            failures.append((name, f"values differ, e.g. {diff[:1]}"))
            print(f"FAIL  {name}: values differ; first diffs: {diff}")
        else:
            print(f"OK    {name}: {len(a)} rows match")

    print()
    smoke = entry.entry(spark)
    n = smoke.count()
    print(f"entry() smoke: {n} rows, schema: {[f.name for f in smoke.schema.fields]}")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES")
        sys.exit(1)
    print("\nALL MATCH")


if __name__ == "__main__":
    main()
