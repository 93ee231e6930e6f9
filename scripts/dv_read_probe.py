#!/usr/bin/env python
"""Deletion-vector read probe: what does the row-level layer cost a
DV-filtered read, split into building the plan and running it?

A DV-filtered read anti-joins the scan against the deleted (file,
position) pairs. The build side is a frame made on the driver from the
catalog's range-compressed vectors, so its cost is the driver-to-JVM
hand-off plus whatever Spark runs to materialize it on each action.

The probe writes a 1,000,000-row table of 4 Parquet files, then deletes
every 1000th, 50th and 5th key in turn (about 1k, 20k and 200k scattered
single-row ranges; each step includes the previous one). After each
step it times ``query(None).count()`` over the whole table:

- ``build_ms``: constructing the DataFrame with the build-side memo
  cleared, i.e. the first read after a DML verb;
- ``action_ms``: the ``count()``;
- ``jobs``: the Spark jobs that count ran.

It ends with the same three numbers for a contradictory predicate,
whose plan has no surviving file and is an empty frame. Counts are
checked against the expected live rows. Each line is the median of
``--reps`` reads (default 5).

Usage: python scripts/dv_read_probe.py [--reps N]
Prints one JSON line per step.
"""

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = 1_000_000
N_FILES = 4
STEPS = (1000, 50, 5)   # delete keys divisible by each, cumulatively


def timed_count(spark, t, predicate, expect, reps):
    sc = spark.sparkContext
    build, action, jobs = [], [], []
    for i in range(reps):
        t._dv_pos_memo = None
        t0 = time.perf_counter()
        df = t.query(predicate)
        t1 = time.perf_counter()
        group = f"dv_read_probe_{time.time_ns()}_{i}"
        sc.setJobGroup(group, group)
        n = df.count()
        t2 = time.perf_counter()
        sc.setJobGroup("", "")
        if n != expect:
            raise AssertionError(f"count {n} != expected {expect}")
        build.append((t1 - t0) * 1e3)
        action.append((t2 - t1) * 1e3)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    return {"build_ms": round(statistics.median(build), 1),
            "action_ms": round(statistics.median(action), 1),
            "jobs": statistics.median(jobs)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # keep the progress bar off stdout, which carries the JSON lines
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from pyspark.sql import functions as F

    from datafusion_async_parquet_index_spark.plans.expr import col
    from datafusion_async_parquet_index_spark.session import get_spark
    from datafusion_async_parquet_index_spark.sources.table import (
        IndexedParquetTable,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as d:
        (spark.range(N_ROWS).select(F.col("id").alias("k"),
                                    (F.col("id") % 997).alias("v"))
         .repartitionByRange(N_FILES, "k").sortWithinPartitions("k")
         .write.parquet(d, mode="overwrite"))
        t = IndexedParquetTable(spark, d, ["k"])
        live = N_ROWS
        timed_count(spark, t, None, live, 1)   # warm the JVM paths
        for step in STEPS:
            # keys already deleted by a coarser step stay deleted
            live -= t.delete_where((col("k") % step) == 0)
            ranges = t.catalog.get_dv_ranges()
            line = {"step": f"k % {step} == 0",
                    "dv_positions": sum(ln for rs in ranges.values()
                                        for _, ln in rs),
                    "dv_ranges": sum(len(rs) for rs in ranges.values())}
            line.update(timed_count(spark, t, None, live, args.reps))
            print(json.dumps(line), flush=True)
        line = {"step": "empty frame (no surviving file)"}
        line.update(timed_count(spark, t, col("k") < -1, 0, args.reps))
        print(json.dumps(line), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
