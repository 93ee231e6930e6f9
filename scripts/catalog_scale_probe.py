#!/usr/bin/env python
"""Catalog scaling probe: how does PLANNING latency behave when the
index holds a 100 TB-shaped file population?

At 100 TB with ~512 MB files a table has ~200k files; with 8 row
groups each that is ~1.6M row-group stats rows. Planning cost is the
index's whole value proposition — it must stay milliseconds while the
data it replaces scanning grows unbounded. This probe builds synthetic
catalogs (no parquet involved: planning touches only the catalog) at
increasing file counts and times plan-shaped lookups on the SQLite
backend: point equality, a 1% range, a contradiction, and an IN-list,
plus the bulk ``upsert_files`` load (``load_s``) that bounds index-build
time.

Two layouts run at each tier. ``sorted``: file f holds [f*8e5,
(f+1)*8e5) in 8 abutting row groups, like a table clustered on the
column. ``interleaved``: row group r of file f holds a narrow interval
in slot r*files + f, so a file's row groups lie far apart and every
file's envelope spans the whole domain. With the R-tree on,
``rtree_entries`` counts its entries: one per gap-free run of a file's
row groups, whose interval is exactly the union of its members'. The
sorted layout needs one entry per file, the interleaved one an entry
per row group. Runs lose no precision: a window that touches a run
touches at least one of its members, and the exact stats SQL still
decides every row group.

Next to the lookup timings each tier prints the end-to-end planner:
``plan_{point,range1pct,in10,unpruned}_ms`` time
``IndexedParquetTable.plan_scan`` through a table assembled over the
catalog alone (no Parquet, no Spark job). The unpruned predicate keeps
every row group, so its row shows what grouping and ordering the whole
catalog's survivors on the driver costs. ``all_files_ms`` /
``totals_ms`` time the O(files) file-row read and the O(1) counter read
that fills ``ScanDecision.total_row_groups``.

Usage: python scripts/catalog_scale_probe.py [max_files]
Prints one JSON line per layout, scale tier and R-tree setting.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_async_parquet_index_spark.plans.expr import Col, InList, Lit
from datafusion_async_parquet_index_spark.plans.pruning import PruningRewriter
from datafusion_async_parquet_index_spark.sources.catalog import (
    FileStats, RowGroupStats, SqliteIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

RGS_PER_FILE = 8
ROWS_PER_RG = 100_000
NARROW = 1_000   # an interleaved row group's width, far below its slot's
LAYOUTS = ("sorted", "interleaved")


def bounds(layout: str, n_files: int, f: int, rg: int) -> tuple:
    """[min, max] of row group rg of file f."""
    if layout == "sorted":
        lo = (f * RGS_PER_FILE + rg) * ROWS_PER_RG
        return lo, lo + ROWS_PER_RG - 1
    lo = (rg * n_files + f) * ROWS_PER_RG
    return lo, lo + NARROW


def build(n_files: int, layout: str = "sorted", rtree: bool = False) -> tuple:
    cat = SqliteIndexCatalog(rtree_columns=("v",) if rtree else ())
    cat.initialize({"v": "int"})
    items = (
        (FileStats(f"f{f:07d}.parquet", 512 << 20, RGS_PER_FILE,
                   RGS_PER_FILE * ROWS_PER_RG),
         [RowGroupStats(row_group=rg, row_count=ROWS_PER_RG,
                        columns={"v": (0, *bounds(layout, n_files, f, rg))})
          for rg in range(RGS_PER_FILE)])
        for f in range(n_files))
    t0 = time.perf_counter()
    cat.upsert_files(items)
    return cat, time.perf_counter() - t0


def planner(cat: SqliteIndexCatalog) -> IndexedParquetTable:
    """A table over the catalog alone, assembled the way
    ``queries._make_table`` assembles its partial table: plan_scan
    needs the catalog, the index schema, the rewriter, the file list
    and the scan log, never a Spark session or a Parquet footer."""
    t = IndexedParquetTable.__new__(IndexedParquetTable)
    t.catalog = cat
    t.index_schema = {"v": "int"}
    t._rewriter = PruningRewriter(t.index_schema)
    t._files = [f[0] for f in cat.all_files()]
    t._reset_scan_log()
    return t


def best_ms(fn, reps=20) -> tuple:
    """(best wall time in ms over reps calls, the last result)"""
    best = float("inf")
    for _ in range(reps):
        a = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - a)
    return round(best * 1000, 3), out


def probe(n_files: int, layout: str = "sorted", rtree: bool = False) -> dict:
    cat, load_s = build(n_files, layout, rtree=rtree)
    rw = PruningRewriter({"v": "int"})
    domain = n_files * RGS_PER_FILE * ROWS_PER_RG

    def t_plan(pred, windows):
        sp = rw.rewrite(pred)
        ms, res = best_ms(lambda: cat.get_files(sp, prefilter=("v", windows))
                          if rtree else cat.get_files(sp))
        return ms, sum(len(r) for _, r in res)

    point = Col("v") == Lit(domain // 2)
    lo = domain // 2
    rng = (Col("v") >= Lit(lo)) & (Col("v") <= Lit(lo + domain // 100))
    in_lits = [i * domain // 10 + 7 for i in range(10)]
    in10 = InList(Col("v"), [Lit(x) for x in in_lits])
    unpruned = Col("v") >= Lit(0)
    point_ms, point_rgs = t_plan(point, [(domain // 2, domain // 2)])
    rng_ms, rng_rgs = t_plan(rng, [(lo, lo + domain // 100)])
    contra_ms, contra_rgs = t_plan(
        (Col("v") > Lit(domain)) & (Col("v") < Lit(0)), [(domain, 0)])
    in_ms, in_rgs = t_plan(in10, [(x, x) for x in in_lits])
    all_files_ms, _ = best_ms(cat.all_files)
    totals_ms, _ = best_ms(cat.totals)
    table = planner(cat)
    plans = {}
    for name, pred, rgs, reps in (("point", point, point_rgs, 20),
                                  ("range1pct", rng, rng_rgs, 20),
                                  ("in10", in10, in_rgs, 20),
                                  ("unpruned", unpruned,
                                   n_files * RGS_PER_FILE, 5)):
        plans[f"plan_{name}_ms"], dec = best_ms(
            lambda: table.plan_scan(pred), reps)
        assert dec.row_groups_scanned == rgs, (name, dec.row_groups_scanned)
    return {
        "layout": layout, "files": n_files,
        "rg_rows": n_files * RGS_PER_FILE, "rtree": rtree,
        "rtree_entries": (cat._query('SELECT COUNT(*) FROM "rg_rtree_v"')[0][0]
                          if rtree else None),
        "load_s": round(load_s, 2),
        "upserts_per_s": round(n_files / load_s),
        "point_ms": point_ms, "point_rgs": point_rgs,
        "range1pct_ms": rng_ms, "range1pct_rgs": rng_rgs,
        "contradiction_ms": contra_ms, "contradiction_rgs": contra_rgs,
        "in10_ms": in_ms, "in10_rgs": in_rgs,
        "all_files_ms": all_files_ms, "totals_ms": totals_ms,
        **plans,
    }


if __name__ == "__main__":
    max_files = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n = 2_000
    while n <= max_files:
        for layout in LAYOUTS:
            for rtree in (False, True):
                print(json.dumps(probe(n, layout, rtree=rtree)), flush=True)
        n *= 10
