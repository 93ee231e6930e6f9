"""Catalog totals: the (files, row_groups, rows) counters every backend
serves through ``catalog.totals()`` must equal a fold over
``all_files()`` after every verb that moves file rows, must heal on
reopen when persisted without (or with a wrong) counter row, and must be
visible to a second handle on the same database. Planning reads the
counters instead of the file rows, and the execution log stays bounded.
"""

import os
import sqlite3

import pytest
from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark.plans.expr import col
from datafusion_async_parquet_index_spark.sources.catalog import (
    DBAPIIndexCatalog, FileStats, RowGroupStats, SqliteIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.df_catalog import (
    DataFrameIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)
from fixture_io import one_file

_BACKENDS = {
    "sqlite": lambda spark: SqliteIndexCatalog(),
    "dbapi_qmark": lambda spark: DBAPIIndexCatalog(
        lambda: sqlite3.connect(":memory:", check_same_thread=False)),
    "df": lambda spark: DataFrameIndexCatalog(spark),
}


def _fold(cat):
    files = cat.all_files()
    return (len(files), sum(f[2] for f in files), sum(f[3] for f in files))


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 7 % 100).cast("long").alias("v"))


@pytest.mark.parametrize("backend", sorted(_BACKENDS))
def test_totals_track_every_verb(spark, tmp_path, backend):
    d = str(tmp_path / backend)
    os.makedirs(d)
    base = _rows(spark, 0, 3_000)
    for i in range(3):
        one_file(base.filter(F.col("k") % 3 == i).orderBy("k"), d,
                 f"part{i}.parquet")
    t = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"],
                            catalog=_BACKENDS[backend](spark))

    def check(step):
        assert t.catalog.totals() == _fold(t.catalog), step

    check("build")
    t.append(_rows(spark, 3_000, 3_500))
    t.refresh()
    check("append + refresh")
    # rewrite one file in place with smaller row groups: its re-upsert
    # changes the file's row-group count but not the file count
    rgs_before = t.catalog.row_group_count("part1.parquet")
    one_file(base.filter(F.col("k") % 3 == 1).orderBy("k"), d,
             "part1.parquet", block=2_048)
    t.refresh()
    assert t.catalog.row_group_count("part1.parquet") != rgs_before
    check("re-upsert")
    os.remove(os.path.join(d, "part2.parquet"))
    t.refresh()
    check("file deleted + refresh")
    snap = t.snapshot()
    t.delete_where(col("k") < 100)
    check("delete_where")
    t.update_where(col("v") == 3, {"v": "v + 1000"})
    check("update_where")
    t.restore(snap)
    check("restore")
    t.delete_where(col("k") < 100)
    assert t.compact_deletes() > 0
    check("compact_deletes")
    assert t.compact_small_files(target_bytes=1 << 30) > 0
    check("compact_small_files")
    assert t.count_rows() == t.to_df().count()


def _persisted(db, connect=None, rtree=True):
    cat = (DBAPIIndexCatalog(connect) if connect
           else SqliteIndexCatalog(db, rtree_columns=("v",) if rtree else ()))
    cat.initialize({"v": "int"})
    return cat


def _upsert(cat, name, n_rgs):
    cat.upsert_file(
        FileStats(name, 1_000, n_rgs, 10 * n_rgs),
        [RowGroupStats(rg, 10, {"v": (0, rg, rg + 9)})
         for rg in range(n_rgs)])


@pytest.mark.parametrize("backend", ["sqlite", "dbapi_qmark"])
@pytest.mark.parametrize("damage", [
    "DROP TABLE catalog_totals",
    "UPDATE catalog_totals SET files = 99, row_groups = 0, row_count = -1",
])
def test_totals_reconcile_on_reopen(tmp_path, backend, damage):
    db = str(tmp_path / "index.db")
    connect = None if backend == "sqlite" else (
        lambda: sqlite3.connect(db, check_same_thread=False))
    cat = _persisted(db, connect)
    for i in range(4):
        _upsert(cat, f"f{i}.parquet", i + 1)
    want = (4, 10, 100)
    assert cat.totals() == want
    cat.close()
    raw = sqlite3.connect(db)
    raw.execute(damage)
    raw.commit()
    raw.close()
    cat = _persisted(db, connect)
    assert cat.totals() == want == _fold(cat)
    cat.close()


def test_reattach_to_consistent_totals_takes_no_write_lock(tmp_path):
    db = str(tmp_path / "index.db")
    cat = _persisted(db)
    _upsert(cat, "a.parquet", 3)
    cat.close()
    writer = sqlite3.connect(db, isolation_level=None)
    writer.execute("BEGIN IMMEDIATE")   # another process mid-transaction
    try:
        reader = SqliteIndexCatalog(db, rtree_columns=("v",))
        reader._conn.execute("PRAGMA busy_timeout = 0")
        reader.initialize({"v": "int"})
        assert reader.totals() == (1, 3, 30)
        reader.close()
    finally:
        writer.execute("ROLLBACK")
        writer.close()


def test_second_handle_sees_upserts(tmp_path):
    db = str(tmp_path / "index.db")
    first, second = _persisted(db), _persisted(db)
    assert second.totals() == (0, 0, 0)
    _upsert(first, "a.parquet", 2)
    _upsert(first, "b.parquet", 5)
    assert second.totals() == (2, 7, 70)
    _upsert(first, "b.parquet", 1)       # re-upsert shrinks the file
    first.remove_file("a.parquet")
    first.remove_file("missing.parquet")
    assert second.totals() == (1, 1, 10) == _fold(second)
    # one batch transaction re-upserting a name it already wrote
    first.upsert_files(
        (FileStats(name, 1_000, n, 10 * n),
         [RowGroupStats(rg, 10, {"v": (0, rg, rg + 9)}) for rg in range(n)])
        for name, n in (("c.parquet", 2), ("b.parquet", 3),
                        ("c.parquet", 4)))
    assert second.totals() == (2, 7, 70) == _fold(second)
    first.close()
    second.close()


def test_concurrent_writers_of_the_same_files_keep_totals_exact(tmp_path):
    """More writer handles than cores upsert, re-upsert and remove an
    overlapping set of file names: a writer that read a file's prior
    row outside its write lock would count a file twice."""
    import random
    import sys
    import threading

    db = str(tmp_path / "index.db")
    cats = [_persisted(db, rtree=False)
            for _ in range(2 * (os.cpu_count() or 2))]
    errors = []

    def writer(cat, seed):
        rng = random.Random(seed)
        try:
            for _ in range(80):
                name = f"f{rng.randrange(6)}.parquet"
                if rng.random() < 0.25:
                    cat.remove_file(name)
                else:
                    _upsert(cat, name, rng.randint(1, 4))
        except Exception as exc:   # surfaced by the assert below
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(cat, i))
                   for i, cat in enumerate(cats)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    for cat in cats:
        assert cat.totals() == _fold(cat)
        cat.close()


def test_plan_reads_no_file_rows_and_history_is_bounded(spark, demo_dir,
                                                        monkeypatch):
    t = IndexedParquetTable(spark, demo_dir, ["value"])
    reads = {"n": 0}
    all_files = t.catalog.all_files

    def counting():
        reads["n"] += 1
        return all_files()

    monkeypatch.setattr(t.catalog, "all_files", counting)
    for i in range(1_000):
        dec = t.plan_scan(col("value") == i)
    assert reads["n"] == 0
    assert dec.total_row_groups == _fold(t.catalog)[1]
    cap = IndexedParquetTable.SCAN_HISTORY_CAP
    assert len(t.scan_history) == cap
    assert t.scan_history[-1] is t.last_scan
