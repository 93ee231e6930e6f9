"""The R-tree's run contract: one entry per gap-free run of a file's row
groups (``catalog.rtree_runs``), the lookup joins a run back to its
member row groups, and a catalog persisted with one entry per row group
is rebuilt on open."""

import datetime as dt
import math

import pytest

from datafusion_async_parquet_index_spark.plans.expr import Col, InList, Lit
from datafusion_async_parquet_index_spark.plans.pruning import PruningRewriter
from datafusion_async_parquet_index_spark.sources.catalog import (
    _RTREE_ID_STRIDE, FileStats, RowGroupStats, SqliteIndexCatalog,
    encode_value, rtree_runs,
)

INF = math.inf


def test_dense_ints_merge_into_one_run():
    assert rtree_runs("int", [(0, 0, 9), (1, 10, 19), (2, 20, 29)]) == [
        (0, 2, 0.0, 29.0)]


def test_overlapping_and_descending_ints_merge():
    assert rtree_runs("int", [(0, 0, 15), (1, 10, 19)]) == [
        (0, 1, 0.0, 19.0)]
    assert rtree_runs("int", [(0, 20, 29), (1, 10, 19), (2, 0, 9)]) == [
        (0, 2, 0.0, 29.0)]


def test_gap_of_two_splits_the_run():
    # 20 lies in neither row group: the run must not cover it
    assert rtree_runs("int", [(0, 0, 19), (1, 21, 30), (2, 31, 40)]) == [
        (0, 0, 0.0, 19.0), (1, 2, 21.0, 40.0)]


def test_adjacent_dates_and_timestamps_merge():
    days = [dt.date(2024, 2, 27) + dt.timedelta(days=i) for i in range(4)]
    bounds = [(i, encode_value("date", d), encode_value("date", d))
              for i, d in enumerate(days)]
    lo, hi = bounds[0][1], bounds[-1][2]
    assert rtree_runs("date", bounds) == [(0, 3, float(lo), float(hi))]
    assert len(rtree_runs("date", bounds[:2] + [(2, hi, hi)])) == 2
    us = [encode_value("timestamp", dt.datetime(2024, 1, 1, 0, 0, s))
          for s in range(3)]
    assert [r[:2] for r in rtree_runs(
        "timestamp", [(0, us[0], us[1] - 1), (1, us[1], us[2])])] == [(0, 1)]


def test_floats_merge_only_when_they_touch():
    assert rtree_runs("float", [(0, 0.0, 1.0), (1, 1.0, 2.0)]) == [
        (0, 1, 0.0, 2.0)]
    # integer adjacency is a gap in the float domain
    assert rtree_runs("float", [(0, 0.0, 1.0), (1, 2.0, 3.0)]) == [
        (0, 0, 0.0, 1.0), (1, 1, 2.0, 3.0)]
    assert rtree_runs("int", [(0, 0, 1), (1, 2, 3)]) == [(0, 1, 0.0, 3.0)]


def test_null_or_nan_bound_stays_alone_with_the_full_domain():
    assert rtree_runs("int", [(0, 0, 9), (1, None, None), (2, 10, 19)]) == [
        (0, 0, 0.0, 9.0), (1, 1, -INF, INF), (2, 2, 10.0, 19.0)]
    assert rtree_runs("int", [(0, None, 5), (1, None, None)]) == [
        (0, 0, -INF, INF), (1, 1, -INF, INF)]
    assert rtree_runs("float", [(0, 0.0, 1.0), (1, math.nan, 1.0),
                                (2, 1.0, 2.0)]) == [
        (0, 0, 0.0, 1.0), (1, 1, -INF, INF), (2, 2, 1.0, 2.0)]


def test_only_consecutive_row_groups_merge():
    assert rtree_runs("int", [(0, 0, 9), (2, 10, 19)]) == [
        (0, 0, 0.0, 9.0), (2, 2, 10.0, 19.0)]


def test_run_bounds_widen_outward_to_f32():
    (_, _, lo, hi), = rtree_runs("int", [(0, 2**24 + 1, 2**24 + 3),
                                         (1, 2**24 + 4, 2**25 + 1)])
    assert lo <= 2**24 + 1 and hi >= 2**25 + 1


# -- the catalog side ---------------------------------------------------

# file name -> its row groups' [min, max] (None: bounds unknown)
LAYOUT = {
    "a.parquet": [(0, 9), (10, 19), (20, 29), (30, 39)],      # one run
    "b.parquet": [(40, 49), (60, 69), (70, 79)],               # gap: 2 runs
    "c.parquet": [(80, 89), None, (90, 99)],                   # NULL alone
    "d.parquet": [(5, 5), (500, 500), (45, 45), (95, 95)],     # interleaved
}
RUNS = {"a.parquet": [(0, 3)], "b.parquet": [(0, 0), (1, 2)],
        "c.parquet": [(0, 0), (1, 1), (2, 2)],
        "d.parquet": [(0, 0), (1, 1), (2, 2), (3, 3)]}


def _fill(cat):
    for name, bounds in LAYOUT.items():
        rgs = [RowGroupStats(row_group=i, row_count=10,
                             columns={"v": (0, *(b or (None, None)))})
               for i, b in enumerate(bounds)]
        cat.upsert_file(FileStats(name, 100, len(rgs), 10 * len(rgs)), rgs)


def _runs(cat):
    names = dict(cat._query("SELECT file_id, file_name FROM file_statistics"))
    out = {}
    for rid, last in cat._query(
            'SELECT id, last_rg FROM "rg_rtree_v" ORDER BY id'):
        fid, first = divmod(rid, _RTREE_ID_STRIDE)
        out.setdefault(names[fid], []).append((first, last))
    return out


PROBES = [
    (Col("v") == Lit(45), [(45, 45)]),
    (Col("v") == Lit(50), [(50, 50)]),
    (Col("v") == Lit(55), [(55, 55)]),
    ((Col("v") >= Lit(25)) & (Col("v") <= Lit(62)), [(25, 62)]),
    ((Col("v") >= Lit(600)) & (Col("v") <= Lit(700)), [(600, 700)]),
    (InList(Col("v"), [Lit(5), Lit(33), Lit(95), Lit(500)]),
     [(5, 5), (33, 33), (95, 95), (500, 500)]),
]


def _plans(cat, with_window):
    rw = PruningRewriter({"v": "int"})
    return [cat.get_files(rw.rewrite(p),
                          prefilter=("v", wins) if with_window else None)
            for p, wins in PROBES]


def test_catalog_stores_runs_and_plans_like_the_plain_catalog():
    plain = SqliteIndexCatalog()
    plain.initialize({"v": "int"})
    _fill(plain)
    cat = SqliteIndexCatalog(rtree_columns=["v"])
    cat.initialize({"v": "int"})
    _fill(cat)
    assert _runs(cat) == RUNS
    assert _plans(cat, True) == _plans(plain, False)
    # a re-upsert that splits a run replaces the file's entries
    cat.upsert_file(FileStats("a.parquet", 101, 2, 20), [
        RowGroupStats(row_group=0, row_count=10, columns={"v": (0, 0, 9)}),
        RowGroupStats(row_group=1, row_count=10, columns={"v": (0, 20, 29)})])
    assert _runs(cat)["a.parquet"] == [(0, 0), (1, 1)]
    cat.remove_file("b.parquet")
    assert "b.parquet" not in _runs(cat)


def test_row_group_rtree_of_an_older_catalog_is_rebuilt(tmp_path):
    """A catalog persisted with one R-tree entry per row group and no
    ``last_rg`` column is dropped and rebuilt as runs on open."""
    db = str(tmp_path / "cat.db")
    old = SqliteIndexCatalog(db)
    old.initialize({"v": "int"})
    _fill(old)
    with old._txn():
        old._exec('CREATE VIRTUAL TABLE "rg_rtree_v" USING rtree(id, mn, mx)')
        old._execmany(
            'INSERT INTO "rg_rtree_v" (id, mn, mx) VALUES (?, ?, ?)',
            [(fid * _RTREE_ID_STRIDE + rg,
              -INF if mn is None else mn, INF if mx is None else mx)
             for fid, rg, mn, mx in old._query(
                 'SELECT file_id, row_group, "v_min", "v_max" '
                 "FROM row_group_statistics")])
    want = _plans(old, False)
    old._conn.close()

    cat = SqliteIndexCatalog(db, rtree_columns=["v"])
    cat.initialize({"v": "int"})
    assert cat._rtree_active == ["v"]
    assert "last_rg" in cat._existing_columns('"rg_rtree_v"')
    assert _runs(cat) == RUNS
    assert _plans(cat, True) == want
    cat._conn.close()


@pytest.mark.parametrize("n_files", [3, 40])
def test_sorted_layout_holds_one_entry_per_file(n_files):
    cat = SqliteIndexCatalog(rtree_columns=["v"])
    cat.initialize({"v": "int"})
    cat.upsert_files(
        (FileStats(f"f{f:03d}.parquet", 1, 8, 32),
         [RowGroupStats(row_group=r, row_count=4,
                        columns={"v": (0, f * 32 + r * 4,
                                       f * 32 + r * 4 + 3)})
          for r in range(8)])
        for f in range(n_files))
    assert cat._query('SELECT COUNT(*) FROM "rg_rtree_v"')[0][0] == n_files
    rw = PruningRewriter({"v": "int"})
    got = cat.get_files(rw.rewrite(Col("v") == Lit(37)),
                        prefilter=("v", [(37, 37)]))
    assert got == [("f001.parquet", [1])]
