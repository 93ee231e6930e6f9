"""Regression tests for the round-6 advisory findings.

1. (high) rtree late activation: enabling ``rtree_columns`` on a catalog
   PERSISTED without it must backfill the rtree from the stored stats —
   ``incremental_attach`` skips unchanged files, so without
   reconciliation the empty rtree's INNER-JOIN prefilter in
   ``get_files`` silently drops every valid row group.
2. (high, same root) toggle OFF then ON: while deactivated, upserts stop
   maintaining the rtree; re-activation must not trust stale intervals.
3. (low) ``_RTREE_ID_STRIDE`` aliasing: a file with >= stride row groups
   must be rejected loudly, not silently corrupt the id mapping.
4. (low) ``_dict_refine`` cross-type literals: an int literal against a
   string-categorized dict column (or vice versa) must keep the row
   group — Spark's implicit cast in the residual filter could match.
5. (low) ``extract_file_hists`` invalid spec: explicit ValueError, not a
   bare assert that vanishes under ``python -O``.
"""

import pytest

from datafusion_async_parquet_index_spark.plans.expr import (
    Col, InList, Lit,
)
from datafusion_async_parquet_index_spark.sources.catalog import (
    _RTREE_ID_STRIDE, FileStats, RowGroupStats, SqliteIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.demo_corpus import (
    write_demo_corpus,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("advice_corpus"))
    write_demo_corpus(d)
    return d


def test_rtree_late_activation_backfills(spark, corpus, tmp_path):
    db = str(tmp_path / "cat.db")
    t0 = IndexedParquetTable(spark, corpus, ["value", "text"],
                             catalog=SqliteIndexCatalog(db))
    preds = [
        Col("value") == Lit(150),
        (Col("value") >= Lit(50)) & (Col("value") < Lit(250)),
        InList(Col("value"), [Lit(1), Lit(150), Lit(2999)]),
    ]
    want = [t0.plan_scan(p).files_scanned for p in preds]
    assert any(want), "demo corpus should match these probes"
    t0.catalog._conn.close()

    t1 = IndexedParquetTable(
        spark, corpus, ["value", "text"],
        catalog=SqliteIndexCatalog(db, rtree_columns=["value"]),
        incremental_attach=True)
    assert t1.catalog._rtree_active == ["value"]
    # the rtree was reconciled, not left empty: its runs cover every
    # row group once
    n = t1.catalog._query(
        f'SELECT SUM(last_rg - id % {_RTREE_ID_STRIDE} + 1) '
        f'FROM "rg_rtree_value"')[0][0]
    m = t1.catalog._query(
        "SELECT COUNT(*) FROM row_group_statistics")[0][0]
    assert n == m > 0
    got = [t1.plan_scan(p).files_scanned for p in preds]
    assert got == want
    t1.catalog._conn.close()


def test_rtree_toggle_off_then_on_rebuilds(tmp_path):
    db = str(tmp_path / "cat.db")
    c1 = SqliteIndexCatalog(db, rtree_columns=["v"])
    c1.initialize({"v": "int"})
    c1.upsert_file(
        FileStats("f.parquet", 1, 1, 10),
        [RowGroupStats(row_group=0, row_count=10,
                       columns={"v": (0, 0, 9)})])
    c1._conn.close()

    # reopen WITHOUT the flag; the file's contents (and stats) change
    c2 = SqliteIndexCatalog(db)
    c2.initialize({"v": "int"})
    c2.upsert_file(
        FileStats("f.parquet", 2, 1, 10),
        [RowGroupStats(row_group=0, row_count=10,
                       columns={"v": (0, 100, 109)})])
    c2._conn.close()

    # reopen WITH the flag: the interval must reflect the NEW stats
    c3 = SqliteIndexCatalog(db, rtree_columns=["v"])
    c3.initialize({"v": "int"})
    rows = c3._query('SELECT id, mn, mx, last_rg FROM "rg_rtree_v"')
    assert len(rows) == 1
    fid = c3._query("SELECT file_id FROM file_statistics")[0][0]
    assert rows[0][0] == fid * _RTREE_ID_STRIDE and rows[0][3] == 0, rows
    assert rows[0][1] <= 100 and rows[0][2] >= 109, rows
    c3._conn.close()


def test_upsert_rejects_row_group_count_at_stride():
    cat = SqliteIndexCatalog(rtree_columns=["v"])
    cat.initialize({"v": "int"})
    with pytest.raises(ValueError, match="alias"):
        cat.upsert_file(
            FileStats("huge.parquet", 1, _RTREE_ID_STRIDE, 1), [])


class _Shim:
    def __init__(self, cat, col):
        self.catalog = cat
        self.dict_columns = (col,)
        self.index_schema = {}

    _dict_refine = IndexedParquetTable._dict_refine


def _dict_cat(entries):
    cat = SqliteIndexCatalog()
    cat.initialize({})
    cat.upsert_file(
        FileStats("f.parquet", 1, 1, 3),
        [RowGroupStats(row_group=0, row_count=3)],
        dicts={0: {"s": entries}})
    return cat


def test_dict_refine_int_literal_on_string_dict_keeps_rowgroup():
    shim = _Shim(_dict_cat([("5", 2), ("7", 1)]), "s")
    for pred in (Col("s") == Lit(5),
                 InList(Col("s"), [Lit(5), Lit(7)])):
        survivors = {"f.parquet": [0]}
        shim._dict_refine(pred, survivors)
        assert survivors.get("f.parquet") == [0], pred.to_sql()


def test_dict_refine_string_literal_on_int_dict_keeps_rowgroup():
    shim = _Shim(_dict_cat([(5, 2), (7, 1)]), "s")
    survivors = {"f.parquet": [0]}
    shim._dict_refine(Col("s") == Lit("5"), survivors)
    assert survivors.get("f.parquet") == [0]


def test_dict_refine_matched_types_still_refine():
    # sanity: the type guard must not disable legitimate refinement
    shim = _Shim(_dict_cat([(5, 2), (7, 1)]), "s")
    survivors = {"f.parquet": [0]}
    assert shim._dict_refine(Col("s") == Lit(9), survivors) == 1
    assert "f.parquet" not in survivors


def test_hist_spec_invalid_raises_value_error(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_async_parquet_index_spark.sources.stats import (
        extract_file_hists,
    )

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"v": pa.array([1, 2, 3], pa.int64())}), p)
    with pytest.raises(ValueError, match="hist spec"):
        extract_file_hists(p, {"v": (10, 5, 4)})   # hi < lo
    with pytest.raises(ValueError, match="hist spec"):
        extract_file_hists(p, {"v": (0, 9, 0)})    # nbins = 0
