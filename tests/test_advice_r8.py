"""Regression tests for the round-7 ADVICE findings (deletion-vector
DML layer):

1. SUM/VAR pushdown must demote a row group that has recorded
   deletions (dv_rg_adjust) but no sum adjustment for the queried
   column — reachable with a persisted catalog when a session deletes
   under different/empty sum_columns.
2. merge_upsert failure atomicity: the new file lands BEFORE the old
   versions are logically deleted, so a crash in the window leaves
   recoverable duplicates, never silently lost rows.
3. compact_deletes crash ordering: bytes swap BEFORE the catalog entry
   is evicted, so a crash can never leave the ORIGINAL bytes on disk
   with the deletion vector dropped (silent resurrection).
4. The DV read-path anti-join drops the forced broadcast above a
   cumulative position threshold (accumulated deletes must not grow
   one forced broadcast without bound).
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark.plans.expr import col
from datafusion_async_parquet_index_spark.sources.catalog import (
    SqliteIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)


from fixture_io import one_file as _one_file_impl


def _one_file(df, d, name, block=16384):
    _one_file_impl(df, d, name, block=block)


def _corpus(spark, d):
    os.makedirs(d)
    base = spark.range(4_000).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 7 % 1000).cast("long").alias("v"))
    _one_file(base.filter(F.col("k") % 2 == 0).orderBy("k"),
              d, "even.parquet")
    _one_file(base.filter(F.col("k") % 2 == 1).orderBy("k"),
              d, "odd.parquet")
    return base


DEL = (col("v") % 10) == 3


def LIVE():
    return ~((F.col("v") % 10) == 3)


# -- finding 1: missing dv_sum_adjust must demote, not zero-default ----

def test_sum_pushdown_demotes_groups_without_adjustments(
        spark, tmp_path):
    d = str(tmp_path / "dvhole")
    base = _corpus(spark, d)
    db = str(tmp_path / "cat.sqlite")
    # session 1: index WITH per-row-group sums for v
    t1 = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"],
                             catalog=SqliteIndexCatalog(db))
    pre_sum, pre_n = t1.sum_rows("v")
    # session 2: same catalog, but NO sum_columns — the delete records
    # positions + per-rg deleted counts, but no sum adjustments
    t2 = IndexedParquetTable(spark, d, ["k", "v"],
                             catalog=SqliteIndexCatalog(db))
    ndel = t2.delete_where(DEL)
    assert ndel > 0
    assert t2.catalog.dv_rg_deleted()          # deletions recorded
    assert not t2.catalog.dv_sum_adjustments("v")   # ...but no sums
    # session 3: sums survive in the catalog for the unchanged files;
    # the pushdown must NOT fold them with a zero adjustment
    t3 = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"],
                             catalog=SqliteIndexCatalog(db))
    live = base.filter(LIVE())
    exp = live.agg(F.sum("v").alias("s"), F.count("v").alias("n"),
                   F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
                   .alias("sq")).head()
    s, n = t3.sum_rows("v")
    assert (s, n) == (exp["s"], exp["n"])
    assert (s, n) != (pre_sum, pre_n)
    # predicated path: proven-full groups with unadjusted deletions
    # demote to the scan too
    p = (col("v") >= 0) & (col("v") <= 999)
    sp, np_ = t3.sum_rows("v", p)
    assert (sp, np_) == (exp["s"], exp["n"])
    # VAR pushdown: _adj_ok must reject deletion-without-adjustment
    s_, sq_, n_ = t3.sum_sq_rows("v")
    assert (s_, sq_, n_) == (exp["s"], int(exp["sq"]), exp["n"])
    sq_p = t3.sum_sq_rows("v", p)
    assert sq_p == (exp["s"], int(exp["sq"]), exp["n"])


def test_sum_pushdown_still_folds_when_adjustments_present(
        spark, tmp_path):
    """Control: with matching sum_columns the pushdown stays pure
    catalog arithmetic (no regression from the demote)."""
    d = str(tmp_path / "dvok")
    base = _corpus(spark, d)
    t = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"])
    t.delete_where(DEL)
    live = base.filter(LIVE())
    exp = live.agg(F.sum("v").alias("s"), F.count("v").alias("n")).head()
    s, n = t.sum_rows("v")
    assert (s, n) == (exp["s"], exp["n"])
    assert t.last_sum_pushdown is not None
    assert t.last_sum_pushdown["partial_row_groups"] == 0


def test_full_rebuild_preserves_dvs_on_unchanged_bytes(spark, tmp_path):
    """Found while testing finding 1: a plain reopen over a persisted
    catalog (default incremental_attach=False → full rebuild) used to
    re-upsert every unchanged file, and upsert_file dropped its
    deletion vector — every logically deleted row silently resurrected.
    DVs are DML state: they must survive re-indexing of unchanged
    bytes and die only with changed bytes."""
    d = str(tmp_path / "dvreopen")
    base = _corpus(spark, d)
    db = str(tmp_path / "cat.sqlite")
    t1 = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"],
                             catalog=SqliteIndexCatalog(db))
    ndel = t1.delete_where(DEL)
    live = base.count() - ndel
    t2 = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"],
                             catalog=SqliteIndexCatalog(db))
    assert t2.catalog.get_dv_ranges(), "full rebuild dropped live DVs"
    assert t2.count_rows() == live
    assert t2.to_df().count() == live
    s, n = t2.sum_rows("v")
    exp = base.filter(LIVE()).agg(F.sum("v").alias("s"),
                                  F.count("v").alias("n")).head()
    assert (s, n) == (exp["s"], exp["n"])


# -- finding 2: merge_upsert lands updates before deleting -------------

def test_merge_upsert_lands_file_before_deletes(spark, tmp_path,
                                                monkeypatch):
    d = str(tmp_path / "mergeatomic")
    base = _corpus(spark, d)
    t = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"])
    n0 = t.count_rows()
    updates = spark.range(100).select(
        F.col("id").cast("long").alias("k"),
        F.lit(1_000_000).cast("long").alias("v"))

    # simulate a crash in the delete step: the new file must already
    # be on disk, and NO deletion vector may have been committed
    boom = RuntimeError("crash during delete step")

    def exploding(*a, **kw):
        raise boom

    monkeypatch.setattr(t, "delete_matching", exploding)
    with pytest.raises(RuntimeError, match="crash during delete"):
        t.merge_upsert(updates, "k")
    landed = [f for f in os.listdir(d) if f.startswith("upsert_")]
    assert landed, "updates file must land before the delete step"
    assert not t.catalog.get_dv_ranges(), \
        "no deletes may commit when the update batch never landed... " \
        "(crash window must leave duplicates, not lost rows)"
    # recovery: the duplicates are visible after refresh (old + new
    # versions), never silently lost rows
    t.refresh()
    assert t.count_rows() == n0 + 100


def test_merge_upsert_happy_path_unchanged(spark, tmp_path):
    d = str(tmp_path / "mergeok")
    base = _corpus(spark, d)
    t = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"])
    n0 = t.count_rows()
    updates = spark.range(50).select(
        F.col("id").cast("long").alias("k"),
        F.lit(777_777).cast("long").alias("v"))
    n_del, n_ins = t.merge_upsert(updates, "k")
    assert (n_del, n_ins) == (50, 50)
    assert t.count_rows() == n0
    got = {r["k"]: r["v"] for r in
           t.query((col("k") >= 0) & (col("k") < 50)).collect()}
    assert got == {k: 777_777 for k in range(50)}


# -- finding 3: compact_deletes swaps bytes before evicting ------------

def test_compact_crash_before_swap_never_resurrects(spark, tmp_path,
                                                    monkeypatch):
    """Crash injected at the catalog-evict step: the bytes must already
    be swapped, so a post-crash refresh re-indexes the COMPACTED file —
    the deleted rows can never come back."""
    d = str(tmp_path / "compactcrash")
    base = _corpus(spark, d)
    t = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"])
    ndel = t.delete_where(DEL)
    assert ndel > 0
    live_n = t.count_rows()

    real_remove = t.catalog.remove_file
    calls = []

    def exploding_remove(fname):
        calls.append(fname)
        raise RuntimeError("crash mid-compact")

    monkeypatch.setattr(t.catalog, "remove_file", exploding_remove)
    with pytest.raises(RuntimeError, match="crash mid-compact"):
        t.compact_deletes()
    monkeypatch.setattr(t.catalog, "remove_file", real_remove)
    # the first file's bytes were swapped before the crash
    assert calls
    import pyarrow.parquet as pq
    swapped = os.path.join(d, calls[0])
    n_physical = pq.ParquetFile(swapped).metadata.num_rows
    assert n_physical < 2_000, "bytes must swap before catalog evict"
    # recovery: a fresh session (build/refresh) re-indexes; the
    # logically deleted rows stay gone — never resurrect
    t2 = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"])
    assert t2.count_rows() == live_n
    assert t2.to_df().count() == live_n
    # and a follow-up compaction completes cleanly
    t2.compact_deletes()
    assert t2.count_rows() == live_n
    assert not t2.catalog.get_dv_ranges()


# -- finding 4: cumulative DV broadcast bound --------------------------

def test_dv_anti_join_drops_broadcast_above_threshold(spark, tmp_path,
                                                      monkeypatch):
    d = str(tmp_path / "dvbig")
    base = _corpus(spark, d)
    t = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"])
    # force the threshold tiny so an ordinary delete crosses it
    monkeypatch.setattr(IndexedParquetTable,
                        "DV_BROADCAST_MAX_POSITIONS", 100)
    ndel = t.delete_where(DEL)
    assert ndel > 100
    df = t.query(None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the anti-join must still be exact...
    assert df.count() == base.count() - ndel
    # ...but no forced broadcast of the exploded position set: with
    # the tiny threshold the join side is left to AQE (shuffle hash /
    # sort-merge), so the plan must not carry a broadcast exchange on
    # the DV build side. Spark prints the strategy as "LeftAnti,
    # BuildRight"; no BroadcastHashJoin may build on the position side
    assert "__dv_bpos" in plan
    assert "BroadcastHashJoin" not in plan, plan


def test_dv_anti_join_broadcasts_below_threshold(spark, tmp_path):
    d = str(tmp_path / "dvsmall")
    base = _corpus(spark, d)
    t = IndexedParquetTable(spark, d, ["k", "v"], sum_columns=["v"])
    ndel = t.delete_where(DEL)
    assert 0 < ndel < IndexedParquetTable.DV_BROADCAST_MAX_POSITIONS
    df = t.query(None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert df.count() == base.count() - ndel
