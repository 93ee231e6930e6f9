"""Dictionary/frequency statistics extension (sources/stats.py
extract_file_dicts, catalog row_group_dicts, table.group_counts /
distinct_values / _dict_refine).

The capability triple none of the other statistics give: exact zero-I/O
GROUP BY on a flat jumbled layout, exact zero-I/O DISTINCT, and
``!=`` / ``NOT IN`` row-group pruning (refutations min/max can only make
when min = max and a Bloom filter can never make). Reference parity
anchor: the reference's index answers only min/max/null_count
(sqlx-sqlite/src/index.rs) — this extension rides the same catalog
transaction and the same inexact-scan contract (main.rs:73-79: the
predicate is always re-applied)."""

import os

import pytest
from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark.plans.expr import (
    Col, InList, Lit, Not,
)
from datafusion_async_parquet_index_spark.sources.catalog import (
    FileStats, RowGroupStats, SqliteIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.df_catalog import (
    DataFrameIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.stats import (
    extract_file_dicts,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)


def _write_single(spark, df, path):
    """One data file at ``path`` (coalesce(1) then move the part file)."""
    import shutil
    tmp = path + "_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = next(p for p in sorted(os.listdir(tmp)) if p.endswith(".parquet"))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    os.replace(os.path.join(tmp, src), path)
    shutil.rmtree(tmp)


@pytest.fixture(scope="module")
def split_dir(spark, tmp_path_factory):
    """a.parquet: statuses {F, P} interleaved (range [F, P] contains the
    absent 'O'); b.parquet: only 'O'. The min/max-blind shape."""
    d = str(tmp_path_factory.mktemp("dict_split"))
    rows_a = [(i, "F" if i % 2 == 0 else "P", i % 7) for i in range(200)]
    rows_b = [(i + 1000, "O", i % 7) for i in range(100)]
    schema = "k LONG, status STRING, grp LONG"
    _write_single(spark, spark.createDataFrame(rows_a, schema),
                  os.path.join(d, "a.parquet"))
    _write_single(spark, spark.createDataFrame(rows_b, schema),
                  os.path.join(d, "b.parquet"))
    return d


def test_dict_store_round_trips_on_all_backends():
    """upsert→get on SQLite and DB-API (both paramstyles): values decode
    type-faithfully (ints as ints, strings as strings), re-upsert
    without dicts clears them, removal drops child rows."""
    from test_catalog_backends import _dbapi_format, _dbapi_qmark

    fs = FileStats("f.parquet", 10, 2, 100)
    rgs = [RowGroupStats(row_group=0, row_count=50),
           RowGroupStats(row_group=1, row_count=50)]
    dicts = {0: {"s": [("a", 30), ("b", 20)], "v": [(-3, 49), (7, 1)]},
             1: {"s": [("b", 50)]}}

    def check(cat):
        cat.initialize({"v": "int"})
        cat.upsert_file(fs, rgs, dicts=dicts)
        gs = cat.get_dicts("s")
        assert gs[("f.parquet", 0)] == [("a", 30), ("b", 20)]
        assert gs[("f.parquet", 1)] == [("b", 50)]
        gv = cat.get_dicts("v")
        assert gv[("f.parquet", 0)] == [(-3, 49), (7, 1)]
        assert isinstance(gv[("f.parquet", 0)][0][0], int)
        assert ("f.parquet", 1) not in gv
        cat.upsert_file(fs, rgs)
        assert cat.get_dicts("s") == {}
        cat.upsert_file(fs, rgs, dicts=dicts)
        cat.remove_file("f.parquet")
        assert cat.get_dicts("s") == {}

    check(SqliteIndexCatalog())
    check(_dbapi_qmark())
    check(_dbapi_format())


def test_df_catalog_dict_mirror(spark):
    """The DataFrame backend honors the same get_dicts protocol."""
    cat = DataFrameIndexCatalog(spark)
    cat.initialize({})
    fs = FileStats("f.parquet", 10, 1, 50)
    rgs = [RowGroupStats(row_group=0, row_count=50)]
    cat.upsert_file(fs, rgs, dicts={0: {"s": [("x", 50)]}})
    assert cat.get_dicts("s") == {("f.parquet", 0): [("x", 50)]}
    cat.upsert_file(fs, rgs)
    assert cat.get_dicts("s") == {}


def test_extract_matches_value_counts_and_cap(spark, tmp_path):
    """extract_file_dicts equals a relational GROUP BY per row group;
    nulls excluded; a column whose distinct count exceeds the cap
    records nothing for that row group; an all-null row group records
    an EMPTY map (known-empty, not unknown)."""
    df = spark.createDataFrame(
        [(i, ["x", "y", None][i % 3], i) for i in range(90)],
        "k LONG, s STRING, wide LONG")
    path = os.path.join(str(tmp_path), "t.parquet")
    _write_single(spark, df, path)
    out = extract_file_dicts(path, ["s", "wide", "k"], cap=4)
    assert set(out) == {0}
    assert out[0]["s"] == [("x", 30), ("y", 30)]  # nulls excluded
    assert "wide" not in out[0] and "k" not in out[0]  # over cap: absent
    # all-null row group: empty map, still covered
    df2 = spark.createDataFrame([(1, None)], "k LONG, s STRING")
    path2 = os.path.join(str(tmp_path), "t2.parquet")
    _write_single(spark, df2, path2)
    out2 = extract_file_dicts(path2, ["s"], cap=4)
    assert out2[0]["s"] == []


def test_group_counts_and_distinct_on_jumbled_layout(spark, tmp_path):
    """No layout trust rules: a hash-jumbled multi-file layout folds the
    exact GROUP BY and DISTINCT from the catalog; an over-cap column
    returns None (refusal, not a guess)."""
    d = str(tmp_path / "jumbled")
    df = spark.createDataFrame(
        [(i, "s%d" % (i % 5)) for i in range(1000)], "k LONG, s STRING")
    (df.repartition(3).write.option("parquet.block.size", str(1 << 14))
     .mode("overwrite").parquet(d))
    t = IndexedParquetTable(spark, d, index_columns=["k"],
                            dict_columns=["s", "k"], dict_max_values=16)
    truth = {r["s"]: r["c"] for r in
             df.groupBy("s").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert t.group_counts("s") == truth
    assert t.distinct_values("s") == sorted(truth)
    assert t.group_counts("k") is None  # 1000 distincts >> cap 16
    assert t.distinct_values("k") is None


def test_partial_coverage_refuses(spark, tmp_path):
    """If even ONE row group blew the cap, the whole-table fold refuses
    (None) — exactness over availability, the min_max trust posture."""
    d = str(tmp_path / "partial")
    # file 1: 2 distincts; file 2: 40 distincts (over cap 8)
    _write_single(spark, spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(100)],
        "k LONG, s STRING"), os.path.join(d, "lo.parquet"))
    _write_single(spark, spark.createDataFrame(
        [(i, "s%d" % (i % 40)) for i in range(100)],
        "k LONG, s STRING"), os.path.join(d, "hi.parquet"))
    t = IndexedParquetTable(spark, d, index_columns=["k"],
                            dict_columns=["s"], dict_max_values=8)
    assert t.group_counts("s") is None
    assert t.distinct_values("s") is None


def test_dict_refine_eq_and_in(spark, split_dir):
    """Equality/IN refutation where min/max is blind: 'status' is NOT
    min/max-indexed here (dict only), so every pruned row group is the
    dictionary's doing; results must equal the unpruned filter."""
    t = IndexedParquetTable(spark, split_dir, index_columns=["k"],
                            dict_columns=["status"])
    full = t.query(None)
    for pred in (Col("status") == Lit("O"),
                 InList(Col("status"), [Lit("O")]),
                 InList(Col("status"), [Lit("O"), Lit("Z")])):
        dec = t.plan_scan(pred)
        assert dec.dict_skipped > 0, dec.describe()
        assert not any(f.startswith("a") for f in dec.file_names)
        got = sorted(r["k"] for r in t.query(pred).collect())
        want = sorted(r["k"] for r in
                      full.filter(pred.to_spark()).collect())
        assert got == want


def test_dict_refine_negations(spark, split_dir):
    """!= / NOT IN refutation: b.parquet's value set {O} is contained in
    the excluded literals, so it is refuted even though (status not
    being min/max-indexed) range stats know nothing; a mixed file whose
    set is contained in a MULTI-value exclusion is refuted too — the
    refutation min/max can never make."""
    t = IndexedParquetTable(spark, split_dir, index_columns=["k"],
                            dict_columns=["status"])
    full = t.query(None)
    cases = [
        (Col("status") != Lit("O"), "b"),             # single-valued b
        (Not(InList(Col("status"), [Lit("O")])), "b"),
        (Not(InList(Col("status"), [Lit("F"), Lit("P")])), "a"),  # mixed a
        (Not(Col("status") == Lit("O")), "b"),
    ]
    for pred, refuted in cases:
        dec = t.plan_scan(pred)
        assert dec.dict_skipped > 0, (pred.to_sql(), dec.describe())
        assert not any(f.startswith(refuted) for f in dec.file_names), \
            (pred.to_sql(), dec.describe())
        got = sorted(r["k"] for r in t.query(pred).collect())
        want = sorted(r["k"] for r in
                      full.filter(pred.to_spark()).collect())
        assert got == want


def test_dict_refine_conservative_paths(spark, split_dir):
    """Soundness of the stay-out cases: un-dictable literal types and
    columns without dict rows never refine; a predicate on a dict
    column under OR (not a top-level conjunct) never refines."""
    t = IndexedParquetTable(spark, split_dir, index_columns=["k"],
                            dict_columns=["status"])
    # float literal: no refinement (type semantics stay with the scan)
    dec = t.plan_scan(Col("status") == Lit(1.5))
    assert dec.dict_skipped == 0
    # OR context: the conjunct walker must not descend into OR arms
    pred = (Col("status") == Lit("O")) | (Col("k") < Lit(5))
    dec = t.plan_scan(pred)
    assert dec.dict_skipped == 0
    got = sorted(r["k"] for r in t.query(pred).collect())
    want = sorted(r["k"] for r in
                  t.query(None).filter(pred.to_spark()).collect())
    assert got == want


def test_dict_refine_catalog_fault_propagates(spark, split_dir,
                                              monkeypatch):
    """get_dicts answers an unknown column with {}, so an exception from
    it is a real catalog fault: planning must raise it, not quietly
    plan without dictionary pruning."""
    import sqlite3

    t = IndexedParquetTable(spark, split_dir, index_columns=["k"],
                            dict_columns=["status"])

    def broken(column):
        raise sqlite3.OperationalError("disk I/O error")

    monkeypatch.setattr(t.catalog, "get_dicts", broken)
    with pytest.raises(sqlite3.OperationalError, match="disk I/O"):
        t.plan_scan(Col("status") == Lit("O"))


def test_refresh_updates_dicts(spark, tmp_path):
    """A file arriving after construction enters the dict store on
    refresh(); group_counts reflects it exactly."""
    d = str(tmp_path / "grow")
    _write_single(spark, spark.createDataFrame(
        [(i, "a") for i in range(10)], "k LONG, s STRING"),
        os.path.join(d, "one.parquet"))
    t = IndexedParquetTable(spark, d, index_columns=["k"],
                            dict_columns=["s"])
    assert t.group_counts("s") == {"a": 10}
    _write_single(spark, spark.createDataFrame(
        [(i, "b") for i in range(5)], "k LONG, s STRING"),
        os.path.join(d, "two.parquet"))
    t.refresh()
    assert t.group_counts("s") == {"a": 10, "b": 5}


def test_topk_store_round_trips_on_all_backends():
    """upsert→get of the heavy-hitter summaries on SQLite and DB-API
    (both paramstyles): entries/rest/kth decode faithfully, re-upsert
    without topks clears, removal drops child rows."""
    from test_catalog_backends import _dbapi_format, _dbapi_qmark

    fs = FileStats("f.parquet", 10, 2, 100)
    rgs = [RowGroupStats(row_group=0, row_count=50),
           RowGroupStats(row_group=1, row_count=50)]
    topks = {0: {"v": ([(7, 30), (3, 12)], 8, 12),
                 "s": ([("a", 50)], 0, 0)},
             1: {"v": ([(3, 49), (9, 1)], 0, 1)}}

    def check(cat):
        cat.initialize({"v": "int"})
        cat.upsert_file(fs, rgs, topks=topks)
        gv = cat.get_topk("v")
        assert gv[("f.parquet", 0)] == ([(7, 30), (3, 12)], 8, 12)
        assert gv[("f.parquet", 1)] == ([(3, 49), (9, 1)], 0, 1)
        assert isinstance(gv[("f.parquet", 0)][0][0][0], int)
        gs = cat.get_topk("s")
        assert gs[("f.parquet", 0)] == ([("a", 50)], 0, 0)
        cat.upsert_file(fs, rgs)
        assert cat.get_topk("v") == {}
        cat.upsert_file(fs, rgs, topks=topks)
        cat.remove_file("f.parquet")
        assert cat.get_topk("v") == {}

    check(SqliteIndexCatalog())
    check(_dbapi_qmark())
    check(_dbapi_format())


def test_heavy_hitter_bounds_are_sound(spark, tmp_path):
    """Every returned candidate's true whole-table count must sit
    inside [lower, upper]; lower is exact when the value was stored in
    every row group; coverage gaps (no topk rows at all) return None."""
    d = str(tmp_path / "hh")
    # zipf-ish: value i appears ~ 600/(i+1) times, scattered over files
    rows = [(j, i) for i in range(60) for j in range(600 // (i + 1))]
    df = spark.createDataFrame(rows, "seq LONG, v LONG")
    (df.repartition(3).write.option("parquet.block.size", str(1 << 14))
     .mode("overwrite").parquet(d))
    t = IndexedParquetTable(spark, d, index_columns=["seq"],
                            topk_columns=["v"], topk_k=4)
    hh = t.heavy_hitters("v", 10)
    # candidates = union of per-group stored values; with a global zipf
    # head every group stores the same top-4, so fewer than 10 is fine
    assert hh is not None and 4 <= len(hh) <= 10
    truth = {r["v"]: r["c"] for r in
             df.groupBy("v").agg(F.count(F.lit(1)).alias("c")).collect()}
    for v, lo, hi in hh:
        assert lo <= truth[v] <= hi, (v, lo, truth[v], hi)
    # the runaway top value (600 occurrences, stored in every row
    # group) has an EXACT interval and ranks first
    assert hh[0][0] == 0 and hh[0][1] == truth[0] == hh[0][2]
    # a table indexed WITHOUT topk_columns refuses
    t2 = IndexedParquetTable(spark, d, index_columns=["seq"])
    assert t2.heavy_hitters("v") is None


def test_grouped_heavy_hitters_trust_rules(spark, tmp_path):
    """heavy_hitters_by folds per group over a clustered layout (every
    row group single-valued on the group column) and refuses on a
    mixed layout — the shared grouped-fold trust posture."""
    d = str(tmp_path / "hhby")
    rows = [(i, "g%d" % (i % 2), i % 10) for i in range(400)]
    df = spark.createDataFrame(rows, "k LONG, g STRING, v LONG")
    for gval in ("g0", "g1"):
        _write_single(spark, df.filter(F.col("g") == gval),
                      os.path.join(d, f"{gval}.parquet"))
    t = IndexedParquetTable(spark, d, index_columns=["g"],
                            topk_columns=["v"], topk_k=4)
    out = t.heavy_hitters_by("g", "v", 3)
    assert out is not None and set(out) == {"g0", "g1"}
    truth = {(r["g"], r["v"]): r["c"] for r in
             df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
             .collect()}
    for g, lst in out.items():
        assert len(lst) == 3
        for v, lo, hi in lst:
            assert lo <= truth[(g, v)] <= hi
    # jumbled layout: group column not single-valued per row group
    d2 = str(tmp_path / "hhby_mixed")
    df.repartition(2).write.mode("overwrite").parquet(d2)
    t2 = IndexedParquetTable(spark, d2, index_columns=["g"],
                             topk_columns=["v"], topk_k=4)
    assert t2.heavy_hitters_by("g", "v", 3) is None


def test_heavy_hitters_unseen_ceiling_signals_blindness(spark, tmp_path):
    """A value that never makes any row group's top-k is invisible to
    the candidate set; the fold must expose the ceiling such a hidden
    value could reach (unseen_upper), and when a candidate's lower
    bound clears that ceiling the ranking is provably safe."""
    d = str(tmp_path / "hh_blind")
    # 3 row groups; value 99 appears 4x in each (12 total, the true #2)
    # but each group has 2 local values with 5+ counts, so with k=2 the
    # hidden value is stored nowhere
    rows = []
    seq = 0
    for g in range(3):
        for v, c in ((g * 10, 6), (g * 10 + 1, 5), (99, 4)):
            for _ in range(c):
                rows.append((seq, v))
                seq += 1
    df = spark.createDataFrame(rows, "seq LONG, v LONG")
    for g in range(3):
        _write_single(spark, df.filter((F.col("seq") >= g * 15)
                                       & (F.col("seq") < (g + 1) * 15)),
                      os.path.join(d, f"g{g}.parquet"))
    t = IndexedParquetTable(spark, d, index_columns=["seq"],
                            topk_columns=["v"], topk_k=2)
    hh = t.heavy_hitters("v", 3)
    assert hh is not None
    assert all(v != 99 for v, _, _ in hh)  # hidden from candidates
    ceiling = t.last_hh_pushdown["unseen_upper"]
    # every group's kth=5, rest=4 -> min 4 each -> ceiling 12 == the
    # hidden value's true count: the bound is tight here
    assert ceiling == 12
    # candidates with lower >= ceiling are provably true heavy hitters;
    # candidates below it are NOT trustworthy as a closed top-n
    assert any(lo < ceiling for _, lo, _ in hh)
