"""Edge-case hardening for IndexedParquetTable and join helpers:
empty directories, files appearing after construction, and join types
salting cannot support.
"""

import os

import pytest

from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark.operators.joins import salted_join
from datafusion_async_parquet_index_spark.plans.expr import col
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)


def test_empty_dir_table_is_constructable_and_errors_clearly(
        spark, tmp_path):
    d = str(tmp_path / "empty_table")
    os.makedirs(d)
    t = IndexedParquetTable(spark, d, index_columns=["value"])
    # construction over an empty dir is fine (data may arrive later)...
    assert t.count_rows() == 0
    # ...but a read must fail with a message, not a None-schema crash
    with pytest.raises(ValueError, match="no parquet files"):
        t.query(col("value") == 1)
    with pytest.raises(ValueError, match="no parquet files"):
        t.query(None)


def test_refresh_picks_up_first_files_and_schema(spark, tmp_path):
    d = str(tmp_path / "late_table")
    os.makedirs(d)
    t = IndexedParquetTable(spark, d, index_columns=["value"])
    spark.range(10).select(F.col("id").alias("value")).coalesce(1) \
        .write.mode("append").parquet(d)
    t.refresh()
    assert t._schema is not None
    assert t.query(col("value") >= 5).count() == 5
    assert t.query(None).count() == 10


def test_plan_scan_tolerates_unindexed_late_files(spark, tmp_path):
    d = str(tmp_path / "grow_table")
    os.makedirs(d)
    spark.range(10).select(F.col("id").alias("value")).coalesce(1) \
        .write.mode("append").parquet(d)
    t = IndexedParquetTable(spark, d, index_columns=["value"])
    # drop a new file in WITHOUT refresh(); simulate a re-list by
    # pointing _files at the live directory contents
    spark.range(10, 20).select(F.col("id").alias("value")).coalesce(1) \
        .write.mode("append").parquet(d)
    from datafusion_async_parquet_index_spark.sources.stats import (
        list_parquet_files,
    )
    t._files = list_parquet_files(d)
    # unindexed files are invisible (consistently, for both paths) ...
    assert t.query(None).count() == 10
    assert t.query(col("value") >= 0).count() == 10
    # ... until refresh() indexes them
    t.refresh()
    assert t.query(None).count() == 20
    assert t.query(col("value") >= 0).count() == 20


def test_salted_join_rejects_right_preserving_types(spark):
    left = spark.range(10).select(F.col("id").alias("k"))
    right = spark.range(5).select(F.col("id").alias("k"))
    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(left, right, "k", n_salts=4, how=how)
    # left-preserving types still work and match the plain join
    got = salted_join(left, right, "k", n_salts=4, how="left").count()
    assert got == left.join(right, "k", "left").count()


def test_case_predicate_prunes_scan(spark, tmp_path):
    """Literal-armed CASE folds onto its arm condition in the pruning
    rewrite: the scan must touch only the row groups the condition
    admits, while the residual filter applies the exact CASE."""
    from datafusion_async_parquet_index_spark.plans.expr import Case, Lit, col
    from datafusion_async_parquet_index_spark.sources.demo_corpus import (
        write_demo_corpus,
    )
    d = str(tmp_path / "corpus")
    write_demo_corpus(d)
    t = IndexedParquetTable(spark, d, ["value"])
    pred = Case([(col("value") == 150, Lit(1))], Lit(0)) == 1
    rows = t.query(pred).collect()
    assert [r.value for r in rows] == [150]
    assert t.last_scan.files_scanned == {"file2.parquet": [1]}
    # unsatisfiable through every arm -> zero I/O like contradictory AND
    none = t.query(Case([(col("value") == 150, Lit(1))], Lit(0)) == 7)
    assert none.count() == 0
    assert t.last_scan.files_scanned == {}


def test_truncated_string_stats_never_answer_minmax(spark, tmp_path):
    """A writer that truncates long string statistics keeps them valid
    BOUNDS but not attained values (the parquet is_min/max_value_exact
    contract, unreadable through pyarrow 16). The guard: min_max() must
    fall back to a scan whenever a string bound reaches the 64-byte
    truncation threshold, so a truncated bound is never returned as
    "the max"."""
    from datafusion_async_parquet_index_spark.sources.catalog import (
        FileStats, RowGroupStats,
    )

    d = str(tmp_path / "longstr")
    os.makedirs(d)
    lo, hi = "a" * 100, "a" * 99 + "z"
    spark.createDataFrame([(1, lo), (2, hi)], "id long, s string") \
        .coalesce(1).write.mode("append").parquet(d)
    t = IndexedParquetTable(spark, d, index_columns=["s"])
    # simulate a truncating writer: replace the file's catalog stats
    # with truncated-but-valid bounds (max rounded up past the data)
    fname = t.catalog.all_files()[0][0]
    fs = FileStats(fname, os.path.getsize(os.path.join(d, fname)), 1, 2)
    rg = RowGroupStats(row_group=0, row_count=2)
    rg.columns["s"] = (0, "a" * 64, "a" * 63 + "{")   # truncated bounds
    t.catalog.upsert_file(fs, [rg])
    mn, mx = t.min_max("s")
    assert (mn, mx) == (lo, hi)          # scan fallback: true values
    # and the single-valued fold must refuse long bounds too: min==max
    # at the truncation length does not prove single-valuedness
    rg.columns["s"] = (0, "a" * 64, "a" * 64)
    t.catalog.upsert_file(fs, [rg])
    assert t.count_rows_by("s") is None


def test_short_string_stats_still_answer_from_catalog(spark, tmp_path):
    d = str(tmp_path / "shortstr")
    os.makedirs(d)
    spark.createDataFrame([(1, "aa"), (2, "zz")], "id long, s string") \
        .coalesce(1).write.mode("append").parquet(d)
    t = IndexedParquetTable(spark, d, index_columns=["s"])
    assert t.min_max("s") == ("aa", "zz")


def test_catalog_date_values_decode_to_domain(spark, tmp_path):
    """count_rows_by / min_max on a date-category column must return
    datetime.date values, not the catalog's epoch-day integer storage
    form (both backends must agree on the domain)."""
    import datetime as dt

    d = str(tmp_path / "datecol")
    os.makedirs(d)
    day = dt.date(2024, 3, 15)
    spark.createDataFrame([(1, day), (2, day)], "id long, d date") \
        .coalesce(1).write.mode("append").parquet(d)
    t = IndexedParquetTable(spark, d, index_columns=["d"])
    assert t.min_max("d") == (day, day)
    assert t.count_rows_by("d") == {day: 2}


def test_colcol_pruning_soundness_sweep(spark, tmp_path):
    """Every col-col comparison op through the indexed path must return
    exactly the rows a full scan + filter returns (pruning may only
    over-select), across row groups engineered to exercise refutation,
    overlap, equality, and NULLs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "colcol")
    os.makedirs(d)
    # 4 row groups of 5 rows: a below b / a above b / interleaved /
    # constant-equal, plus NULLs sprinkled in the third group
    a = [0, 1, 2, 3, 4,      50, 51, 52, 53, 54,
         10, None, 30, 5, 25, 7, 7, 7, 7, 7]
    b = [20, 21, 22, 23, 24,  0, 1, 2, 3, 4,
         15, 20, None, 35, 25, 7, 7, 7, 7, 7]
    tbl = pa.table({"a": pa.array(a, pa.int64()),
                    "b": pa.array(b, pa.int64())})
    pq.write_table(tbl, os.path.join(d, "part-0.parquet"), row_group_size=5)
    t = IndexedParquetTable(spark, d, index_columns=["a", "b"])
    full = spark.read.parquet(d)
    for op in ("<", "<=", ">", ">=", "==", "!="):
        pred = getattr(col("a"), {
            "<": "__lt__", "<=": "__le__", ">": "__gt__",
            ">=": "__ge__", "==": "__eq__", "!=": "__ne__"}[op])(col("b"))
        got = sorted(r["a"] for r in t.query(pred).collect())
        want = sorted(r["a"] for r in
                      full.filter(pred.to_spark()).collect())
        assert got == want, (op, got, want)
    # the refutation actually happens: a > b over the first row group's
    # sibling is prunable — check a fully-refuted predicate scans nothing
    t.query(col("a") > col("b") + 1000)  # arithmetic col-col: no prune, fine
    t.plan_scan(col("a") == col("b"))
    # constant-equal group (7s) + interleaved group survive; the two
    # disjoint-interval groups are refuted
    assert t.last_scan.row_groups_scanned == 2, t.last_scan.describe()


def test_describe_index_readout(spark, demo_dir):
    t = IndexedParquetTable(spark, demo_dir,
                            index_columns=["value", "text"])
    info = t.describe_index()
    assert info["files"] == 3
    assert info["row_groups"] == 60
    assert info["rows"] == 3000
    v = info["columns"]["value"]
    assert (v["min"], v["max"]) == (0, 2999)
    assert v["null_count"] == 0
    assert v["row_groups_with_stats"] == 60
    assert v["bounds_exact"]
    s = info["columns"]["text"]
    assert s["category"] == "string" and s["bounds_exact"]


def test_count_pushdown_answers_from_catalog(spark, demo_dir):
    """COUNT(*) WHERE pred: row groups the satisfaction rewrite proves
    fully-matching are counted from the catalog without being read."""
    t = IndexedParquetTable(spark, demo_dir, index_columns=["value", "text"])
    # value < 100: file1's two row groups (0..49, 50..99) are proven
    # full -> the entire count comes from catalog arithmetic
    assert t.count_rows(col("value") < 100) == 100
    assert t.last_count_pushdown == {
        "full_row_groups": 2, "full_rows": 100, "partial_row_groups": 0}
    # value <= 120: file1 full, file2's first group (100..149) is a
    # boundary group -> exactly one row group scanned
    assert t.count_rows(col("value") <= 120) == 121
    assert t.last_count_pushdown["full_rows"] == 100
    assert t.last_count_pushdown["partial_row_groups"] == 1
    # proven-full via IS NOT NULL (null_count = 0 everywhere): whole
    # table counted with zero Parquet I/O
    n = t.count_rows(col("value").is_not_null())
    assert n == 3000
    assert t.last_count_pushdown["partial_row_groups"] == 0


def test_count_pushdown_matches_scan_count_sweep(spark, tmp_path):
    """Sweep of predicate shapes over row groups with NULLs and
    boundaries: pushdown counts must equal full-scan filter counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "cnt_corpus")
    os.makedirs(d)
    a = [0, 1, 2, 3, 4,      50, 51, 52, 53, 54,
         10, None, 30, 5, 25, 7, 7, 7, 7, 7]
    b = [20, 21, 22, 23, 24,  0, 1, 2, 3, 4,
         15, 20, None, 35, 25, 7, 7, 7, 7, 7]
    s = ["aa", "ab", "ac", "ad", "ae", "ba", "bb", "bc", "bd", "be",
         "aa", None, "ca", "cb", "cc", "dd", "dd", "dd", "dd", "dd"]
    tbl = pa.table({"a": pa.array(a, pa.int64()),
                    "b": pa.array(b, pa.int64()),
                    "s": pa.array(s, pa.string())})
    pq.write_table(tbl, os.path.join(d, "part-0.parquet"), row_group_size=5)
    t = IndexedParquetTable(spark, d, index_columns=["a", "b", "s"],
                            sum_columns=["a", "b"])
    full = spark.read.parquet(d)
    from datafusion_async_parquet_index_spark.plans.expr import Not, lit
    preds = [
        col("a") < 100,
        col("a") >= 50,
        col("a") == 7,
        col("a") != 7,
        col("a").is_null(),
        col("a").is_not_null(),
        col("s").like("a%"),
        col("s").like("d%"),
        col("s").isin(["dd", "aa"]),
        col("a") < col("b"),
        (col("a") >= 0) & (col("b") >= 0),
        (col("a") < 10) | (col("a") > 45),
        Not(col("a") >= 50),
        lit(True),
        lit(False),
    ]
    a_ = F.col("a")

    def expect(rows, pred):
        r = rows.filter(pred.to_spark()).agg(
            F.count(F.lit(1)).alias("rows"), F.sum(a_).alias("s"),
            F.sum(a_ * a_).alias("sq"), F.count(a_).alias("n"),
            F.min(a_).alias("mn"), F.max(a_).alias("mx")).head()
        var = (r["s"], r["sq"], r["n"]) if r["n"] else (None, None, 0)
        return r["rows"], (r["s"], r["n"]), var, (r["mn"], r["mx"])

    # the proven-full / boundary split is shared by COUNT, SUM, VAR and
    # MIN/MAX: pin each caller against the same predicate sweep
    for pred in preds:
        rows, sums, var, bounds = expect(full, pred)
        got = t.count_rows(pred)
        assert got == rows, (pred.to_sql(), got, rows,
                             t.last_count_pushdown)
        assert t.sum_rows("a", pred) == sums, (
            pred.to_sql(), t.last_sum_pushdown)
        assert t.sum_sq_rows("a", pred) == var, (
            pred.to_sql(), t.last_var_pushdown)
        assert t.min_max("a", pred) == bounds, (
            pred.to_sql(), t.last_minmax_pushdown)

    # under deletion vectors: proven-full groups subtract the recorded
    # deletions, boundary groups scan live-only
    victims = col("a").isin([2, 7, 51])
    assert t.delete_where(victims) == 7
    live = full.filter(~F.coalesce(victims.to_spark(), F.lit(False)))
    for pred in preds:
        rows, sums, var, _ = expect(live, pred)
        assert t.count_rows(pred) == rows, (pred.to_sql(),
                                            t.last_count_pushdown)
        assert t.sum_rows("a", pred) == sums, (
            pred.to_sql(), t.last_sum_pushdown)
        assert t.sum_sq_rows("a", pred) == var, (
            pred.to_sql(), t.last_var_pushdown)
        # MIN/MAX bounds cannot be repaired under deletes: refuse
        with pytest.raises(ValueError, match="deletion vectors"):
            t.min_max("a", pred)


def test_sum_pushdown_matches_scan(spark, demo_dir, tmp_path):
    """SUM pushdown: stored per-row-group sums answer proven-full
    groups unread; boundary groups scan; totals are pure catalog
    arithmetic; NULL columns keep SQL semantics."""
    t = IndexedParquetTable(spark, demo_dir, index_columns=["value"],
                            sum_columns=["value"])
    # no-predicate total: catalog-only
    s, n = t.sum_rows("value")
    assert (s, n) == (sum(range(3000)), 3000)
    assert t.last_sum_pushdown["partial_row_groups"] == 0
    # range over file boundaries: file1 proven full, boundary scans
    s, n = t.sum_rows("value", col("value") <= 120)
    assert (s, n) == (sum(range(121)), 121)
    assert t.last_sum_pushdown["full_row_groups"] >= 2
    assert t.last_sum_pushdown["partial_row_groups"] == 1
    # refuted predicate: SQL empty-sum semantics
    assert t.sum_rows("value", col("value") > 10_000) == (None, 0)
    # NULL-bearing corpus: sums ignore NULLs like SQL SUM
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = str(tmp_path / "sum_nulls")
    os.makedirs(d)
    tbl = pa.table({"k": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
                    "x": pa.array([10, None, 30, None, 50, 60], pa.int64())})
    pq.write_table(tbl, os.path.join(d, "p.parquet"), row_group_size=3)
    t2 = IndexedParquetTable(spark, d, index_columns=["k", "x"],
                             sum_columns=["x"])
    assert t2.sum_rows("x") == (150, 4)
    assert t2.sum_rows("x", col("k") >= 4) == (110, 2)
    full = spark.read.parquet(d)
    from pyspark.sql import functions as F
    for pred in (col("k") > 2, col("x") >= 30, col("x").is_not_null(),
                 col("k") != 5):
        row = full.filter(pred.to_spark()).agg(
            F.sum("x").alias("s"), F.count("x").alias("n")).head()
        assert t2.sum_rows("x", pred) == (row["s"], row["n"]), pred.to_sql()


def test_sum_pushdown_without_sums_falls_back(spark, demo_dir):
    t = IndexedParquetTable(spark, demo_dir, index_columns=["value"])
    s, n = t.sum_rows("value", col("value") < 100)
    assert (s, n) == (sum(range(100)), 100)
    assert t.last_sum_pushdown is None


def test_sum_sq_pushdown_matches_scan(spark, demo_dir, tmp_path):
    """VAR pushdown (second moments): stored per-row-group Σx² answer
    proven-full groups unread; boundary groups scan; NULL semantics;
    >int64 moments survive the TEXT storage roundtrip exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = IndexedParquetTable(spark, demo_dir, index_columns=["value"],
                            sum_columns=["value"])
    want_sq = sum(v * v for v in range(3000))
    assert t.sum_sq_rows("value") == (sum(range(3000)), want_sq, 3000)
    assert t.last_var_pushdown["partial_row_groups"] == 0
    s, sq, n = t.sum_sq_rows("value", col("value") <= 120)
    assert (s, sq, n) == (sum(range(121)),
                          sum(v * v for v in range(121)), 121)
    assert t.last_var_pushdown["full_row_groups"] >= 2
    assert t.last_var_pushdown["partial_row_groups"] == 1
    assert t.sum_sq_rows("value", col("value") > 10_000) == (None, None, 0)
    # NULLs ignored like SQL; sweep against the scan aggregate
    d = str(tmp_path / "sq_nulls")
    os.makedirs(d)
    tbl = pa.table({"k": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
                    "x": pa.array([10, None, 30, None, 50, 60], pa.int64())})
    pq.write_table(tbl, os.path.join(d, "p.parquet"), row_group_size=3)
    t2 = IndexedParquetTable(spark, d, index_columns=["k", "x"],
                             sum_columns=["x"])
    assert t2.sum_sq_rows("x") == (150, 100 + 900 + 2500 + 3600, 4)
    assert t2.sum_sq_rows("x", col("k") >= 4) == (110, 2500 + 3600, 2)
    # Σx² beyond int64: element squares ~9.6e18 force the exact Python
    # fold at extraction and the TEXT roundtrip in the catalog
    d3 = str(tmp_path / "sq_big")
    os.makedirs(d3)
    big = [3_100_000_000 + i for i in range(6)]
    pq.write_table(pa.table({"x": pa.array(big, pa.int64())}),
                   os.path.join(d3, "p.parquet"), row_group_size=3)
    t3 = IndexedParquetTable(spark, d3, index_columns=["x"],
                             sum_columns=["x"])
    s3, sq3, n3 = t3.sum_sq_rows("x")
    assert (s3, sq3, n3) == (sum(big), sum(v * v for v in big), 6)
    assert sq3 > 2 ** 63 - 1  # the case int64 storage could not carry
    assert t3.last_var_pushdown["partial_row_groups"] == 0


def test_sum_sq_fallback_and_type_guard(spark, demo_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    # no sums recorded -> full-scan fallback, pushdown marker None
    t = IndexedParquetTable(spark, demo_dir, index_columns=["value"])
    s, sq, n = t.sum_sq_rows("value", col("value") < 100)
    assert (s, sq, n) == (sum(range(100)),
                          sum(v * v for v in range(100)), 100)
    assert t.last_var_pushdown is None
    # non-integer columns refuse (the decimal(38,0) accumulator would
    # truncate fractions)
    d = str(tmp_path / "sq_float")
    os.makedirs(d)
    pq.write_table(pa.table({"f": pa.array([1.5, 2.5], pa.float64())}),
                   os.path.join(d, "p.parquet"))
    tf = IndexedParquetTable(spark, d, index_columns=["f"])
    with pytest.raises(TypeError, match="integer columns only"):
        tf.sum_sq_rows("f")


def test_minmax_pushdown_with_predicate(spark, demo_dir, tmp_path):
    """Predicated MIN/MAX: satisfaction-proven groups answer from their
    exact-attained bounds; boundary groups scan; results always equal
    the scan aggregate."""
    from pyspark.sql import functions as F

    t = IndexedParquetTable(spark, demo_dir, index_columns=["value"])
    assert t.min_max("value", col("value") <= 120) == (0, 120)
    pd = t.last_minmax_pushdown
    assert pd["full_row_groups"] >= 2 and pd["partial_row_groups"] == 1, pd
    assert t.min_max("value", col("value") > 10_000) == (None, None)
    # NULL-bearing sweep against the scan aggregate
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = str(tmp_path / "mm_nulls")
    os.makedirs(d)
    tbl = pa.table({"k": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
                    "x": pa.array([10, None, 30, None, 50, 60], pa.int64())})
    pq.write_table(tbl, os.path.join(d, "p.parquet"), row_group_size=2)
    t2 = IndexedParquetTable(spark, d, index_columns=["k", "x"])
    full = spark.read.parquet(d)
    for pred in (col("k") >= 2, col("x") >= 30, col("k") < 100,
                 col("x").is_null(), col("k") != 3):
        row = full.filter(pred.to_spark()).agg(
            F.min("x").alias("mn"), F.max("x").alias("mx")).head()
        got = t2.min_max("x", pred)
        assert got == (row["mn"], row["mx"]), (pred.to_sql(), got)


def test_refresh_maintains_sums(spark, tmp_path):
    """Incremental refresh() must index new files' sums so pushed-down
    totals stay exact as the corpus grows."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "sum_refresh")
    os.makedirs(d)
    spark.range(10).select(F.col("id").alias("x")).coalesce(1) \
        .write.mode("append").parquet(d)
    t = IndexedParquetTable(spark, d, index_columns=["x"],
                            sum_columns=["x"])
    assert t.sum_rows("x") == (45, 10)
    spark.range(10, 20).select(F.col("id").alias("x")).coalesce(1) \
        .write.mode("append").parquet(d)
    t.refresh()
    assert t.sum_rows("x") == (sum(range(20)), 20)
    assert t.last_sum_pushdown["partial_row_groups"] == 0
    assert t.describe_index()["sum_coverage"]["x"] >= 2


def test_schema_evolution_prunes_pre_evolution_files(spark, tmp_path):
    """A file written before a column was added is a PROVEN all-null
    row group for that column: equality on the new column must prune it
    from the catalog alone, IS NULL must keep it, and merge_schema
    inference must surface the late-added column regardless of file
    order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_async_parquet_index_spark.plans.expr import col
    from datafusion_async_parquet_index_spark.sources.table import (
        IndexedParquetTable,
    )

    d = str(tmp_path / "evolved")
    import os
    os.makedirs(d)
    # 'a_old' sorts FIRST and PREDATES the column -> first-file
    # inference would drop 'extra'; merge_schema must union it in
    pq.write_table(
        pa.table({"id": pa.array(range(100), pa.int64())}),
        os.path.join(d, "a_old.parquet"))
    pq.write_table(
        pa.table({"id": pa.array(range(100, 200), pa.int64()),
                  "extra": pa.array(range(100), pa.int64())}),
        os.path.join(d, "b_new.parquet"))

    t = IndexedParquetTable(spark, d, index_columns=["id", "extra"],
                            merge_schema=True)
    assert "extra" in [f.name for f in t._schema.fields]

    df = t.query(col("extra") == 50)
    assert set(t.last_scan.files_scanned) == {"b_new.parquet"}, \
        t.last_scan.describe()  # pre-evolution file pruned, zero I/O
    assert df.count() == 1

    # IS NULL: the pre-evolution file IS the answer and must survive
    nulls = t.query(col("extra").is_null())
    assert "a_old.parquet" in t.last_scan.files_scanned, \
        t.last_scan.describe()
    assert nulls.count() == 100

    # range predicate over both eras stays correct
    both = t.query((col("id") >= 50) & (col("id") < 150))
    assert both.count() == 100
