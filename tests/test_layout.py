"""Layout matters: the same data, same index, same query must prune far
better when written range-sorted on the indexed column than when
scattered randomly.
"""

import sqlite3

import pytest
from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark.plans.expr import col
from datafusion_async_parquet_index_spark.sources.layout import (
    write_range_sorted,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)


def test_range_sorted_layout_prunes_better(spark, tmp_path):
    n = 20_000
    base = spark.range(n).select(
        F.col("id").cast("int").alias("value"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    scattered_dir = str(tmp_path / "scattered")
    sorted_dir = str(tmp_path / "sorted")
    # scatter: shuffle rows into files by hash => every file spans the domain
    (base.repartition(8, "payload").write
     .option("parquet.block.size", str(1 << 16)).parquet(scattered_dir))
    write_range_sorted(base, sorted_dir, ["value"], num_files=8,
                       row_group_bytes=1 << 16)

    t_scatter = IndexedParquetTable(spark, scattered_dir, ["value"])
    t_sorted = IndexedParquetTable(spark, sorted_dir, ["value"])
    pred = (col("value") >= 5_000) & (col("value") < 5_100)

    rows_scatter = sorted(r["value"] for r in t_scatter.query(pred).collect())
    d_scatter = t_scatter.last_scan
    rows_sorted = sorted(r["value"] for r in t_sorted.query(pred).collect())
    d_sorted = t_sorted.last_scan

    # identical answers...
    assert rows_scatter == rows_sorted == list(range(5_000, 5_100))
    # ...but the sorted layout touches one file and a sliver of row
    # groups while the scattered layout reads everything
    assert len(d_scatter.files_scanned) == 8
    assert len(d_sorted.files_scanned) == 1
    assert d_sorted.row_groups_scanned < d_scatter.row_groups_scanned / 4


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """Range-sorting on `a` gives perfect pruning on a and NONE on b;
    z-ordering (a, b) must prune substantially on BOTH."""
    from datafusion_async_parquet_index_spark.sources.layout import (
        write_zordered,
    )

    n = 40_000
    # two independent uniform dimensions
    base = spark.range(n).select(
        F.col("id").cast("int").alias("a"),
        F.pmod(F.hash(F.col("id").cast("string")), F.lit(40_000))
         .cast("int").alias("b"),
        # payload fattens rows so each file holds several row groups —
        # pruning granularity below file level
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    sorted_dir = str(tmp_path / "asorted")
    z_dir = str(tmp_path / "zorder")
    write_range_sorted(base, sorted_dir, ["a"], num_files=8,
                       row_group_bytes=1 << 15)
    write_zordered(base, z_dir, ["a", "b"], num_files=8,
                   row_group_bytes=1 << 15)

    t_sorted = IndexedParquetTable(spark, sorted_dir, ["a", "b"])
    t_z = IndexedParquetTable(spark, z_dir, ["a", "b"])

    pred_a = (col("a") >= 5_000) & (col("a") < 5_200)
    pred_b = (col("b") >= 5_000) & (col("b") < 5_200)

    # identical answers on every combination
    for t in (t_sorted, t_z):
        assert {r["a"] for r in t.query(pred_a).collect()} == set(
            range(5_000, 5_200))
    rows_b_sorted = sorted(r["b"] for r in t_sorted.query(pred_b).collect())
    d_b_sorted = t_sorted.last_scan
    rows_b_z = sorted(r["b"] for r in t_z.query(pred_b).collect())
    d_b_z = t_z.last_scan
    assert rows_b_sorted == rows_b_z and len(rows_b_z) > 0

    # the a-sorted layout cannot meaningfully prune on b: allow a
    # one-row-group sliver, because a row group's b-range can happen
    # to refute the predicate (observed 57/58 once in-suite while the
    # file cuts were sampled; the claim under test is "no useful
    # pruning", not a particular row-group count)
    assert d_b_sorted.row_groups_scanned >= d_b_sorted.total_row_groups - 1
    # ...the z-ordered layout prunes most row groups on b AND on a
    assert d_b_z.row_groups_scanned < d_b_z.total_row_groups / 2
    t_z.query(pred_a).collect()
    d_a_z = t_z.last_scan
    assert d_a_z.row_groups_scanned < d_a_z.total_row_groups / 2


def test_compact_to_fresh_sorted_table(spark, tmp_path, demo_dir):
    from datafusion_async_parquet_index_spark.sources.layout import compact_to

    t = IndexedParquetTable(spark, demo_dir, ["value", "text"])
    dest = str(tmp_path / "compacted")
    t2 = compact_to(t, dest, ["value"], target_file_bytes=1 << 30)
    # one compacted file, same rows, working index over the new layout
    assert len(t2.catalog.all_files()) == 1
    assert t2.count_rows() == t.count_rows() == 3000
    rows = t2.query(col("value") == 150).collect()
    assert [r["value"] for r in rows] == [150]
    assert t2.last_scan.row_groups_scanned <= 1
    # source untouched
    assert len(t.catalog.all_files()) == 3


@pytest.mark.parametrize("backend", ["dbapi", "df"])
def test_compact_to_over_any_backend(spark, tmp_path, demo_dir, backend):
    """compact_to indexes the new directory with the default catalog,
    whatever catalog the source table uses: a DB-API or DataFrame
    catalog cannot be rebuilt without its constructor arguments."""
    from datafusion_async_parquet_index_spark.sources.catalog import (
        DBAPIIndexCatalog,
    )
    from datafusion_async_parquet_index_spark.sources.df_catalog import (
        DataFrameIndexCatalog,
    )
    from datafusion_async_parquet_index_spark.sources.layout import compact_to

    catalog = (DBAPIIndexCatalog(lambda: sqlite3.connect(
                   ":memory:", check_same_thread=False))
               if backend == "dbapi" else DataFrameIndexCatalog(spark))
    t = IndexedParquetTable(spark, demo_dir, ["value", "text"],
                            catalog=catalog)
    t2 = compact_to(t, str(tmp_path / "compacted"), ["value"],
                    target_file_bytes=1 << 30)
    assert len(t2.catalog.all_files()) == 1
    assert t2.count_rows() == 3000
    assert [r["value"] for r in
            t2.query(col("value") == 150).collect()] == [150]


def test_zorder_layout_depends_only_on_the_rows(spark, tmp_path):
    """The same multi-partition frame, z-ordered twice, gives the same
    files: equal row counts per file and per row group, equal bounds."""
    import glob

    import pyarrow.parquet as pq

    from datafusion_async_parquet_index_spark.sources.layout import (
        write_zordered,
    )

    base = spark.range(0, 40_000, 1, 8).select(
        F.col("id").cast("int").alias("a"),
        F.pmod(F.hash(F.col("id").cast("string")), F.lit(40_000))
         .cast("int").alias("b"))

    def layout(name):
        d = str(tmp_path / name)
        write_zordered(base, d, ["a", "b"], num_files=4,
                       row_group_bytes=1 << 15)
        out = []
        for f in sorted(glob.glob(f"{d}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            out.append([(md.row_group(i).num_rows,
                         md.row_group(i).column(0).statistics.min,
                         md.row_group(i).column(1).statistics.max)
                        for i in range(md.num_row_groups)])
        return out

    first = layout("z1")
    assert len(first) == 4
    assert layout("z2") == first


def _file_rows(d, key):
    """(rows, min key, max key) per part file of d, in file order."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(f"{d}/*.parquet")):
        keys = pq.read_table(f, columns=[key]).column(key).to_pylist()
        out.append((len(keys), keys[0], keys[-1]))
    return out


def test_range_sorted_layout_depends_only_on_the_rows(spark, tmp_path):
    """Three builds of one 8-partition frame give the same files: equal
    row counts per file, disjoint ascending key ranges, cut at the
    key's quantiles."""
    base = spark.range(0, 40_000, 1, 8).select(
        F.pmod(F.hash(F.col("id").cast("string")), F.lit(40_000))
         .cast("int").alias("a"), "id")
    builds = []
    for i in range(3):
        d = str(tmp_path / f"r{i}")
        write_range_sorted(base, d, ["a"], num_files=4,
                           row_group_bytes=1 << 15)
        builds.append(_file_rows(d, "a"))
    assert builds[0] == builds[1] == builds[2]
    rows = [n for n, _, _ in builds[0]]
    assert len(rows) == 4 and sum(rows) == 40_000
    assert all(9_900 <= n <= 10_100 for n in rows), rows
    assert all(hi < lo for (_, _, hi), (_, lo, _)
               in zip(builds[0], builds[0][1:]))


def test_range_sorted_cuts_composite_keys_in_sort_order(spark, tmp_path):
    """A string + int key with NULLs: every file is sorted on the key
    and the files' key ranges follow each other in the same order."""
    rows = [(None if i % 50 == 0 else f"k{i % 7}", i) for i in range(2_000)]
    base = spark.createDataFrame(rows, "s STRING, i INT").repartition(5)
    d = str(tmp_path / "composite")
    write_range_sorted(base, d, ["s", "i"], num_files=4)

    import glob

    import pyarrow.parquet as pq

    def order(r):
        return (r[0] is not None, r[0] or "", r[1])

    files = []
    for f in sorted(glob.glob(f"{d}/*.parquet")):
        t = pq.read_table(f, columns=["s", "i"])
        files.append(list(zip(t.column("s").to_pylist(),
                              t.column("i").to_pylist())))
    assert len(files) == 4 and sum(map(len, files)) == 2_000
    assert all(450 <= len(f) <= 550 for f in files), list(map(len, files))
    flat = [r for f in files for r in f]
    assert flat == sorted(flat, key=order)


def test_ivf_layout_topk_parity_and_partition_pruning(spark, sf_dir, tmp_path):
    """nprobe=1 over the cell-partitioned layout is row-identical to the
    logical IVF operator, and the candidate scan prunes DIRECTORIES
    (PartitionFilters on the cell partition column), not rows."""
    from datafusion_async_parquet_index_spark.operators.similarity import (
        ivf_layout_topk, sim_ivf_topk, write_ivf_layout,
    )
    from datafusion_async_parquet_index_spark.operators.util import read_table

    layout_dir = str(tmp_path / "ivf_layout")
    write_ivf_layout(read_table(spark, sf_dir, "embeddings"), layout_dir)

    got = ivf_layout_topk(spark, layout_dir, nprobe=1)
    want = sim_ivf_topk(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    n_cells = len([p for p in (tmp_path / "ivf_layout").iterdir()
                   if p.name.startswith("cell=")])
    assert n_cells > 1

    # higher nprobe only widens the candidate set (recall monotonicity)
    wider = ivf_layout_topk(spark, layout_dir, nprobe=2)
    assert wider.count() >= got.count()
