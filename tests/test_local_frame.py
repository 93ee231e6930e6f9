"""Driver-built frames ship as Arrow local relations.

Every DataFrame the package builds from driver rows goes through
``session.local_frame``, which Spark plans as a JVM ``LocalTableScan``
instead of a pickled Python RDD (``Scan ExistingRDD``) that starts a
Python worker on each action. Covered here: the plans of the hot paths
(deletion-vector build side, empty scans, a catalog-answer result), the
helper's typed round trip against the list path, exact counts under a
large scattered deletion vector on both sides of the broadcast cap, a
static one-way check, and the two range/bit kernels that ride along
(``_merge_dv_ranges``, the vectorized ``build_bloom``), each against
its scalar oracle.
"""

import ast
import datetime
import json
import os
import random
import tracemalloc
from decimal import Decimal

import pyspark
import pytest
from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark import queries
from datafusion_async_parquet_index_spark.operators.util import (
    track_cache_eager,
)
from datafusion_async_parquet_index_spark.plans.expr import col
from datafusion_async_parquet_index_spark.session import local_frame
from datafusion_async_parquet_index_spark.sources import bloom
from datafusion_async_parquet_index_spark.sources.bloom import (
    _hash_pair, bloom_contains, bloom_params, build_bloom,
)
from datafusion_async_parquet_index_spark.sources.catalog import (
    FileStats, RowGroupStats, SqliteIndexCatalog, _merge_dv_ranges,
)
from datafusion_async_parquet_index_spark.sources.df_catalog import (
    DataFrameIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

CHECKED = "4.1.2"
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "datafusion_async_parquet_index_spark")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df, what):
    plan = _plan(df)
    msg = (f"{what}: expected a LocalTableScan and no Scan ExistingRDD "
           f"(checked on Spark {CHECKED}, running "
           f"{pyspark.__version__})\n{plan}")
    assert "LocalTableScan" in plan, msg
    assert "ExistingRDD" not in plan, msg


def _one_file(df, d, name):
    tmp = d + "_" + name
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), os.path.join(d, name))


def _table(spark, d, n):
    os.makedirs(d)
    base = spark.range(n).select(F.col("id").alias("k"),
                                 (F.col("id") % 97).alias("v"))
    _one_file(base.orderBy("k"), d, "a.parquet")
    return IndexedParquetTable(spark, d, ["k", "v"])


# -- plan guards ------------------------------------------------------

def test_dv_read_and_empty_scan_plan_local_relations(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"), 2_000)
    assert t.delete_where((col("k") % 7) == 0) == 286
    read = t.query(col("k") >= 0)
    _assert_local(read, "DV-filtered read")
    assert read.count() == 2_000 - 286
    empty = t.query(col("k") < -1)
    assert t.last_scan.files_scanned == {}
    _assert_local(empty, "query with no surviving files")
    assert empty.count() == 0


def test_catalog_answer_frame_plans_local_relation(spark, sf_dir):
    df = queries.q48_metadata_count(spark, sf_dir)
    _assert_local(df, "q48 catalog-answer frame")
    total, impossible = df.collect()[0]
    assert total > 0 and impossible == 0


def test_track_cache_eager_private_surfaces_pinned(spark):
    """``track_cache_eager`` relies on two private JVM surfaces:
    ``CacheManager.lookupCachedData`` and ``getRDDStorageInfo`` (with
    ``id``/``numCachedPartitions``/``memSize``). A Spark bump that
    renames or changes them must fail here, not demote silently."""
    msg = (f"private cache surface changed (checked on Spark {CHECKED}, "
           f"running {pyspark.__version__}); see "
           f"operators/util.track_cache_eager")
    sc = spark.sparkContext
    cm = spark._jsparkSession.sharedState().cacheManager()
    df = spark.range(5_000).selectExpr("id * 7 AS x").repartition(3, "x")
    assert not cm.lookupCachedData(df._jdf).isDefined(), msg
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    cached = track_cache_eager(df)
    try:
        assert cm.lookupCachedData(cached._jdf).isDefined(), msg
        newly = [i for i in sc._jsc.sc().getRDDStorageInfo()
                 if i.id() not in before]
        assert newly, msg
        assert max(i.numCachedPartitions() for i in newly) > 0, msg
        assert max(i.memSize() for i in newly) > 0, msg
    finally:
        cached.unpersist()


# -- the helper -------------------------------------------------------

def test_local_frame_round_trip_matches_list_path(spark):
    ddl = ("a BIGINT, b INT, c DOUBLE, d STRING, e DATE, "
           "f DECIMAL(12,3)")
    rows = [
        (1, 2, 3.5, "x", datetime.date(2024, 2, 29), Decimal("1.250")),
        (None, None, None, None, None, None),
        (-(2 ** 63), -(2 ** 31), -0.0, "", datetime.date(1970, 1, 1),
         Decimal("-999999999.999")),
        (2 ** 63 - 1, 2 ** 31 - 1, 1e300, "ünïé",
         datetime.date(9999, 12, 31), Decimal("0.001")),
    ]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # empty rows keep the schema, and a StructType works like DDL
    empty = local_frame(spark, [], want.schema)
    assert empty.schema == want.schema and empty.collect() == []
    _assert_local(got, "local_frame")


@pytest.mark.parametrize("rows", [
    [(1, 2, 3.5)],                       # a field short of the schema
    [(1, 2, 3.5, "x", None, None, 7)],   # a field beyond it
    [(1, 2, 3.5, "x", None, None), (1, 2, 3.5, "x", None)],  # ragged
])
def test_local_frame_rejects_wrong_arity(spark, rows):
    with pytest.raises(ValueError):
        local_frame(spark, rows, "a BIGINT, b INT, c DOUBLE, d STRING, "
                                 "e DATE, f DECIMAL(12,3)")


def test_package_builds_frames_only_through_local_frame():
    """One way to hand driver rows to Spark: ``createDataFrame`` is
    called only inside ``session.local_frame``."""
    calls = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            funcs = [n for n in ast.walk(tree)
                     if isinstance(n, (ast.FunctionDef,
                                       ast.AsyncFunctionDef))]
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"):
                    owner = next((f.name for f in funcs
                                  if f.lineno <= node.lineno
                                  <= f.end_lineno), None)
                    calls.append((os.path.relpath(path, PKG), owner))
    assert calls == [("session.py", "local_frame")], calls


# -- a large scattered deletion vector --------------------------------

@pytest.mark.parametrize("cap", [None, 1_000])
def test_large_scattered_dv_counts_exact(spark, tmp_path, monkeypatch,
                                         cap):
    """20,000 single-position ranges plus a 500-row run in one file,
    read with the build side broadcast (default cap) and not (tiny
    cap): every count equals the positions actually kept."""
    n = 120_000
    t = _table(spark, str(tmp_path / "big"), n)
    victims = (((col("k") % 3) == 0) & (col("k") < 60_000)) \
        | ((col("k") >= 100_000) & (col("k") < 100_500))
    assert t.delete_where(victims) == 20_500
    ranges = t.catalog.get_dv_ranges()["a.parquet"]
    assert len(ranges) == 20_001
    assert sum(ln for _, ln in ranges) == 20_500
    if cap is not None:
        monkeypatch.setattr(IndexedParquetTable,
                            "DV_BROADCAST_MAX_POSITIONS", cap)
        t._dv_pos_memo = None
    df = t.query(None)
    plan = _plan(df)
    if cap is None:
        assert "BroadcastExchange" in plan, plan
    else:
        # Spark prints the strategy as "LeftAnti, BuildRight"; above
        # the cap no BroadcastHashJoin may build on the position side
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
    assert df.count() == n - 20_500
    live = t.query((col("k") >= 59_990) & (col("k") < 100_010))
    assert live.count() == sum(
        1 for k in range(59_990, 100_010)
        if not ((k % 3 == 0 and k < 60_000) or 100_000 <= k < 100_500))
    assert t.count_rows() == n - 20_500


# -- DV range merge ---------------------------------------------------

def _runs_of(positions):
    out = []
    for p in sorted(set(positions)):
        if out and p == out[-1][0] + out[-1][1]:
            out[-1][1] += 1
        else:
            out.append([p, 1])
    return out


def test_merge_dv_ranges_equals_set_union():
    rng = random.Random(7)
    for _ in range(2_000):
        span = rng.choice((10, 60, 400))
        ranges = _runs_of(rng.sample(range(span),
                                     rng.randint(0, span // 2)))
        new = sorted(rng.choices(range(span), k=rng.randint(0, span // 3)))
        old = {p for s, ln in ranges for p in range(s, s + ln)}
        assert _merge_dv_ranges(ranges, new) == _runs_of(old | set(new))


@pytest.mark.parametrize("backend", ["sqlite", "df"])
def test_upsert_dv_merges_in_range_domain(spark, backend):
    """One more deleted position into a 3,000,000-position, 3-range
    vector costs O(ranges): no exploded position set."""
    if backend == "sqlite":
        cat = SqliteIndexCatalog()
    else:
        cat = DataFrameIndexCatalog(spark)
    cat.initialize({"v": "int"})
    cat.upsert_file(FileStats("f.parquet", 1, 1, 10_000_000),
                    [RowGroupStats(0, 10_000_000, {"v": (0, 0, 9)})])
    big = [[0, 1_000_000], [2_000_000, 1_000_000], [4_000_000, 1_000_000]]
    fid = cat._query("SELECT file_id FROM file_statistics")[0][0]
    cat._exec("INSERT INTO deletion_vectors "
              "(file_id, ranges, deleted_rows) VALUES (?, ?, ?)",
              (fid, json.dumps(big), 3_000_000))
    tracemalloc.start()
    try:
        total = cat.upsert_dv("f.parquet", {0: [3_000_000]})
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert total == 3_000_001
    assert cat.dv_deleted_rows() == {"f.parquet": 3_000_001}
    assert [list(r) for r in cat.get_dv_ranges()["f.parquet"]] == [
        [0, 1_000_000], [2_000_000, 1_000_001], [4_000_000, 1_000_000]]
    assert peak < 1 << 20, f"peak {peak} bytes: the vector was exploded"


# -- vectorized bloom build -------------------------------------------

def _bloom_loop(canon_values, m, k):
    """The per-value build the vectorized one must reproduce byte for
    byte (filters persisted by it keep probing)."""
    bits = bytearray(m // 8)
    for canon in canon_values:
        h1, h2 = _hash_pair(canon)
        for i in range(k):
            pos = (h1 + i * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)
    return bytes(bits)


@pytest.mark.parametrize("n", [0, 1, 5, 1_200, 20_000])
@pytest.mark.parametrize("fpp", [0.3, 0.01, 0.0001])
def test_build_bloom_byte_identical_to_loop(n, fpp):
    rng = random.Random(n * 31 + int(fpp * 1e4))
    vals = [b"i%d" % rng.randrange(-10 ** 15, 10 ** 15) for _ in range(n)]
    vals += [b"s" + "ü%d".encode() % i for i in range(n // 10)]
    m, k = bloom_params(len(vals), fpp)
    blob = build_bloom(vals, m, k)
    assert blob == _bloom_loop(vals, m, k)
    assert all(bloom_contains(blob, m, k, v) for v in vals[:200])


def test_build_bloom_chunk_boundaries_byte_identical(monkeypatch):
    """Chunks that split the values unevenly set the same bits."""
    monkeypatch.setattr(bloom, "_BUILD_CHUNK", 7)
    vals = [b"i%d" % i for i in range(1_000)]
    m, k = bloom_params(len(vals), 0.01)
    assert build_bloom(iter(vals), m, k) == _bloom_loop(vals, m, k)
