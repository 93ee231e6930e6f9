"""The DataFrame backend over every index type category: its stats table
keeps one typed column per statistic, and its Spark ``Column`` lookup
keeps the same row groups as the SQLite catalog's SQL lookup."""

import datetime as dt
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from datafusion_async_parquet_index_spark.plans.expr import col
from datafusion_async_parquet_index_spark.sources.catalog import (
    SqliteIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.df_catalog import (
    DataFrameIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

ROWS_PER_FILE = 60
ROWS_PER_GROUP = 20
EPOCH_DAY = dt.date(2020, 1, 1)
EPOCH_TS = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)


def _value(name, n):
    """Row n's value of column ``name``, increasing with n; None for
    the middle row group of the middle file (a null-only group)."""
    if ROWS_PER_FILE + ROWS_PER_GROUP <= n < ROWS_PER_FILE + 2 * ROWS_PER_GROUP:
        return None
    return {
        "i": n * 10,
        "f": n * 0.5,
        "s": f"s{n:04d}",
        "bn": b"b%04d" % n,
        "d": EPOCH_DAY + dt.timedelta(days=n),
        "ts": EPOCH_TS + dt.timedelta(hours=n),
        "dec": decimal.Decimal(n) / 4,
    }[name]


_ARROW = {
    "i": pa.int64(), "f": pa.float64(), "s": pa.string(),
    "bn": pa.binary(), "d": pa.date32(), "ts": pa.timestamp("us", tz="UTC"),
    "dec": pa.decimal128(10, 2),
}
COLUMNS = list(_ARROW)


@pytest.fixture(scope="module")
def typed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("typed")
    for f in range(3):
        ns = range(f * ROWS_PER_FILE, (f + 1) * ROWS_PER_FILE)
        table = pa.table({c: pa.array([_value(c, n) for n in ns], type=t)
                          for c, t in _ARROW.items()})
        pq.write_table(table, str(d / f"f{f}.parquet"),
                       row_group_size=ROWS_PER_GROUP)
    return str(d)


def test_stats_df_schema_per_type(spark, typed_dir):
    t = IndexedParquetTable(spark, typed_dir, COLUMNS,
                            catalog=DataFrameIndexCatalog(spark))
    want = [("file_name", T.StringType()), ("file_size_bytes", T.LongType()),
            ("row_group", T.IntegerType()), ("row_count", T.LongType())]
    bound = {"i": T.LongType(), "f": T.DoubleType(), "s": T.StringType(),
             "bn": T.BinaryType(), "d": T.DateType(),
             "ts": T.TimestampType(), "dec": T.DoubleType()}
    for c in COLUMNS:
        want += [(f"{c}_null_count", T.LongType()), (f"{c}_min", bound[c]),
                 (f"{c}_max", bound[c])]
        if c == "f":
            want.append(("f_nan_count", T.LongType()))
    frame = t.catalog.stats_df()
    assert [(f.name, f.dataType) for f in frame.schema.fields] == want
    assert frame.count() == 9


def test_lookup_matches_sqlite_per_type(spark, typed_dir):
    t_sql = IndexedParquetTable(spark, typed_dir, COLUMNS,
                                catalog=SqliteIndexCatalog())
    t_df = IndexedParquetTable(spark, typed_dir, COLUMNS,
                               catalog=DataFrameIndexCatalog(spark))
    for c in COLUMNS:
        lo, mid, hi = (_value(c, n) for n in (5, 130, 170))
        preds = [col(c) == mid, col(c) < mid, col(c) >= mid,
                 col(c).isin(lo, hi), col(c).is_null()]
        for pred in preds:
            want = t_sql.plan_scan(pred).files_scanned
            assert t_df.plan_scan(pred).files_scanned == want, (c, pred)
        # the predicates prune: a lookup that kept everything would
        # agree trivially
        assert t_sql.plan_scan(col(c) == mid).row_groups_scanned == 1, c
        assert t_sql.plan_scan(col(c).is_null()).row_groups_scanned == 1, c
