"""DataFrame-backed statistics catalog: the lakehouse-table variant.

The reference stores its index in a relational catalog reached over SQL
(SQLite stand-in for "any database SQLx supports, including a remote
Postgres", ``/root/reference/sqlx-sqlite/src/main.rs:89-90``).  On Spark
the idiomatic equivalent of "remote relational catalog" is a *stats
table in the lakehouse itself*: a small Parquet/Delta table of one row
per (file, row group) with typed ``{col}_min/{col}_max/{col}_null_count``
columns.  The pruning predicate (the same stats-space ``Expr`` the
SQLite backend renders to SQL — ``plans/pruning.py``) is evaluated as a
pyspark ``Column`` via ``Expr.to_spark()``; SQL ternary-logic semantics
are identical in both engines, so the two backends return identical
pruning decisions (tested in ``tests/test_catalog_backends.py``).

The catalog's data lives in an in-memory SQLite database: this class
is a ``SqliteIndexCatalog`` over ``":memory:"`` and inherits its every
write and read — files, sidecar statistics, deletion vectors,
snapshots, the version CAS and the writer lease. What it adds is the
lookup: ``stats_df()`` is the stats table (rebuilt from the SQLite rows
after any write, optionally persisted as Parquet) and ``get_files``
filters it with the Spark ``Column``.

Scale posture: the stats table is O(row-groups), ~5-6 orders of
magnitude smaller than the data (one row per ~50-1000 MB of data at
production row-group sizes); filtering it is a tiny Spark job (or a
driver-local filter at test sizes), and it can live alongside the data
with no extra infrastructure — the 100 TB story the reference gestures
at with "remote Postgres".
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..plans.expr import Expr
from ..session import local_frame
from .catalog import SqliteIndexCatalog, decode_value, survivors_by_file

# type-category -> Spark type for {col}_min / {col}_max (unsigned ints
# already widened by the "int" category; reference index.rs:396-415)
_SPARK_TYPE = {
    "int": T.LongType(),
    "float": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "decimal": T.DoubleType(),  # ulp-widened bounds from extraction
}


class DataFrameIndexCatalog(SqliteIndexCatalog):
    """Stats catalog looked up as a Spark DataFrame (optionally
    persisted to a Parquet path — the stats *table* of a lakehouse
    deployment)."""

    def __init__(self, spark: SparkSession, persist_path: Optional[str] = None):
        super().__init__(":memory:")
        self.spark = spark
        self.persist_path = persist_path
        # the stats frame and the catalog state it was built from: any
        # write moves the connection's total_changes, any DDL the index
        # schema, so a changed key means the frame is stale
        self._df: Optional[DataFrame] = None
        self._df_key: Optional[tuple] = None

    def _stats_schema(self) -> T.StructType:
        fields = [
            T.StructField("file_name", T.StringType(), False),
            T.StructField("file_size_bytes", T.LongType(), False),
            T.StructField("row_group", T.IntegerType(), False),
            T.StructField("row_count", T.LongType(), False),
        ]
        for c, cat in self.index_schema.items():
            t = _SPARK_TYPE[cat]
            fields.append(T.StructField(f"{c}_null_count", T.LongType(), True))
            fields.append(T.StructField(f"{c}_min", t, True))
            fields.append(T.StructField(f"{c}_max", t, True))
            if cat == "float":
                # opt-in per-row-group NaN count (null = unknown); see
                # SqliteIndexCatalog.initialize / plans/pruning._nan
                fields.append(T.StructField(f"{c}_nan_count", T.LongType(), True))
        return T.StructType(fields)

    # -- the stats table ------------------------------------------------
    def stats_df(self) -> DataFrame:
        """One row per (file, row group) with typed stat columns: the
        ``file_statistics`` ⋈ ``row_group_statistics`` rows, decoded
        from their storage form into the data's domain."""
        key = (self._conn.total_changes, tuple(self.index_schema.items()))
        if self._df_key != key:
            schema = self._stats_schema()
            stat_names = schema.fieldNames()[4:]
            category = {n: cat for n, _, cat in self._stat_columns()}
            cats = [category[n] for n in stat_names]
            rows = self._query(
                f"""SELECT f.file_name, f.file_size_bytes, rg.row_group,
                           rg.row_count{''.join(f', rg."{n}"' for n in stat_names)}
                    FROM row_group_statistics rg
                    JOIN file_statistics f ON f.file_id = rg.file_id
                    ORDER BY f.file_name, rg.row_group""")
            rows = [(*r[:4], *(decode_value(cat, v)
                               for cat, v in zip(cats, r[4:])))
                    for r in rows]
            df = local_frame(self.spark, rows, schema)
            if self.persist_path:
                df.write.mode("overwrite").parquet(self.persist_path)
                df = self.spark.read.parquet(self.persist_path)
            self._df, self._df_key = df, key
        return self._df

    # -- lookup (reference index.rs:102-176) ----------------------------
    def get_files(self, stats_predicate: Expr, prefilter=None
                  ) -> List[Tuple[str, List[int]]]:
        """Evaluate the stats-space predicate as a pyspark Column; rows
        where it is not TRUE are pruned (same keep-on-TRUE semantics as
        the SQL WHERE in the SQLite backend). Files with zero surviving
        row groups simply don't appear (reference README.md:70).
        ``prefilter`` (an R-tree window) is ignored: this backend has
        no R-tree, and the window never changes the answer."""
        kept = (
            self.stats_df()
            .filter(stats_predicate.to_spark())
            .select("file_name", "row_group")
            .collect()
        )
        return survivors_by_file((r[0], int(r[1])) for r in kept)
