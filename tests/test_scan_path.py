"""One read path: every surface of IndexedParquetTable reads table data
files through ``_scan`` (catalog keys joined onto ``data_dir``,
``basePath`` on hive layouts, the fixed schema, the era's deletion
vectors anti-joined).

Covered here: the full-table surfaces (``to_df``, a temp view,
``query(None)``, ``sql``) agree on the catalog's file set when the
directory holds a file ``refresh()`` has not indexed yet, on flat and
hive layouts; and a static check that no other method of
``sources/table.py`` builds a ``spark.read`` scan, apart from the named
reads that are not scans of indexed table files.
"""

import ast
import os

import pytest
from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark.plans.expr import col
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

TABLE_PY = os.path.join(os.path.dirname(__file__), os.pardir,
                        "datafusion_async_parquet_index_spark", "sources",
                        "table.py")


def _write(spark, path, lo, hi):
    (spark.range(lo, hi)
     .select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
     .coalesce(1).write.mode("overwrite").parquet(path))


def _layout(spark, root, partitioned, files):
    """10-row files ``f<i>.parquet``: flat, or file i in dir ``p=<i>``."""
    for i in files:
        stage = os.path.join(root, f"_stage{i}")
        _write(spark, stage, 10 * i, 10 * (i + 1))
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dest_dir = os.path.join(root, f"p={i}") if partitioned else root
        os.makedirs(dest_dir, exist_ok=True)
        os.replace(os.path.join(stage, part),
                   os.path.join(dest_dir, f"f{i}.parquet"))
        for f in os.listdir(stage):
            os.remove(os.path.join(stage, f))
        os.rmdir(stage)


@pytest.mark.parametrize("partitioned", [False, True])
def test_full_scans_agree_on_the_catalog_file_set(spark, tmp_path,
                                                  partitioned):
    root = str(tmp_path / ("hive" if partitioned else "flat"))
    os.makedirs(root)
    _layout(spark, root, partitioned, range(3))
    t = IndexedParquetTable(spark, root, ["k"])
    # a fourth file lands without refresh(): invisible to every surface
    _layout(spark, root, partitioned, [3])

    def counts():
        return {
            "query": t.query(None).count(),
            "to_df": t.to_df().count(),
            "view": spark.table("scan_path_view").count(),
            "sql": t.sql("SELECT count(*) AS n FROM self").head()["n"],
        }

    t.create_temp_view("scan_path_view")
    assert counts() == dict.fromkeys(("query", "to_df", "view", "sql"), 30)
    # deletion vectors apply on every surface, views re-register
    assert t.delete_where(col("k") < 5) == 5
    assert counts() == dict.fromkeys(("query", "to_df", "view", "sql"), 25)
    if partitioned:
        assert sorted(r["p"] for r in t.to_df().select("p").distinct()
                      .collect()) == [0, 1, 2]
    # refresh() indexes the new file; every surface sees it together
    t.refresh()
    t.create_temp_view("scan_path_view")
    assert counts() == dict.fromkeys(("query", "to_df", "view", "sql"), 35)


# methods whose spark.read is not a scan of indexed table files
_NOT_TABLE_SCANS = {
    "_infer_schema",            # schema inference (footers only)
    "_stage_bin",               # compaction bin read, physical schema
    "_read_rowgroups",          # the rowgroup_parquet DataSource
    "_merge_land_and_delete",   # just-landed, not yet indexed, files
}


def test_only_scan_builds_table_reads():
    """``spark.read`` appears in ``sources/table.py`` only inside
    ``_scan`` and the named exceptions."""
    with open(TABLE_PY, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), TABLE_PY)
    funcs = [n for n in ast.walk(tree)
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    owners = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Attribute) and node.attr == "read"
                and ast.unparse(node.value).split(".")[-1] == "spark"):
            continue
        inner = min((f for f in funcs
                     if f.lineno <= node.lineno <= f.end_lineno),
                    key=lambda f: f.end_lineno - f.lineno)
        owners.append(inner.name)
    assert owners.count("_scan") == 1, owners
    assert set(owners) - {"_scan"} <= _NOT_TABLE_SCANS, owners
