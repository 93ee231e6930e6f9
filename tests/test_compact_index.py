"""compact_deletes indexes the files it rewrites.

Each DV'd file's unit rewrites the live rows and extracts the staged
rewrite's index entry under the file's final catalog key, with
build_index's own extraction plan and fan-out rule; the closing
refresh() then finds every rewritten file unchanged. Covered here:

- the catalog after compaction equals a ``refresh(full=True)``
  re-extraction of the same files, table by table, on flat and hive
  layouts and on the sqlite and DataFrame backends;
- the closing refresh extracts no file, and counts and SUM pushdowns
  are exact after it;
- on an evolved schema the token-Bloom columns are typed as
  build_index types them;
- a compaction on 6 small files starts no Spark job, and with the
  fan-out threshold or the driver's row-group byte budget lowered it
  runs on executors with the same result;
- a compaction refused by the commit CAS raises ConcurrentWriteError
  and leaves no staged rewrite behind, even when a file lost every row;
- a static check that only ``stats._fan_out`` calls ``.parallelize(``
  under ``sources/``, so per-file fan-out has one rule.
"""

import ast
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_async_parquet_index_spark.plans.expr import col
from datafusion_async_parquet_index_spark.sources import stats
from datafusion_async_parquet_index_spark.sources.catalog import (
    ConcurrentWriteError,
)
from datafusion_async_parquet_index_spark.sources.df_catalog import (
    DataFrameIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.sidecars import STATISTICS
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

SOURCES = os.path.join(os.path.dirname(__file__), os.pardir,
                       "datafusion_async_parquet_index_spark", "sources")

ROWS_PER_FILE = 300

# every statistic the catalog keeps: footer stats, NaN counts, Bloom and
# token Bloom filters, sums, histograms, NDV registers, dictionaries,
# top-k, the page index (and an R-tree on the sqlite backend)
OPTIONS = dict(
    bloom_columns=["k", "s"], token_bloom_columns=["s"],
    sum_columns=["v"], nan_count_columns=["f"],
    hist_columns={"v": (0, 99, 10)}, ndv_columns=["v"],
    dict_columns=["s"], topk_columns=["v"], page_index_columns=["k"])


def _file_table(i: int) -> pa.Table:
    k = np.arange(i * ROWS_PER_FILE, (i + 1) * ROWS_PER_FILE, dtype=np.int64)
    f = (k % 11).astype(np.float64)
    f[k % 29 == 0] = np.nan
    return pa.table({
        "k": k,
        "v": k * 7 % 100,
        "s": [f"w{x % 5} tok{x % 13}" for x in k.tolist()],
        "f": f,
    })


def _layout(root: str, n_files: int, hive: bool) -> None:
    """``n_files`` files of ROWS_PER_FILE rows in 3 row groups, with a
    page index; file i sits in ``p=<i % 2>/`` on the hive layout."""
    for i in range(n_files):
        d = os.path.join(root, f"p={i % 2}") if hive else root
        os.makedirs(d, exist_ok=True)
        pq.write_table(_file_table(i), os.path.join(d, f"f{i}.parquet"),
                       row_group_size=ROWS_PER_FILE // 3,
                       write_page_index=True, data_page_size=512)


def _table(spark, root, backend, hive, **kw):
    catalog = DataFrameIndexCatalog(spark) if backend == "df" else None
    extra = {"rtree_columns": ["k"]} if backend == "sqlite" else {}
    return IndexedParquetTable(spark, root, ["k", "v", "s", "f"],
                               catalog=catalog, partitioned=hive,
                               **OPTIONS, **extra, **kw)


def _delete_mix(t, n_files):
    """Scattered deletes in every file, and every row of file 1."""
    t.delete_where((col("k") % 7) == 3)
    t.delete_where((col("k") >= ROWS_PER_FILE)
                   & (col("k") < 2 * ROWS_PER_FILE))
    assert len(t.catalog.get_dv_ranges()) == n_files


def _sqlite_state(cat) -> dict:
    """Every catalog table's rows, file ids replaced by file names (and
    R-tree run ids by (file name, first row group, last row group)), as
    sorted lists."""
    names = dict(cat._query("SELECT file_id, file_name FROM file_statistics"))
    tables = [r[0] for r in cat._query(
        "SELECT name FROM sqlite_master WHERE type = 'table' "
        "AND name NOT LIKE 'sqlite_%'")]
    shadow = ("_node", "_rowid", "_parent")
    out = {}
    for tbl in tables:
        if tbl.startswith("rg_rtree_") and tbl.endswith(shadow):
            continue   # the R-tree's own storage; its rows compare below
        cols = [r[1] for r in cat._query(f'PRAGMA table_info("{tbl}")')]
        rows = []
        for r in cat._query(f'SELECT * FROM "{tbl}"'):
            rec = dict(zip(cols, r))
            if "file_id" in rec:
                rec["file_id"] = names.get(rec["file_id"], rec["file_id"])
            if tbl.startswith("rg_rtree_"):
                fid, first = divmod(rec.pop("id"), 1_000_000)
                rec["id"] = (names[fid], first, rec.pop("last_rg"))
            rows.append(tuple(sorted(rec.items(), key=lambda kv: kv[0])))
        out[tbl] = sorted(rows, key=repr)
    return out


def _across_copies(state: dict) -> dict:
    """``_sqlite_state`` without what differs between two copies of a
    layout: the file mtimes and the commit writer's random nonce."""
    out = dict(state)
    for tbl, column in (("file_statistics", "mtime_ns"),
                        ("catalog_version", "writer")):
        out[tbl] = [tuple(kv for kv in row if kv[0] != column)
                    for row in state[tbl]]
    return out


@pytest.mark.parametrize("backend", ["sqlite", "df"])
@pytest.mark.parametrize("hive", [False, True], ids=["flat", "hive"])
def test_compaction_catalog_equals_full_reextraction(
        spark, tmp_path, backend, hive):
    n_files = 4
    root = str(tmp_path / "data")
    _layout(root, n_files, hive)
    t = _table(spark, root, backend, hive)
    _delete_mix(t, n_files)
    live = t.count_rows()
    assert t.compact_deletes() == n_files
    assert not t.catalog.get_dv_ranges()
    after = _sqlite_state(t.catalog)
    t.refresh(full=True)
    assert _sqlite_state(t.catalog) == after
    assert t.count_rows() == live
    if backend == "sqlite":
        # the rewritten files' sidecar statistics are really there
        for stat in STATISTICS:
            assert after[stat.table], stat.table
        assert len(after["file_statistics"]) == n_files - 1


@pytest.mark.parametrize("backend", ["sqlite", "df"])
def test_compaction_refresh_reextracts_nothing(spark, tmp_path,
                                               monkeypatch, backend):
    """The entries compaction upserts are the whole re-index: its
    closing ``refresh`` reads no footer, and counts and SUM pushdowns
    are exact afterwards."""
    n_files = 4
    root = str(tmp_path / "data")
    _layout(root, n_files, hive=False)
    t = _table(spark, root, backend, hive=False)
    _delete_mix(t, n_files)
    live = [r for i in range(n_files) if i != 1
            for r in _file_table(i).to_pylist() if r["k"] % 7 != 3]
    extracted, refreshes = [], []
    orig_extract, orig_refresh = stats.extract_file_stats, t.refresh

    def spy_extract(path, *a, **kw):
        extracted.append(path)
        return orig_extract(path, *a, **kw)

    def spy_refresh(*a, **kw):
        refreshes.append(a)
        with monkeypatch.context() as m:
            m.setattr(stats, "extract_file_stats", spy_extract)
            return orig_refresh(*a, **kw)

    monkeypatch.setattr(t, "refresh", spy_refresh)
    t.compact_deletes()
    monkeypatch.undo()
    assert refreshes and extracted == []
    assert t.count_rows() == len(live)
    assert t.count_rows(col("v") < 50) == sum(r["v"] < 50 for r in live)
    s, n = t.sum_rows("v")
    assert (s, n) == (sum(r["v"] for r in live), len(live))
    assert t.last_sum_pushdown["partial_row_groups"] == 0


def test_compaction_types_token_blooms_like_build_index(spark, tmp_path):
    """On an evolved schema — the first file predates the token-Bloom
    column — compaction types the token-Bloom columns from the same
    file build_index does, so the catalog still equals a full
    re-extraction."""
    root = str(tmp_path / "data")
    os.makedirs(root)
    pq.write_table(_file_table(0).select(["k", "v"]),
                   os.path.join(root, "f0.parquet"))
    for i in (1, 2):
        pq.write_table(_file_table(i), os.path.join(root, f"f{i}.parquet"))
    t = IndexedParquetTable(spark, root, ["k", "v"],
                            token_bloom_columns=["s"])
    t.delete_where(col("k") >= ROWS_PER_FILE + 7)
    assert sorted(t.catalog.get_dv_ranges()) == ["f1.parquet", "f2.parquet"]
    live = t.count_rows()
    assert t.compact_deletes() == 2
    after = _sqlite_state(t.catalog)
    t.refresh(full=True)
    assert _sqlite_state(t.catalog) == after
    assert t.count_rows() == live


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def test_compaction_spark_jobs_follow_fan_out_rule(spark, tmp_path,
                                                   monkeypatch):
    """Below the fan-out threshold and the driver's row-group byte
    budget compaction starts no Spark job; with either lowered it runs
    on executors, with the same rows and catalog."""
    n_files = 6
    lowered = {"driver": None,
               "executors-by-count": (stats, "_DISTRIBUTED_THRESHOLD", 2),
               "executors-by-bytes": (IndexedParquetTable,
                                      "ROWGROUP_LOCAL_MAX_BYTES", 0)}
    tables = {}
    for mode in lowered:
        root = str(tmp_path / mode)
        _layout(root, n_files, hive=False)
        tables[mode] = t = _table(spark, root, "sqlite", hive=False)
        _delete_mix(t, n_files)
    for mode, patch in lowered.items():
        with monkeypatch.context() as m:
            if patch is not None:
                m.setattr(*patch)
            n, jobs = _jobs(spark, f"compact-{mode}",
                            tables[mode].compact_deletes)
        assert n == n_files
        assert len(jobs) == (0 if patch is None else 1), mode
    a = tables["driver"]
    want = sorted(r["k"] for r in a.query(None).collect())
    assert len(want) == a.count_rows()
    for mode in ("executors-by-count", "executors-by-bytes"):
        b = tables[mode]
        assert (_across_copies(_sqlite_state(a.catalog))
                == _across_copies(_sqlite_state(b.catalog)))
        assert sorted(r["k"] for r in b.query(None).collect()) == want


@pytest.mark.parametrize("backend", ["sqlite", "df"])
def test_refused_compaction_raises_and_drops_staged(spark, tmp_path,
                                                    backend):
    """A compaction refused at its commit CAS — one file lost every row,
    so it staged nothing — raises ConcurrentWriteError, leaves no
    ``.compact.tmp`` and changes no row."""
    root = str(tmp_path / "data")
    for name, lo in (("a.parquet", 0), ("b.parquet", 100)):
        os.makedirs(root, exist_ok=True)
        pq.write_table(pa.table({"k": np.arange(lo, lo + 100,
                                                dtype=np.int64)}),
                       os.path.join(root, name))
    catalog = DataFrameIndexCatalog(spark) if backend == "df" else None
    t = IndexedParquetTable(spark, root, ["k"], catalog=catalog)
    t.delete_where(col("k") < 100)           # every row of a.parquet
    t.delete_where(col("k") == 150)          # one row of b.parquet
    n0 = t.count_rows()

    def other_writer(verb):
        t.catalog.commit_version(t.catalog.version(), "other")

    t._pre_commit_hook = other_writer
    with pytest.raises(ConcurrentWriteError):
        t.compact_deletes()
    t._pre_commit_hook = None
    assert glob.glob(os.path.join(root, ".*.compact.tmp")) == []
    assert t.count_rows() == n0 == 99
    assert len(t.catalog.get_dv_ranges()) == 2


def test_only_fan_out_calls_parallelize():
    """Under ``sources/``, ``.parallelize(`` is called only by
    ``stats._fan_out``: per-file work fans out through one rule."""
    owners = []
    for path in sorted(glob.glob(os.path.join(SOURCES, "*.py"))):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        funcs = [n for n in ast.walk(tree)
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parallelize"):
                continue
            inner = min((f for f in funcs
                         if f.lineno <= node.lineno <= f.end_lineno),
                        key=lambda f: f.end_lineno - f.lineno, default=None)
            owners.append((os.path.basename(path),
                           inner.name if inner else "<module>"))
    assert owners == [("stats.py", "_fan_out")], owners
