"""The catalog-answer family's shared folds and failure contract:

- a whole-table answer equals its grouped form over a layout with one
  group (the grouped fold with a single group);
- grouped counts over a multi-valued partitioned layout add up to the
  whole-table count;
- a catalog fault inside a sketch read propagates instead of turning
  into a silent "no answer" scan fallback.
"""

import os
import sqlite3

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

QS = [10, 500, 900, 990]


@pytest.fixture(scope="module")
def single_group_table(spark, tmp_path_factory):
    """Every row group holds the single value g = 7; c varies."""
    d = str(tmp_path_factory.mktemp("single_group"))
    for f in range(2):
        c = [(f * 37 + i * 13) % 100 for i in range(60)]
        tbl = pa.table({"g": pa.array([7] * len(c), pa.int64()),
                        "c": pa.array(c, pa.int64())})
        pq.write_table(tbl, os.path.join(d, f"part-{f}.parquet"),
                       row_group_size=20)
    return IndexedParquetTable(
        spark, d, index_columns=["g", "c"], sum_columns=["c"],
        hist_columns={"c": (0, 99, 8)}, ndv_columns=["c"],
        dict_columns=["c"], topk_columns=["c"], topk_k=3)


def test_grouped_fold_of_one_group_is_the_whole_table_fold(
        single_group_table):
    t = single_group_table
    assert t.count_rows_by("g") == {7: t.count_rows()}
    quantiles = t.hist_quantiles("c", QS)
    assert quantiles is not None
    assert t.hist_quantiles_by("g", "c", QS) == {7: quantiles}
    ndv = t.ndv_estimate("c")
    assert ndv is not None
    assert t.ndv_by("g", "c") == {7: ndv}
    hitters = t.heavy_hitters("c", 4)
    assert hitters
    assert t.heavy_hitters_by("g", "c", 4) == {7: hitters}
    moments = t.sum_sq_rows("c")
    assert moments[2] == 120
    assert t.sum_sq_rows_by("g", "c") == {7: moments}


def test_grouped_counts_add_up_to_the_table_count(spark, tmp_path):
    d = str(tmp_path / "multi_group")
    for g, sizes in {1: [30, 5], 2: [12], 3: [40, 40, 1]}.items():
        os.makedirs(os.path.join(d, f"g={g}"))
        for i, n in enumerate(sizes):
            tbl = pa.table({"v": pa.array(range(n), pa.int64())})
            pq.write_table(tbl, os.path.join(d, f"g={g}", f"p{i}.parquet"),
                           row_group_size=16)
    t = IndexedParquetTable(spark, d, index_columns=["v"], partitioned=True)
    by = t.count_rows_by("g")
    assert by == {1: 35, 2: 12, 3: 81}
    assert sum(by.values()) == t.count_rows() == 128


SKETCH_READS = [
    ("get_hists", "hist_quantiles", ("c", QS)),
    ("get_hists", "hist_quantiles_by", ("g", "c", QS)),
    ("get_ndvs", "ndv_estimate", ("c",)),
    ("get_ndvs", "ndv_by", ("g", "c")),
    ("get_dicts", "group_counts", ("c",)),
    ("get_topk", "heavy_hitters", ("c",)),
    ("get_topk", "heavy_hitters_by", ("g", "c")),
]


@pytest.mark.parametrize("getter,method,args", SKETCH_READS,
                         ids=[m for _, m, _ in SKETCH_READS])
def test_catalog_faults_propagate(single_group_table, monkeypatch,
                                  getter, method, args):
    def fault(*a, **kw):
        raise sqlite3.OperationalError("database disk image is malformed")

    monkeypatch.setattr(single_group_table.catalog, getter, fault)
    with pytest.raises(sqlite3.OperationalError, match="malformed"):
        getattr(single_group_table, method)(*args)
