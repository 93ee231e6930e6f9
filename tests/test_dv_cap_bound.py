"""The delete verbs' cap check costs a Spark job only when it can matter.

``_dv_store_victims`` runs the DV_MAX_DELETED_PER_CALL ``count()`` only
when an upper bound on the victims exceeds the cap: the table's catalog
row count for ``delete_where`` / ``delete_matching``, the
already-counted victims for ``update_where``. Otherwise the
grouped collect is the verb's only victim action. Covered here: no
``count`` under the cap, one when the bound is over it, the cap still
raising when the victims really are over it, and a seeded random delete
sweep whose deletion vectors equal the positions computed from the
files themselves.
"""

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_async_parquet_index_spark.plans.expr import col
from datafusion_async_parquet_index_spark.sources.table import (
    DVCapExceeded,
    IndexedParquetTable,
)

N_FILES, ROWS, RG_ROWS = 3, 400, 100


def _layout(root: str, seed: int = 0) -> dict:
    """N_FILES files of ROWS rows in row groups of RG_ROWS, ``k``
    shuffled inside each file so deletes scatter; returns
    {file name: [row dicts in file order]}."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    files = {}
    for i in range(N_FILES):
        k = rng.permutation(np.arange(i * ROWS, (i + 1) * ROWS,
                                      dtype=np.int64))
        tbl = pa.table({"k": k, "v": k * 7 % 100})
        name = f"f{i}.parquet"
        pq.write_table(tbl, os.path.join(root, name),
                       row_group_size=RG_ROWS)
        files[name] = tbl.to_pylist()
    return files


@pytest.fixture()
def count_calls(spark, monkeypatch):
    """Every ``DataFrame.count`` call made while the test runs."""
    cls = type(spark.range(1))
    orig = cls.count
    calls = []

    def spy(self):
        calls.append(self)
        return orig(self)

    monkeypatch.setattr(cls, "count", spy)
    return calls


def test_delete_under_cap_runs_no_count(spark, tmp_path, count_calls):
    root = str(tmp_path / "data")
    _layout(root)
    t = IndexedParquetTable(spark, root, ["k", "v"], sum_columns=["v"])
    assert t.delete_where(col("v") == 21) == 12
    victims = spark.createDataFrame([(k,) for k in range(0, 1200, 50)],
                                    "k long")
    count_calls.clear()     # createDataFrame is not a delete
    assert t.delete_matching(victims, "k") == 24
    assert count_calls == []
    assert t.count_rows() == N_FILES * ROWS - 12 - 24


def test_update_counts_victims_once(spark, tmp_path, count_calls):
    root = str(tmp_path / "data")
    _layout(root)
    t = IndexedParquetTable(spark, root, ["k", "v"])
    assert t.update_where(col("k") < 30, {"v": "v + 1000"}) == 30
    assert len(count_calls) == 1


def test_bound_over_cap_counts_then_deletes(spark, tmp_path, count_calls):
    """A bound over the cap with victims under it: one count, then the
    delete goes through."""
    root = str(tmp_path / "data")
    _layout(root)
    t = IndexedParquetTable(spark, root, ["k"])
    t.DV_MAX_DELETED_PER_CALL = ROWS - 1     # the table's rows exceed it
    assert t.delete_where(col("v") == 21) == 12
    assert len(count_calls) == 1
    # the bound is the whole table's, even for a point delete
    assert t.delete_where(col("k") == 5) == 1
    assert len(count_calls) == 2


def test_cap_still_refuses_over_cap_delete(spark, tmp_path):
    root = str(tmp_path / "data")
    _layout(root)
    t = IndexedParquetTable(spark, root, ["k"])
    t.DV_MAX_DELETED_PER_CALL = 50
    with pytest.raises(DVCapExceeded, match="DV_MAX_DELETED_PER_CALL"):
        t.delete_where(col("v") < 20)
    assert not t.catalog.get_dv_ranges()
    assert t.count_rows() == N_FILES * ROWS


def _runs(positions):
    out = []
    for p in sorted(positions):
        if out and p == out[-1][0] + out[-1][1]:
            out[-1] = (out[-1][0], out[-1][1] + 1)
        else:
            out.append((p, 1))
    return out


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_random_delete_sweep_matches_file_positions(spark, tmp_path, seed):
    """Eight seeded random deletes; after each, the table's deletion
    vectors equal the runs of the deleted rows' file positions."""
    root = str(tmp_path / "data")
    files = _layout(root, seed)
    t = IndexedParquetTable(spark, root, ["k", "v"], sum_columns=["v"])
    rng = random.Random(seed)
    deleted = {name: set() for name in files}
    for _ in range(8):
        shape = rng.randrange(3)
        if shape == 0:
            m = rng.randrange(5, 40)
            r = rng.randrange(m)
            pred, hit = (col("v") % m) == r, (lambda row, m=m, r=r:
                                              row["v"] % m == r)
        elif shape == 1:
            a = rng.randrange(N_FILES * ROWS)
            b = a + rng.randrange(1, 150)
            pred, hit = ((col("k") >= a) & (col("k") < b),
                         lambda row, a=a, b=b: a <= row["k"] < b)
        else:
            x, y = rng.randrange(100), rng.randrange(N_FILES * ROWS)
            pred, hit = ((col("v") == x) | (col("k") == y),
                         lambda row, x=x, y=y: row["v"] == x or row["k"] == y)
        new = 0
        for name, rows in files.items():
            pos = {i for i, row in enumerate(rows) if hit(row)}
            new += len(pos - deleted[name])
            deleted[name] |= pos
        assert t.delete_where(pred) == new
        want = {name: _runs(pos) for name, pos in deleted.items() if pos}
        assert t.catalog.get_dv_ranges() == want
    assert t.count_rows() == sum(ROWS - len(p) for p in deleted.values())
