"""One "did this file's bytes change" rule (``catalog._bytes_changed``).

The size → footer_md5 → mtime_ns precedence decides deletion-vector
retention in both catalog backends' ``upsert_file``, snapshot
reconstruction checks, and ``restore``'s disk check. Covered here: the
full truth table over size, md5 and mtime, legacy ``None`` sides
included; the lazy current-md5 form ``restore`` uses; and both
backends keeping or dropping a deletion vector exactly as the rule
says.
"""

import itertools

import pytest

from datafusion_async_parquet_index_spark.sources.catalog import (
    FileStats, RowGroupStats, SqliteIndexCatalog, _bytes_changed,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

S, M1, M2, A, B = 10, 111, 222, "aa", "bb"


def _spec(recorded, current):
    """The precedence written as a decision table, independently of
    the implementation."""
    if recorded is None or current is None:
        return True                      # no prior row / vanished
    (rs, rm, rh), (cs, cm, ch) = recorded, current
    if rs != cs:
        return True                      # 1. size differs
    if rh is not None and ch is not None:
        return rh != ch                  # 2. content decides
    if rm is not None and cm is not None:
        return rm != cm                  # 3. mtime decides
    return False                         # size-only (legacy)


IDENTITIES = list(itertools.product((S, S + 1), (None, M1, M2),
                                    (None, A, B)))


@pytest.mark.parametrize("recorded", [None] + IDENTITIES)
def test_truth_table(recorded):
    for current in [None] + IDENTITIES:
        assert _bytes_changed(recorded, current) == _spec(
            recorded, current), (recorded, current)


def test_named_rows():
    ch = _bytes_changed
    assert ch(None, (S, M1, A)) is True             # first index
    assert ch((S, M1, A), None) is True             # vanished
    assert ch((S, M1, A), (S + 1, M1, A)) is True   # size differs
    assert ch((S, M1, A), (S, M2, A)) is False      # identical replace
    assert ch((S, M1, A), (S, M1, B)) is True       # same-size rewrite
    assert ch((S, M1, None), (S, M2, A)) is True    # legacy: mtime
    assert ch((S, M1, None), (S, M1, None)) is False
    assert ch((S, None, None), (S, M2, B)) is False  # legacy: size-only
    assert ch((S, M1, A), (S, None, None)) is False


def test_lazy_md5_is_read_only_when_it_decides():
    reads = []

    def md5(value):
        def read():
            reads.append(value)
            return value
        return read

    assert _bytes_changed((S, M1, A), (S + 1, M2, md5(A))) is True
    assert _bytes_changed((S, M1, None), (S, M2, md5(A))) is True
    assert reads == []                   # size or a legacy row decided
    assert _bytes_changed((S, M1, A), (S, M2, md5(A))) is False
    assert _bytes_changed((S, M1, A), (S, M1, md5(B))) is True
    assert reads == [A, B]


def test_snapshot_checks_use_the_catalog_rule():
    assert IndexedParquetTable._identity_changed is _bytes_changed


def _catalogs(spark):
    from datafusion_async_parquet_index_spark.sources.df_catalog import (
        DataFrameIndexCatalog,
    )
    return {"sqlite": SqliteIndexCatalog(),
            "df": DataFrameIndexCatalog(spark)}


@pytest.mark.parametrize("backend", ["sqlite", "df"])
@pytest.mark.parametrize("first,second", [
    ((S, M1, A), (S, M2, A)),            # identical-content replace
    ((S, M1, A), (S, M1, B)),            # same-size rewrite
    ((S, M1, A), (S + 1, M1, A)),        # size differs
    ((S, M1, None), (S, M2, None)),      # legacy: mtime decides
    ((S, None, None), (S, M2, B)),       # legacy: size-only
])
def test_backends_keep_or_drop_dvs_by_the_rule(spark, backend, first,
                                               second):
    cat = _catalogs(spark)[backend]
    cat.initialize({"v": "int"})
    rgs = [RowGroupStats(0, 10, {"v": (0, 0, 9)})]

    def upsert(ident):
        size, mtime_ns, md5 = ident
        cat.upsert_file(FileStats("a.parquet", size, 1, 10,
                                  mtime_ns=mtime_ns, footer_md5=md5), rgs)

    upsert(first)
    cat.upsert_dv("a.parquet", {0: [1, 2]})
    assert "a.parquet" in cat.get_dv_ranges()
    upsert(second)
    kept = "a.parquet" in cat.get_dv_ranges()
    assert kept == (not _bytes_changed(first, second)), (first, second)
