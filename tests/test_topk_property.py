"""Property test: heavy-hitter bounds from per-row-group top-k
summaries ALWAYS contain the true count, for arbitrary multisets and
arbitrary row-group splits — the soundness invariant of the q86/q87
fold, checked without Spark (the summaries and the fold are pure
functions of the data; the catalog round-trip is exercised through
SqliteIndexCatalog so JSON encode/decode is inside the property)."""

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_async_parquet_index_spark.sources.catalog import (
    FileStats, RowGroupStats, SqliteIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)


def _summarize(values, k):
    """The extract_file_topk per-row-group formula on a plain list."""
    cnt = Counter(values)
    pairs = sorted(cnt.items(), key=lambda e: (-e[1], e[0]))
    stored = pairs[:k]
    total = sum(cnt.values())
    rest = total - sum(c for _, c in stored)
    kth = stored[k - 1][1] if len(stored) == k else 0
    return stored, rest, kth


class _Shim:
    """Just enough of IndexedParquetTable for the catalog-only fold."""

    def __init__(self, cat):
        self.catalog = cat

    heavy_hitters = IndexedParquetTable.heavy_hitters
    _row_groups = IndexedParquetTable._row_groups
    _dvs = IndexedParquetTable._dvs
    _dv_guard = IndexedParquetTable._dv_guard


@settings(max_examples=200, deadline=None)
@given(
    data=st.lists(
        st.lists(st.integers(min_value=0, max_value=12),
                 min_size=0, max_size=40),
        min_size=1, max_size=5),
    k=st.integers(min_value=1, max_value=6),
    n=st.integers(min_value=1, max_value=8),
)
def test_bounds_always_contain_truth(data, k, n):
    cat = SqliteIndexCatalog()
    cat.initialize({"v": "int"})
    fs = FileStats("f.parquet", 1, len(data), sum(len(g) for g in data))
    rgs = [RowGroupStats(row_group=i, row_count=len(g))
           for i, g in enumerate(data)]
    topks = {i: {"v": _summarize(g, k)} for i, g in enumerate(data)}
    cat.upsert_file(fs, rgs, topks=topks)
    hh = _Shim(cat).heavy_hitters("v", n)
    truth = Counter(v for g in data for v in g)
    if not truth:
        # all row groups empty: every summary is an empty store, the
        # fold has no candidates — falls out as an empty list
        assert hh == [] or hh is None
        return
    assert hh is not None
    seen = set()
    for v, lo, hi in hh:
        assert lo <= truth[v] <= hi, (v, lo, truth[v], hi, data, k)
        assert v not in seen
        seen.add(v)
    # the fold's candidate ranking is by lower bound, descending
    lows = [lo for _, lo, _ in hh]
    assert lows == sorted(lows, reverse=True)
    # a value stored in EVERY row group has an exact interval
    for v, lo, hi in hh:
        if all(any(sv == v for sv, _ in topks[i]["v"][0])
               for i in range(len(data))):
            assert lo == truth[v] == hi


class _DictShim:
    def __init__(self, cat):
        self.catalog = cat

    group_counts = IndexedParquetTable.group_counts
    distinct_values = IndexedParquetTable.distinct_values
    _row_groups = IndexedParquetTable._row_groups
    _dvs = IndexedParquetTable._dvs
    _dv_guard = IndexedParquetTable._dv_guard


@settings(max_examples=200, deadline=None)
@given(
    data=st.lists(
        st.lists(st.integers(min_value=0, max_value=9),
                 min_size=0, max_size=30),
        min_size=1, max_size=5),
    cap=st.integers(min_value=1, max_value=10),
)
def test_dict_fold_exact_or_refuses(data, cap):
    """group_counts returns the EXACT whole-table counts when every row
    group's cardinality fits the cap, and None (refusal) when any row
    group blew it — never a wrong number."""
    cat = SqliteIndexCatalog()
    cat.initialize({"v": "int"})
    fs = FileStats("f.parquet", 1, len(data), sum(len(g) for g in data))
    rgs = [RowGroupStats(row_group=i, row_count=len(g))
           for i, g in enumerate(data)]
    dicts = {}
    any_over = False
    for i, g in enumerate(data):
        cnt = Counter(g)
        if len(cnt) > cap:
            any_over = True
            dicts[i] = {}
        else:
            dicts[i] = {"v": sorted(cnt.items())}
    cat.upsert_file(fs, rgs, dicts=dicts)
    shim = _DictShim(cat)
    got = shim.group_counts("v")
    if any_over:
        assert got is None
        assert shim.distinct_values("v") is None
    else:
        truth = Counter(v for g in data for v in g)
        assert got == dict(truth)
        assert shim.distinct_values("v") == sorted(truth)
