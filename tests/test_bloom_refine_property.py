"""Property-based soundness of Bloom-filter row-group refinement
(table._bloom_refine): for random per-row-group values of an ``int``, a
``date`` and a ``string`` column (value blooms on all three, a token
bloom on the string) and random predicates of every literal shape the
planner's analysis reads — comparisons both ways round, IN / NOT IN
lists (empty, NULL-holding), NOT (col = lit), contains_token, nested
under AND and OR — with cross-type literals (strings, bools, numbers,
dates and datetimes on every column), every row group holding a row the
predicate may satisfy must survive, and refinement never raises.

The blooms are built by the production extractor
(stats.extract_file_blooms) from a real Parquet file and round-trip
through the SQLite catalog. No Spark needed: the row evaluator is SQL
ternary logic over the set of values each comparison may take, so a
cross-type comparison whose Spark cast it does not model counts as
possibly TRUE and can only make the check weaker, never wrong."""

import datetime as dt
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import example, given, settings
from hypothesis import strategies as st

from datafusion_async_parquet_index_spark.plans.expr import (
    BinOp, Col, ContainsToken, InList, Lit, Not,
)
from datafusion_async_parquet_index_spark.sources.catalog import (
    FileStats, RowGroupStats, SqliteIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.stats import (
    TOKEN_BLOOM_SUFFIX, _py_tokens, extract_file_blooms,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

_SCHEMA = {"i": "int", "d": "date", "s": "string"}
_ARROW = {"i": pa.int64(), "d": pa.date32(), "s": pa.string()}


class _Shim:
    def __init__(self, cat):
        self.catalog = cat
        self.bloom_columns = ("i", "d", "s")
        self.token_bloom_columns = ("s",)
        self.index_schema = dict(_SCHEMA)

    _bloom_refine = IndexedParquetTable._bloom_refine


_DAY0 = dt.date(2020, 1, 1)
_ROW = st.fixed_dictionaries({
    "i": st.one_of(st.integers(0, 5), st.none()),
    "d": st.one_of(st.integers(0, 3).map(
        lambda n: _DAY0 + dt.timedelta(days=n)), st.none()),
    "s": st.one_of(st.sampled_from(["a", "b", "a b", "c-d", "B c"]),
                   st.none()),
})

_EST = dt.timezone(dt.timedelta(hours=-5))
_LIT = st.one_of(
    st.integers(0, 6), st.sampled_from([2.0, 2.5, True, False, None]),
    st.sampled_from(["a", "b", "c", "B", "3", "2020-01-02", "junk"]),
    st.integers(0, 4).map(lambda n: _DAY0 + dt.timedelta(days=n)),
    st.tuples(st.integers(0, 3), st.integers(0, 23)).map(
        lambda t: dt.datetime(2020, 1, 1 + t[0], t[1], tzinfo=_EST)),
    st.tuples(st.integers(0, 3), st.integers(0, 23)).map(
        lambda t: dt.datetime(2020, 1, 1 + t[0], t[1],
                              tzinfo=dt.timezone.utc)),
    st.just(dt.datetime(2020, 1, 2)),
)
_COL = st.sampled_from(["i", "d", "s"]).map(Col)
_OPS = st.sampled_from(["=", "!=", "<", "<=", ">", ">="])


def _leaf():
    lits = st.lists(_LIT, max_size=3)
    return st.one_of(
        st.builds(lambda op, c, v: BinOp(op, c, Lit(v)), _OPS, _COL, _LIT),
        st.builds(lambda op, c, v: BinOp(op, Lit(v), c), _OPS, _COL, _LIT),
        st.builds(lambda c, vs: InList(c, [Lit(v) for v in vs]), _COL, lits),
        st.builds(lambda c, vs: Not(InList(c, [Lit(v) for v in vs])),
                  _COL, lits),
        st.builds(lambda c, v: Not(c == Lit(v)), _COL, _LIT),
        st.builds(lambda w: ContainsToken(Col("s"), w),
                  st.sampled_from(["a", "b", "c", "d", "z", "B"])),
    )


_PRED = st.recursive(
    _leaf(),
    lambda inner: st.builds(lambda op, l, r: BinOp(op, l, r),
                            st.sampled_from(["AND", "AND", "OR"]),
                            inner, inner),
    max_leaves=3)

_ANY = frozenset({True, False, None})
_NUM = (int, float)


def _cmp(op, a, b):
    return {"=": a == b, "!=": a != b, "<": a < b, "<=": a <= b,
            ">": a > b, ">=": a >= b}[op]


def _compare(op, v, lit):
    """Possible SQL values of ``v op lit`` for a row value ``v``."""
    if v is None or lit is None:
        return {None}
    if isinstance(lit, bool) or isinstance(v, bool):
        return _ANY
    if isinstance(v, _NUM) and isinstance(lit, _NUM):
        return {_cmp(op, v, lit)}
    if isinstance(v, str) and isinstance(lit, str):
        return {_cmp(op, v, lit)}
    if isinstance(v, dt.date) and type(lit) is dt.date:
        return {_cmp(op, v, lit)}
    if (isinstance(v, dt.date) and isinstance(lit, dt.datetime)
            and lit.tzinfo is not None):
        # Spark casts the date to midnight in the session zone (UTC)
        mid = dt.datetime(v.year, v.month, v.day, tzinfo=dt.timezone.utc)
        return {_cmp(op, mid, lit)}
    return _ANY  # a cast this evaluator does not model: anything goes


def _not(vals):
    return {None if x is None else not x for x in vals}


def _and(a, b):
    return {False if False in (x, y) else (None if None in (x, y) else True)
            for x in a for y in b}


def _or(a, b):
    return {True if True in (x, y) else (None if None in (x, y) else False)
            for x in a for y in b}


def _sat(row, pred):
    """Possible SQL values of ``pred`` on ``row``."""
    if isinstance(pred, BinOp) and pred.op in ("AND", "OR"):
        f = _and if pred.op == "AND" else _or
        return f(_sat(row, pred.left), _sat(row, pred.right))
    if isinstance(pred, BinOp):
        if isinstance(pred.left, Col):
            return _compare(pred.op, row[pred.left.name], pred.right.value)
        flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
        return _compare(flip.get(pred.op, pred.op), row[pred.right.name],
                        pred.left.value)
    if isinstance(pred, InList):
        out = {False}
        for lit in pred.values:
            out = _or(out, _compare("=", row[pred.child.name], lit.value))
        return out
    if isinstance(pred, Not):
        return _not(_sat(row, pred.child))
    if isinstance(pred, ContainsToken):
        v = row[pred.child.name]
        return {None} if v is None else {pred.token in _py_tokens(v)}
    raise AssertionError(pred)


def _catalog(groups, tmp):
    path = os.path.join(tmp, "f.parquet")
    with pq.ParquetWriter(path, pa.schema(list(_ARROW.items()))) as w:
        for g in groups:
            w.write_table(pa.table(
                {c: pa.array([r[c] for r in g], t)
                 for c, t in _ARROW.items()}))
    assert pq.ParquetFile(path).metadata.num_row_groups == len(groups)
    blooms = extract_file_blooms(
        path, {**_SCHEMA, "s" + TOKEN_BLOOM_SUFFIX: "string"})
    cat = SqliteIndexCatalog()
    cat.initialize(dict(_SCHEMA))
    cat.upsert_file(
        FileStats("f.parquet", 1, len(groups), sum(map(len, groups))),
        [RowGroupStats(row_group=i, row_count=len(g))
         for i, g in enumerate(groups)],
        blooms=blooms)
    return cat


_JAN2 = {"i": 1, "d": dt.date(2020, 1, 2), "s": "a b"}


@settings(max_examples=150, deadline=None)
# the cross-type literals the shared literal rule refuses: a tz-aware
# timestamp whose UTC instant falls on the row's day, and date strings
@example(groups=[[_JAN2]], preds=[
    Col("d") == Lit(dt.datetime(2020, 1, 1, 19, 0, tzinfo=_EST)),
    InList(Col("d"), [Lit(dt.datetime(2020, 1, 1, 20, 0, tzinfo=_EST))]),
])
@example(groups=[[_JAN2]], preds=[Col("d") == Lit("2020-01-02")])
@example(groups=[[_JAN2]], preds=[InList(Col("d"), [Lit("2020-01-02")])])
@given(groups=st.lists(st.lists(_ROW, min_size=1, max_size=5),
                       min_size=1, max_size=4),
       preds=st.lists(_PRED, min_size=1, max_size=8))
def test_bloom_refine_never_under_selects(groups, preds):
    with tempfile.TemporaryDirectory() as tmp:
        shim = _Shim(_catalog(groups, tmp))
        for pred in preds:
            survivors = {"f.parquet": list(range(len(groups)))}
            skipped = shim._bloom_refine(pred, survivors)
            kept = set(survivors.get("f.parquet", []))
            assert skipped == len(groups) - len(kept)
            for i, g in enumerate(groups):
                if any(True in _sat(r, pred) for r in g):
                    assert i in kept, (pred.to_sql(), i, g)
