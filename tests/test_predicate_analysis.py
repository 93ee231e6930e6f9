"""One predicate analysis behind the planner's refinement tiers.

The R-tree window and the Bloom probes read their literals from
``table._literal_constraints`` and encode them only when
``plans/pruning._literal_compatible`` accepts them, the rule the stats
rewrite applies. Covered here:

- cross-type literals on a ``date`` column (a tz-aware timestamp, a
  string) give the same count through the indexed table as through a
  plain Spark read, with a Bloom filter and with an R-tree on the column;
- a static check that no function of ``sources/table.py`` splits an AND
  itself and that only the extractor matches ``InList``, so a new tier
  cannot fork the analysis again.
"""

import ast
import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_async_parquet_index_spark.plans.expr import Col, Lit
from datafusion_async_parquet_index_spark.plans.sql_predicate import (
    parse_predicate,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

TABLE_PY = os.path.join(os.path.dirname(__file__), os.pardir,
                        "datafusion_async_parquet_index_spark", "sources",
                        "table.py")

_EST = dt.timezone(dt.timedelta(hours=-5))
_DAYS = [dt.date(2020, 1, 1), dt.date(2020, 1, 2), dt.date(2020, 1, 3)]


@pytest.fixture(scope="module")
def date_dir(tmp_path_factory):
    """3 files of 10 rows; file i holds d = 2020-01-0<i+1>."""
    d = str(tmp_path_factory.mktemp("cross_type_dates"))
    for i, day in enumerate(_DAYS):
        pq.write_table(pa.table({"d": pa.array([day] * 10, pa.date32()),
                                 "k": pa.array(range(10), pa.int64())}),
                       os.path.join(d, f"f{i}.parquet"))
    return d


_CASES = [
    # 2020-01-01 19:00 -05:00 is 2020-01-02 00:00 UTC: d = 2020-01-02
    # matches under Spark's date-to-timestamp cast (session zone UTC)
    ("bloom", lambda: Col("d") == Lit(dt.datetime(2020, 1, 1, 19, 0,
                                                   tzinfo=_EST))),
    ("bloom", lambda: parse_predicate("d = '2020-01-02'")),
    ("bloom", lambda: parse_predicate("d IN ('2020-01-02')")),
    ("rtree", lambda: (Col("d") >= Lit(dt.date(2020, 1, 1)))
     & (Col("d") <= Lit(dt.datetime(2020, 1, 1, 23, 0, tzinfo=_EST)))),
]


@pytest.mark.parametrize("tier,make_pred", _CASES,
                         ids=[f"{t}-{i}" for i, (t, _) in enumerate(_CASES)])
def test_encoded_tiers_match_spark_on_cross_type_literals(
        spark, date_dir, tier, make_pred):
    extra = ({"bloom_columns": ["d"]} if tier == "bloom"
             else {"rtree_columns": ["d"]})
    t = IndexedParquetTable(spark, date_dir, ["d"], **extra)
    if tier == "rtree":
        assert t.catalog._rtree_active == ["d"]
    p = make_pred()
    want = spark.read.parquet(date_dir).filter(p.to_spark()).count()
    assert want > 0
    assert t.query(p).count() == want, t.last_scan.describe()


def _owner(funcs, node):
    """Innermost function definition enclosing ``node``."""
    return min((f for f in funcs if f.lineno <= node.lineno <= f.end_lineno),
               key=lambda f: f.end_lineno - f.lineno).name


def test_tiers_share_one_predicate_analysis():
    """``sources/table.py`` tests no ``.op == "AND"`` (AND-splitting
    comes from ``plans.expr.conjuncts``) and tests ``isinstance(…,
    InList)`` only inside ``_literal_constraints``."""
    with open(TABLE_PY, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), TABLE_PY)
    funcs = [n for n in ast.walk(tree)
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    splitters, inlist = [], []
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare) and any(
                isinstance(x, ast.Constant) and x.value == "AND"
                for x in [node.left, *node.comparators]):
            splitters.append(_owner(funcs, node))
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "isinstance" and len(node.args) == 2
                and "InList" in {n.id for n in ast.walk(node.args[1])
                                 if isinstance(n, ast.Name)}):
            inlist.append(_owner(funcs, node))
    assert splitters == [], splitters
    assert set(inlist) == {"_literal_constraints"}, inlist
