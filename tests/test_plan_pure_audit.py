"""Runtime enforcement of the ``_PLAN_PURE`` allowlist invariant
(VERDICT r14 ask #4).

``__spark_entry__._PLAN_PURE`` names the queries wrapped in
``operators.util.pure_plan`` — their built DataFrame is memoized per
(session, corpus), so a warm re-entry never re-runs the function body.
That wrapper is only sound if the body is a PURE PLAN BUILDER on warm
re-entry: no Spark action, no DataFrameWriter sink, no driver-side
``createDataFrame`` of computed values, no ``IndexedParquetTable``
mutation.  Round 14 audited this by hand; nothing *enforced* it, so a
future edit adding (say) a ``.head()`` probe to an allowlisted query
would silently stop executing on warm calls — a correctness hazard the
plan memo would mask.

This test re-runs the audit mechanically: every allowlisted query is
built once UNWRAPPED (gates/fixtures/corpus caches populate — actions
are legitimate there), then built a second time with every action,
sink, ``createDataFrame`` and table mutator instrumented.  Any recorded
call on the second (warm) invocation fails the test, naming the query
and the offending calls.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")

# DataFrame methods that trigger job execution (or pull data to the
# driver).  ``explain``/``schema`` stay allowed: plan-only, no jobs.
_DF_ACTIONS = (
    "collect", "count", "head", "take", "first", "tail", "toPandas",
    "toLocalIterator", "foreach", "foreachPartition", "show",
)
# Every DataFrameWriter terminal verb routes through these.
_WRITER_SINKS = ("save", "saveAsTable", "insertInto", "parquet", "csv",
                 "json", "orc", "text", "jdbc")
_TABLE_MUTATORS = ("delete_where", "update_where", "append",
                   "compact_deletes", "merge_upsert", "expire_snapshots",
                   "restore")


class _Recorder:
    """Patch the action/sink/mutator surface; record qualified names."""

    def __init__(self):
        self.calls: list[str] = []
        self._saved: list[tuple] = []

    def _wrap(self, owner, meth: str):
        label = f"{owner.__name__}.{meth}"
        orig = owner.__dict__.get(meth)
        if orig is None:
            # a renamed or moved method would silently drop out of the
            # audit; refuse instead
            raise AttributeError(
                f"{label} is listed for the audit but not defined there")
        rec = self.calls

        def spy(*a, **kw):
            rec.append(label)
            return orig(*a, **kw)

        self._saved.append((owner, meth, orig))
        setattr(owner, meth, spy)

    def __enter__(self):
        from pyspark.sql import DataFrame, SparkSession
        from pyspark.sql.readwriter import DataFrameWriter

        from datafusion_async_parquet_index_spark.sources.table import (
            IndexedParquetTable,
        )

        try:
            for m in _DF_ACTIONS:
                self._wrap(DataFrame, m)
            for m in _WRITER_SINKS:
                self._wrap(DataFrameWriter, m)
            self._wrap(SparkSession, "createDataFrame")
            for m in _TABLE_MUTATORS:
                self._wrap(IndexedParquetTable, m)
        except BaseException:
            self.__exit__()
            raise
        return self

    def __exit__(self, *exc):
        for owner, meth, orig in self._saved:
            setattr(owner, meth, orig)
        self._saved.clear()
        return False


def test_plan_pure_allowlist_is_pure_on_warm_reentry(spark):
    import __spark_entry__ as entry

    from datafusion_async_parquet_index_spark.operators import (
        PIPELINE_QUERIES,
    )
    from datafusion_async_parquet_index_spark.queries import (
        RELATIONAL_QUERIES,
    )

    raw = {**RELATIONAL_QUERIES, **PIPELINE_QUERIES}
    missing = sorted(entry._PLAN_PURE - raw.keys())
    assert not missing, f"_PLAN_PURE names unknown queries: {missing}"

    names = sorted(entry._PLAN_PURE)
    # pass 1 (unwrapped): gates, fixtures and corpus caches build —
    # actions are expected and legitimate here
    for name in names:
        raw[name](spark, TESTDATA)

    offenders: dict[str, list[str]] = {}
    for name in names:
        with _Recorder() as r:
            df = raw[name](spark, TESTDATA)
        assert df is not None, name
        if r.calls:
            offenders[name] = r.calls
    assert not offenders, (
        "queries in _PLAN_PURE performed actions/sinks/mutations on a "
        f"warm re-entry (remove them from the allowlist or fix them): "
        f"{offenders}")


def test_recorder_refuses_missing_method():
    """A listed method that does not exist fails the audit by name
    instead of silently dropping out of it."""

    class Owner:
        def present(self):
            pass

    rec = _Recorder()
    rec._wrap(Owner, "present")
    with pytest.raises(AttributeError, match=r"Owner\.absent"):
        rec._wrap(Owner, "absent")
    rec.__exit__()
    assert Owner.__dict__["present"].__name__ == "present"
