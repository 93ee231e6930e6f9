"""One session artifact store (``operators.util.memoized``).

Every session-scoped artifact — built plans, fixture tables, DML gates,
corpus caches — is stored and read back through ``memoized``, keyed by
values, released with its session, and dropped by ``clear_caches()``.
Persisted layouts live under one root, ``tempfile.gettempdir()``.

Covered here: the get-or-build contract; the per-session release of
memos and tracked caches; ``artifact_dir`` under the temp root; and
static checks over the package that no other module hand-rolls a memo
(``session_memo(`` outside ``operators/util.py``), keys a memo by an
object id, or reads an environment variable other than the two
session settings.
"""

import ast
import os
import tempfile

import pytest

from datafusion_async_parquet_index_spark.operators import util

PKG = os.path.join(os.path.dirname(__file__), os.pardir,
                   "datafusion_async_parquet_index_spark")


class _FakeSession:
    """A stand-in session whose context reads as stopped."""


def _package_trees():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path, encoding="utf-8") as fh:
                    yield rel, ast.parse(fh.read(), path)


def _call_name(node):
    f = node.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def test_memoized_builds_once_and_stores_nothing_on_failure(spark):
    calls = []

    def build():
        calls.append(1)
        return {"built": len(calls)}

    first = util.memoized(spark, "test_artifact_store", ("k", 1), build)
    again = util.memoized(spark, "test_artifact_store", ("k", 1), build)
    assert first is again and calls == [1]
    # a falsy value is a stored value, not a miss
    assert util.memoized(spark, "test_artifact_store", "none",
                         lambda: None) is None
    assert util.memoized(spark, "test_artifact_store", "none",
                         lambda: 1 / 0) is None

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        util.memoized(spark, "test_artifact_store", "boom", boom)
    assert "boom" not in util.session_memo(spark, "test_artifact_store")
    assert util.memoized(spark, "test_artifact_store", "boom",
                         lambda: 7) == 7


def test_clear_caches_drops_memos_and_unpersists_tracked(spark):
    df = util.track_cache(spark.range(3))
    util.memoized(spark, "test_artifact_store", "df", lambda: df)
    assert df.is_cached
    util.clear_caches()
    assert not df.is_cached
    assert "df" not in util.session_memo(spark, "test_artifact_store")


def test_stopped_session_releases_memos_and_caches(spark):
    """A session that reads as stopped loses its whole store — memos
    and tracked caches alike — on the next access by another session,
    without a clear_caches() call."""
    fake = _FakeSession()

    class _FakeFrame:
        sparkSession = fake

        def cache(self):
            return self

    util.memoized(fake, "test_artifact_store", "k", lambda: object())
    util.track_cache(_FakeFrame())
    assert fake in util._SESSION_STORES
    memos, caches = util._SESSION_STORES[fake]
    assert memos and caches
    util.session_memo(spark, "test_artifact_store")
    assert fake not in util._SESSION_STORES


def test_artifact_dir_lives_under_the_temp_root(monkeypatch, tmp_path):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"x")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "root"))
    d = util.artifact_dir("spark_graft_test", str(src), "p=1")
    assert os.path.dirname(os.path.dirname(d)) == str(tmp_path / "root")
    assert os.path.basename(os.path.dirname(d)).startswith(
        "spark_graft_test_")
    # the fingerprint follows the parameters
    assert util.artifact_dir("spark_graft_test", str(src), "p=2") != d
    assert util.artifact_dir("spark_graft_test", str(src), "p=1") == d


def test_only_util_touches_the_session_memo():
    """``session_memo(`` is called only inside ``operators/util.py``:
    every other module goes through ``memoized``."""
    owners = sorted({rel for rel, tree in _package_trees()
                     for node in ast.walk(tree)
                     if isinstance(node, ast.Call)
                     and _call_name(node) == "session_memo"})
    assert owners == ["operators/util.py"], owners


def test_no_memo_is_keyed_by_object_id():
    """No function that stores or reads a session artifact calls
    ``id(...)``: memo keys are values (corpus key plus parameters),
    never object identities a later object can reuse."""
    offenders = []
    for rel, tree in _package_trees():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
            if not any(_call_name(c) in ("memoized", "session_memo")
                       for c in calls):
                continue
            if any(isinstance(c.func, ast.Name) and c.func.id == "id"
                   for c in calls):
                offenders.append(f"{rel}:{fn.name}")
    assert not offenders, offenders


def test_package_reads_only_the_session_env_settings():
    """Persisted artifacts all live under ``tempfile.gettempdir()``
    (``TMPDIR`` moves them); the package reads no environment variable
    but the two session settings."""
    reads = set()
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "environ":
                reads.add((rel, "os.environ"))
            if isinstance(node, ast.Call) and _call_name(node) == "getenv":
                reads.add((rel, "os.getenv"))
    envs = set()
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "get"
                    and ast.unparse(node.func.value) == "os.environ"):
                arg = node.args[0]
                envs.add((rel, arg.value if isinstance(arg, ast.Constant)
                          else ast.unparse(arg)))
    assert reads == {("session.py", "os.environ")}, reads
    assert envs == {("session.py", "SPARK_GRAFT_CPUS"),
                    ("session.py", "SPARK_DRIVER_MEM")}, envs
