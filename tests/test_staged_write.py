"""One staged-write path for every persisted artifact.

``sources/layout.write_one_file`` is the one way Spark output becomes
exactly one parquet file, and ``operators/util.ensure_complete`` is the
one way a persisted artifact directory becomes visible: the writer fills
a private staging directory beside it and one ``os.rename`` publishes
it, so the directory exists only when complete.

Covered here, without Spark: two processes building one artifact at
once leave exactly one writer's files and no staging directory; a
failing writer publishes nothing and leaves nothing; an existing
directory is reused as is; ``write_one_file`` removes its staging
directory when the write fails; and a static check that no function of
the package other than ``write_one_file`` both calls ``.coalesce(1)``
and moves a part file with ``os.replace``.
"""

import ast
import os
import subprocess
import sys
import textwrap

import pytest

from datafusion_async_parquet_index_spark.operators.util import (
    ensure_complete,
)
from datafusion_async_parquet_index_spark.sources.layout import (
    write_one_file,
)

REPO = os.path.join(os.path.dirname(__file__), os.pardir)
PKG = os.path.join(REPO, "datafusion_async_parquet_index_spark")

# Each process writes its first file, waits until every process has
# written one (a file barrier), then writes its second file: both are
# inside their writers at once, the window an unstaged publish loses.
_PROCESS_SCRIPT = textwrap.dedent("""
    import os, sys, time
    from datafusion_async_parquet_index_spark.operators.util import (
        ensure_complete)

    d, sync, me, n = sys.argv[1:]

    def writer(stage):
        os.makedirs(stage, exist_ok=True)  # as an in-place writer would
        with open(os.path.join(stage, me + "_0"), "w") as f:
            f.write(me)
        open(os.path.join(sync, me), "w").close()
        deadline = time.monotonic() + 60
        while len(os.listdir(sync)) < int(n):
            if time.monotonic() > deadline:
                sys.exit("barrier timeout")
            time.sleep(0.01)
        with open(os.path.join(stage, me + "_1"), "w") as f:
            f.write(me)

    print(",".join(sorted(os.listdir(ensure_complete(d, writer)))))
""")


def test_concurrent_processes_publish_one_complete_directory(tmp_path):
    d = str(tmp_path / "store" / "fp")
    sync = tmp_path / "sync"
    sync.mkdir()
    env = dict(os.environ, PYTHONPATH=os.path.abspath(REPO))
    procs = [subprocess.Popen(
        [sys.executable, "-c", _PROCESS_SCRIPT, d, str(sync), me, "2"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env)
        for me in ("a", "b")]
    outs = []
    try:
        for p in procs:
            out, err = p.communicate(timeout=120)
            assert p.returncode == 0, err
            outs.append(out.strip())
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    files = sorted(os.listdir(d))
    assert files in (["a_0", "a_1"], ["b_0", "b_1"]), files
    # the loser returned the winner's directory
    assert outs == [",".join(files)] * 2
    assert os.listdir(tmp_path / "store") == ["fp"]  # no stage left


def test_failed_writer_publishes_nothing(tmp_path):
    d = str(tmp_path / "store" / "fp")

    def writer(stage):
        open(os.path.join(stage, "half"), "w").close()
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError):
        ensure_complete(d, writer)
    assert os.listdir(tmp_path / "store") == []


def test_existing_directory_is_reused(tmp_path):
    d = tmp_path / "fp"
    d.mkdir()

    def writer(stage):
        raise AssertionError("a published directory is never rebuilt")

    assert ensure_complete(str(d), writer) == str(d)


class _FailingFrame:
    """Stands in for a DataFrame whose write job fails after it has
    created its output directory and one part file."""

    def coalesce(self, n):
        return self

    @property
    def write(self):
        return self

    def mode(self, mode):
        return self

    def option(self, key, value):
        return self

    def parquet(self, path):
        os.makedirs(path)
        open(os.path.join(path, "part-00000.parquet"), "w").close()
        raise RuntimeError("write job failed")


def test_write_one_file_removes_its_stage_on_failure(tmp_path):
    with pytest.raises(RuntimeError):
        write_one_file(_FailingFrame(), str(tmp_path / "f.parquet"),
                       block_bytes=1 << 16)
    assert os.listdir(tmp_path) == []


def _package_trees():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path, encoding="utf-8") as fh:
                    yield rel, ast.parse(fh.read(), path)


def _coalesces_to_one(node):
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "coalesce"
            and [ast.unparse(a) for a in node.args] == ["1"])


def _os_replace(node):
    return (isinstance(node, ast.Call)
            and ast.unparse(node.func) == "os.replace")


def test_only_write_one_file_moves_a_coalesced_part_file():
    """No function of the package but ``write_one_file`` both writes
    through ``.coalesce(1)`` and moves a part file with ``os.replace``:
    every single-file write goes through the one helper."""
    writers = set()
    for rel, tree in _package_trees():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nodes = list(ast.walk(fn))
            if (any(_coalesces_to_one(n) for n in nodes)
                    and any(_os_replace(n) for n in nodes)):
                writers.add(f"{rel}:{fn.name}")
    assert writers == {"sources/layout.py:write_one_file"}, sorted(writers)
