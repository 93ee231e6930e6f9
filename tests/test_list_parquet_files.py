"""list_parquet_files lists exactly what a ``Path.glob`` walk with the
hidden/metadata filter and a regular-file check lists, on a tree with
every shape a lakehouse directory holds: hidden and underscore
directories, ``_SUCCESS`` and ``.crc`` markers, nested ``k=v``
partitions, non-Parquet files, a directory named ``*.parquet`` and a
symlinked directory."""

import os
from pathlib import Path

import pytest

from datafusion_async_parquet_index_spark.sources.stats import (
    list_parquet_files,
)


def _glob_listing(data_dir, recursive=False):
    """The listing rule spelled with pathlib: glob, then drop any path
    with a hidden or underscore segment below data_dir, and any that is
    not a regular file."""
    pat = "**/*.parquet" if recursive else "*.parquet"
    out = []
    for p in Path(data_dir).glob(pat):
        rel = p.relative_to(data_dir)
        if (any(seg.startswith((".", "_")) for seg in rel.parts)
                or not p.is_file()):
            continue
        out.append(str(p))
    return sorted(out)


_TREE = [
    "a.parquet", "b.parquet", "notes.txt", "a.parquet.bak", "UPPER.PARQUET",
    "_SUCCESS", ".a.parquet.crc", "_tmp.parquet", ".hidden.parquet",
    ".staging/z.parquet", "_delta_log/0.parquet",
    "k=1/x.parquet", "k=1/_SUCCESS", "k=1/.x.parquet.crc",
    "k=1/j=2/y.parquet", "k=1/j=2/readme.md",
    "k=2/_temporary/0/part-0.parquet", "k=2/j=%20a/w.parquet",
    "dir.parquet/part-0.parquet",
]


@pytest.fixture
def tree(tmp_path):
    for rel in _TREE:
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"")
    os.symlink(tmp_path / "k=1", tmp_path / "linked")
    os.symlink(tmp_path / "k=1", tmp_path / "linked.parquet")
    os.symlink(tmp_path / "a.parquet", tmp_path / "alias.parquet")
    return tmp_path


@pytest.mark.parametrize("recursive", [False, True])
def test_listing_matches_glob_walk(tree, recursive, monkeypatch):
    monkeypatch.chdir(tree.parent)
    for data_dir in (str(tree), f"{tree}/", f"{tree}//", tree.name,
                     f"./{tree.name}", f"{tree}/k=1/.."):
        assert list_parquet_files(data_dir, recursive) == \
            _glob_listing(data_dir, recursive), data_dir
    monkeypatch.chdir(tree)
    assert list_parquet_files(".", recursive) == \
        _glob_listing(".", recursive)


def test_listing_contents(tree):
    flat = [os.path.relpath(p, tree) for p in list_parquet_files(str(tree))]
    # directories named *.parquet, symlinked or not, are not files
    assert flat == ["a.parquet", "alias.parquet", "b.parquet"]
    deep = [os.path.relpath(p, tree)
            for p in list_parquet_files(str(tree), recursive=True)]
    # partitions and a *.parquet directory are walked; hidden,
    # underscore and symlinked directories are not
    assert deep == flat + ["dir.parquet/part-0.parquet",
                           "k=1/j=2/y.parquet", "k=1/x.parquet",
                           "k=2/j=%20a/w.parquet"]


def test_listed_files_open_as_parquet(tmp_path):
    """A Spark-style ``x.parquet`` output directory beside a file: the
    flat listing holds only the file, the recursive one the part file
    too, and pyarrow opens every listed path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"v": [1]}), tmp_path / "a.parquet")
    (tmp_path / "x.parquet").mkdir()
    pq.write_table(pa.table({"v": [2]}),
                   tmp_path / "x.parquet" / "part-0.parquet")
    flat = list_parquet_files(str(tmp_path))
    deep = list_parquet_files(str(tmp_path), recursive=True)
    assert [os.path.relpath(p, tmp_path) for p in flat] == ["a.parquet"]
    assert [os.path.relpath(p, tmp_path) for p in deep] == [
        "a.parquet", "x.parquet/part-0.parquet"]
    assert [pq.ParquetFile(p).metadata.num_rows for p in deep] == [1, 1]


def test_missing_directory_lists_nothing(tmp_path):
    assert list_parquet_files(str(tmp_path / "absent")) == []
    assert list_parquet_files(str(tmp_path / "absent"), recursive=True) == []
