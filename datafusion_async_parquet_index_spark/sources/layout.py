"""Data-layout helpers: make the external index EFFECTIVE, not just
correct.

Min/max pruning works exactly as well as the data layout lets it: if a
column's values are scattered randomly across files, every row group's
[min,max] spans the whole domain and nothing can be refuted. Range-
partitioning + sorting on the indexed column before write gives files
and row groups disjoint value ranges, so a point or range predicate
prunes all but a handful — the difference between "index exists" and
"index eliminates 99% of I/O" at 100 TB. (The reference's demo corpus
is built the same way: files with disjoint value ranges,
main.rs:93-100.)
"""

from __future__ import annotations

import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame


def write_one_file(df: DataFrame, path: str,
                   block_bytes: Optional[int] = None) -> None:
    """Write ``df`` as EXACTLY ONE parquet file at ``path``: Spark
    writes a single coalesced part file into ``_stage_<name>`` beside
    ``path`` (underscore-prefixed, so listings skip it), one
    ``os.replace`` moves the part file to ``path``, and the staging
    directory is removed whether or not the write succeeded. The
    package's one single-file writer: fixtures, replay feeds and
    compaction's bin rewrites all land files through it.
    ``block_bytes`` sets ``parquet.block.size`` (small => several row
    groups per file); None keeps the writer's default."""
    stage = os.path.join(os.path.dirname(path),
                         "_stage_" + os.path.basename(path))
    writer = df.coalesce(1).write.mode("overwrite")
    if block_bytes is not None:
        writer = writer.option("parquet.block.size", str(block_bytes))
    try:
        writer.parquet(stage)
        part = next(f for f in sorted(os.listdir(stage))
                    if f.endswith(".parquet"))
        os.replace(os.path.join(stage, part), path)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def compact_to(
    table,
    dest_path: str,
    sort_cols: Sequence[str],
    target_file_bytes: int = 512 << 20,
    row_group_bytes: int = 8 << 20,
):
    """Compact an indexed table's directory into a fresh range-sorted
    layout at dest_path and return a new IndexedParquetTable over it
    (same index columns, fresh index). Functional, not in-place: the
    source directory is untouched, so readers never see a half-compacted
    table — swap directories (or table pointers) atomically outside.
    Small-file proliferation is the other big pruning killer at 100 TB:
    footer/task overhead grows with file count while row groups stay
    tiny."""
    total_bytes = sum(f[1] for f in table.catalog.all_files())
    num_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
    write_range_sorted(table.to_df(), dest_path, sort_cols,
                       num_files=num_files, row_group_bytes=row_group_bytes)
    from .table import IndexedParquetTable
    return IndexedParquetTable(
        table.spark, dest_path, list(table.index_schema))


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    num_files: int = 8,
    row_group_bytes: int = 1 << 20,
    bits_per_col: int = 8,
) -> None:
    """Write Parquet laid out along a Z-order (Morton) curve over
    2..4 columns, so min/max pruning works for predicates on ANY of the
    columns — range-sorting on one column gives perfect pruning on it
    and none on the others; Z-ordering gives good (not perfect) pruning
    on each.

    Spark-first implementation, no UDFs:
      1. per column, compute 2^bits_per_col - 1 exact quantile
         boundaries (driver-side array of <=255 doubles);
      2. map each value to its bucket rank with a broadcast-literal
         boundary array folded via ``F.aggregate`` (JVM codegen,
         O(2^bits) comparisons per row);
      3. bit-interleave the ranks into one integer z-value with
         shift/or expressions;
      4. cut z at its exact quantiles into num_files ranges, route range
         i to shuffle partition i, sort each by z, drop the helper
         columns, write with forced row-group size.

    The layout depends only on the input rows: exact quantiles are a
    fold of value counts (approxQuantile merges per-partition sketches
    in task order), and step 4 replaces ``repartitionByRange``, whose
    boundaries come from a sample seeded by the RDD id and so differ
    from build to build. The price is one aggregation buffer of
    O(distinct values) per column and over z.

    Quantile (not min/max) normalization makes the curve robust to
    skew: each bucket holds ~equal row counts, so every z-cell maps to
    ~equal data volume.  NULLs rank below bucket 0.  Columns must be
    numeric / date / timestamp (castable to double for quantiles)."""
    from pyspark.sql import functions as F

    cols = list(zorder_cols)
    if not 2 <= len(cols) <= 4:
        raise ValueError("z-order needs 2..4 columns, got %r" % (cols,))
    nbuckets = 1 << bits_per_col

    def quantiles(frame, names, n):
        # the i/n quantiles (0 < i < n) of each column, one pass
        if n < 2:
            return [[] for _ in names]
        probs = [i / n for i in range(1, n)]
        row = frame.select(*[F.percentile(c, probs) for c in names]).first()
        return [v or [] for v in row]

    def rank(name, bounds):
        # how many bounds lie below the value; NULL ranks 0
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        return F.coalesce(F.aggregate(
            arr, F.lit(0),
            lambda acc, b: acc + F.when(F.col(name) > b, 1).otherwise(0)),
            F.lit(0))

    casted = df.select(
        "*", *[F.col(c).cast("double").alias(f"__zc_{c}") for c in cols])
    z = None
    for ci, (c, bs) in enumerate(zip(
            cols, quantiles(casted, [f"__zc_{c}" for c in cols], nbuckets))):
        r = rank(f"__zc_{c}", bs)
        # interleave: bit j of column ci lands at position j*ncols + ci
        for j in range(bits_per_col):
            bit = F.shiftright(r, j).bitwiseAND(F.lit(1))
            placed = F.shiftleft(bit, j * len(cols) + ci)
            z = placed if z is None else z.bitwiseOR(placed)
    zed = casted.withColumn("__zval", z).drop(*[f"__zc_{c}" for c in cols])
    _write_ranked(zed, rank("__zval", quantiles(zed, ["__zval"],
                                                num_files)[0]),
                  path, ["__zval", *cols], num_files, row_group_bytes,
                  drop=["__zval"])


def _write_ranked(df: DataFrame, rank, path: str, sort_cols: Sequence[str],
                  num_files: int, row_group_bytes: int,
                  drop: Sequence[str] = ()) -> None:
    """Write ``df`` with the rows of ``rank`` i (0 <= i < num_files) in
    shuffle partition i, so file i holds range i, each sorted on
    sort_cols. The route is one bigint key per shuffle partition, read
    off the hash partitioner itself: repartition(num_files, key) sends
    every row carrying keys[i] to partition i."""
    from pyspark.sql import functions as F

    probe = (df.sparkSession.range(64 * num_files)
             .repartition(num_files, "id")
             .select("id", F.spark_partition_id().alias("p")).collect())
    first = {}
    for r in probe:
        first.setdefault(r["p"], r["id"])
    keys = F.array(*[F.lit(first[i]).cast("bigint")
                     for i in range(num_files)])
    (df.withColumn("__rkey", F.element_at(keys, rank + 1))
     .repartition(num_files, "__rkey")
     .sortWithinPartitions(*sort_cols)
     .drop(*drop, "__rkey")
     .write.mode("overwrite")
     .option("parquet.block.size", str(row_group_bytes))
     .parquet(path))


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int = 8,
    row_group_bytes: int = 1 << 20,
) -> None:
    """Write Parquet range-partitioned AND sorted on sort_cols: each
    output file holds a disjoint slice of the sort-key domain and
    sortWithinPartitions orders rows inside, so every row group's
    [min,max] is tight and disjoint. row_group_bytes maps to
    parquet.block.size (small values => more row groups => finer
    pruning granularity, at footer-metadata cost).

    The slices are cut at the key's exact quantiles: the keys at
    positions i * rows / num_files of the sorted key order (ties hold
    equal keys, so those positions name the same keys on every build).
    A row goes to slice i when i of the cut keys are <= its key, in the
    sort's own order (lexicographic over sort_cols, NULLs first). So
    the layout depends only on the input rows; ``repartitionByRange``
    would cut at bounds sampled with a seed taken from the RDD id,
    which differ from build to build."""
    from pyspark.sql import functions as F

    cols = list(sort_cols)
    ordered = df.select(*cols).orderBy(*cols)
    n = ordered.count()
    at = {i * n // num_files for i in range(1, num_files)}
    cuts = (ordered.rdd.zipWithIndex().filter(lambda kv: kv[1] in at)
            .keys().collect())
    if not cuts:
        rank = F.lit(0)
    else:
        types = {f.name: f.dataType for f in df.schema.fields}
        key = F.struct(*[F.col(c) for c in cols])
        rank = F.aggregate(
            F.array(*[F.struct(*[F.lit(v).cast(types[c]).alias(c)
                                 for c, v in zip(cols, cut)])
                      for cut in cuts]),
            F.lit(0),
            lambda acc, cut: acc + F.when(key >= cut, 1).otherwise(0))
    _write_ranked(df, rank, path, cols, num_files, row_group_bytes)
