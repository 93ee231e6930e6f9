"""Exact row-group scans: a Spark 4 Python DataSource.

Gives the engine the reference's ``ParquetAccessPlan`` semantics
(``/root/reference/sqlx-sqlite/src/index.rs:163-175``: per file, a
Scan/Skip decision per row group) which Spark's native reader does not
expose: partitions are (file, row-group chunk) and ``read`` uses pyarrow
``ParquetFile.read_row_groups`` to return Arrow batches, so skipped row
groups cost zero I/O beyond the footer.

The reference scans each file as its own partition for parallelism
("default to scanning them all in parallel", main.rs:287-288); here each
partition is a bounded chunk of row groups so a single huge file still
fans out across executors.

Deletion-vector awareness: the optional ``dv`` option carries
{file path: [[start, length], ...]} FILE-scoped deleted row ranges.
``read`` reconstructs each returned row's file-scoped position from the
footer's per-row-group offsets and drops deleted positions with one
vectorized binary search over the sorted ranges (O(rows · log ranges) —
never a per-row Python loop, and never an exploded position set in
task memory), so exact row-group reads serve files under merge-on-read
DML with the same semantics as the native path's anti-join.
"""

from __future__ import annotations

import json
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_CHUNK = 8  # row groups per task; bounds task size for huge files

_REGISTERED = set()


def _dv_keep_mask(row_groups, metadata, ranges):
    """Boolean keep-mask (True = live) over the FULL-LENGTH read of
    ``row_groups``: one vectorized binary search of each row's
    FILE-scoped position against the sorted deleted ranges."""
    import numpy as np

    starts, acc = [], 0
    for i in range(metadata.num_row_groups):
        starts.append(acc)
        acc += metadata.row_group(i).num_rows
    pos = np.concatenate([
        np.arange(starts[rg],
                  starts[rg] + metadata.row_group(rg).num_rows,
                  dtype=np.int64)
        for rg in row_groups])
    rs_ln = sorted((int(s), int(ln)) for s, ln in ranges)
    rs = np.fromiter((s for s, _ in rs_ln), np.int64, len(rs_ln))
    re_ = np.fromiter((s + ln for s, ln in rs_ln), np.int64, len(rs_ln))
    idx = np.searchsorted(rs, pos, side="right") - 1
    return ~((idx >= 0) & (pos < re_[np.clip(idx, 0, None)]))


def _range_keep_mask(row_groups, metadata, ranges_by_rg):
    """Boolean keep-mask over the FULL-LENGTH read of ``row_groups``
    for the page-index tier's {row_group: [[start, end), ...]} keep
    ranges (row-group-scoped). Row groups absent from the map keep
    every row."""
    import numpy as np

    masks = []
    for rg in row_groups:
        n = metadata.row_group(rg).num_rows
        spans = ranges_by_rg.get(rg)
        if not spans:
            masks.append(np.ones(n, dtype=bool))
            continue
        spans = sorted((int(s), int(e)) for s, e in spans)
        pos = np.arange(n, dtype=np.int64)
        ss = np.fromiter((s for s, _ in spans), np.int64, len(spans))
        ee = np.fromiter((e for _, e in spans), np.int64, len(spans))
        idx = np.searchsorted(ss, pos, side="right") - 1
        masks.append((idx >= 0) & (pos < ee[np.clip(idx, 0, None)]))
    return np.concatenate(masks)


def anti_filter_positions(table, row_groups, metadata, ranges):
    """Drop rows whose FILE-scoped position falls in the deleted
    ``ranges`` from an Arrow table read as ``row_groups`` (in that
    order) of the file described by ``metadata``. One vectorized
    binary search over the sorted ranges — O(rows · log ranges),
    never a per-row loop or an exploded position set. Shared by the
    DataSource's executor-side read and the driver-side bounded
    boundary read. ``table`` must be the FULL read of ``row_groups``
    (masks are positional)."""
    import pyarrow as pa

    if not ranges or not table.num_rows:
        return table
    keep = _dv_keep_mask(row_groups, metadata, ranges)
    if not keep.all():
        table = table.filter(pa.array(keep))
    return table


class RowGroupInputPartition(InputPartition):
    def __init__(self, path: str, row_groups: List[int],
                 dv_ranges: Optional[Sequence[Tuple[int, int]]] = None,
                 row_ranges: Optional[Dict[int, list]] = None):
        self.path = path
        self.row_groups = row_groups
        # file-scoped deleted [(start, length)] ranges, or None; the
        # per-row-group overlap is resolved at read time
        self.dv_ranges = dv_ranges
        # page-index KEEP ranges, {row_group: [[start, end), ...]}
        # (row-group-scoped), or None
        self.row_ranges = row_ranges


class RowGroupParquetReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.plan: Dict[str, List[int]] = json.loads(options["access_plan"])
        self.dvs: Dict[str, List[List[int]]] = json.loads(
            options.get("dv", "{}") or "{}")
        # page-index keep ranges: {path: {row_group(str): [[s, e)...]}}
        self.row_ranges: Dict[str, Dict[str, list]] = json.loads(
            options.get("row_ranges", "{}") or "{}")
        self.columns = [f.name for f in schema.fields]

    def partitions(self):
        parts = []
        for path, rgs in sorted(self.plan.items()):
            dv = self.dvs.get(path)
            rr = self.row_ranges.get(path)
            if rr is not None:
                rr = {int(rg): spans for rg, spans in rr.items()}
            for i in range(0, len(rgs), _CHUNK):
                parts.append(RowGroupInputPartition(
                    path, rgs[i:i + _CHUNK], dv_ranges=dv,
                    row_ranges=rr))
        return parts or [RowGroupInputPartition("", [])]

    def read(self, partition: RowGroupInputPartition) -> Iterator:
        if not partition.path:
            return
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        table = pf.read_row_groups(partition.row_groups, columns=self.columns)
        # both masks are positional over the FULL read — combine them
        # first, filter once
        mask = None
        if partition.dv_ranges and table.num_rows:
            mask = _dv_keep_mask(partition.row_groups, pf.metadata,
                                 partition.dv_ranges)
        if partition.row_ranges and table.num_rows:
            m2 = _range_keep_mask(partition.row_groups, pf.metadata,
                                  partition.row_ranges)
            mask = m2 if mask is None else (mask & m2)
        if mask is not None and not mask.all():
            import pyarrow as pa
            table = table.filter(pa.array(mask))
        table = _normalize_arrow_units(table)
        for batch in table.to_batches():
            yield batch


def _normalize_arrow_units(table):
    """Spark's Arrow ingest only accepts MICROSECOND timestamps —
    a parquet file written with ms (parquet-mr TIMESTAMP_MILLIS) or
    ns (pyarrow default in some stacks) units fails the scan with
    UNSUPPORTED_ARROWTYPE. Cast any non-us timestamp column to us so
    row-group scans accept every spec-legal unit. The cast must allow
    truncation (ADVICE r13): pyarrow's default safe cast RAISES on any
    ns value with a nonzero sub-microsecond remainder — exactly the
    files this normalizer exists to admit — so sub-us precision is
    floored away per-column, matching Spark's own parquet reader."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = []
    changed = False
    fields = []
    for f, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            target = pa.timestamp("us", f.type.tz)
            cols.append(pc.cast(col, target, safe=False))
            fields.append(f.with_type(target))
            changed = True
        else:
            cols.append(col)
            fields.append(f)
    if not changed:
        return table
    return pa.table(cols, schema=pa.schema(fields))


class RowGroupParquetDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rowgroup_parquet"

    def schema(self):
        # caller always supplies .schema(...) explicitly; infer as fallback
        import pyarrow.parquet as pq
        plan = json.loads(self.options["access_plan"])
        first = sorted(plan)[0]
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema
        return from_arrow_schema(pq.ParquetFile(first).schema_arrow)

    def reader(self, schema) -> DataSourceReader:
        return RowGroupParquetReader(schema, self.options)


def ensure_registered(spark) -> None:
    key = id(spark)
    if key not in _REGISTERED:
        spark.dataSource.register(RowGroupParquetDataSource)
        _REGISTERED.add(key)
