"""DataFrame-backed statistics catalog: the lakehouse-table variant.

The reference stores its index in a relational catalog reached over SQL
(SQLite stand-in for "any database SQLx supports, including a remote
Postgres", ``/root/reference/sqlx-sqlite/src/main.rs:89-90``).  On Spark
the idiomatic equivalent of "remote relational catalog" is a *stats
table in the lakehouse itself*: a small Parquet/Delta table of one row
per (file, row group) with typed ``{col}_min/{col}_max/{col}_null_count``
columns.  The pruning predicate (the same stats-space ``Expr`` the
SQLite backend renders to SQL — ``plans/pruning.py``) is evaluated as a
pyspark ``Column`` via ``Expr.to_spark()``; SQL ternary-logic semantics
are identical in both engines, so the two backends return identical
pruning decisions (tested in ``tests/test_catalog_backends.py``).

Scale posture: the stats table is O(row-groups), ~5-6 orders of
magnitude smaller than the data (one row per ~50-1000 MB of data at
production row-group sizes); filtering it is a tiny Spark job (or a
driver-local filter at test sizes), and it can live alongside the data
with no extra infrastructure — the 100 TB story the reference gestures
at with "remote Postgres".

The sidecar statistics (blooms, sums, hists, ndv, dicts, topk, page
stats) are described once in ``sources/sidecars.py``; this backend keeps
their stored rows in one driver-side store and serves the same getters
as the SQL backends.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..plans.expr import Expr
from ..session import local_frame
from .catalog import (
    FileStats, RowGroupStats, _bytes_changed, _merge_dv_ranges,
)
from .sidecars import STATISTICS, SidecarReads

# type-category -> Spark type for {col}_min / {col}_max (unsigned ints
# already widened by the "int" category; reference index.rs:396-415)
_SPARK_TYPE = {
    "int": T.LongType(),
    "float": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "decimal": T.DoubleType(),  # ulp-widened bounds from extraction
}


class DataFrameIndexCatalog(SidecarReads):
    """Stats catalog held as a Spark DataFrame (optionally persisted to
    a Parquet path — the stats *table* of a lakehouse deployment)."""

    def __init__(self, spark: SparkSession, persist_path: Optional[str] = None):
        self.spark = spark
        self.persist_path = persist_path
        self.index_schema: Dict[str, str] = {}
        # file_name -> (FileStats, [RowGroupStats]); the system of record
        # driver-side, mirrored into the DataFrame on demand
        self._files: Dict[str, Tuple[FileStats, List[RowGroupStats]]] = {}
        # statistic keyword -> file_name -> stored rows (row_group,
        # column_name, *payload), encoded as in the SQL side tables
        self._sidecars: Dict[str, Dict[str, list]] = {
            stat.keyword: {} for stat in STATISTICS}
        # deletion vectors — same protocol as SqliteIndexCatalog:
        # file_name -> [(start, length), ...]; (file, rg) -> deleted n;
        # (file, rg, column) -> (sum, nonnull, sumsq|None) adjustments
        self._dv: Dict[str, list] = {}
        self._dv_rg: Dict[Tuple[str, int], int] = {}
        self._dv_sums: Dict[Tuple[str, int, str], tuple] = {}
        # per-snapshot copies of the DV state (time travel under DML)
        self._snap_dv: Dict[int, Dict[str, list]] = {}
        self._snap_dv_rg: Dict[int, Dict[Tuple[str, int], int]] = {}
        self._snap_dv_sums: Dict[int, Dict[Tuple[str, int, str], tuple]] = {}
        # snapshot_id -> {file_name: (size, mtime_ns, footer_md5)}
        # (time travel; the content discriminators let reconstruction
        # checks refuse same-size rewrites); the seq counter never
        # rewinds, so expired ids are not reused
        self._snapshots: Dict[int, Dict[str, tuple]] = {}
        self._snapshot_seq = 0
        # tombstones: ids removed by expire_snapshots (parity with the
        # sqlite backend's file_count = -1 marker — as-of reads report
        # "has been expired", not "unknown snapshot id")
        self._expired_snapshots: set = set()
        # optimistic-concurrency version — same contract as
        # SqliteIndexCatalog.version/commit_version (this backend is
        # in-process, so a plain lock-guarded CAS suffices)
        self._version = 0
        self._version_lock = __import__("threading").Lock()
        # writer lease — same contract as SqliteIndexCatalog
        # .mutation_lease (held across a verb's CAS + mutation phase)
        self._writer_lease = __import__("threading").RLock()
        self._df: Optional[DataFrame] = None  # invalidated on writes

    # -- DDL (reference index.rs:332-393) ------------------------------
    def initialize(self, index_schema: Dict[str, str]) -> None:
        self.index_schema = dict(index_schema)
        self._df = None

    def _stats_schema(self) -> T.StructType:
        fields = [
            T.StructField("file_name", T.StringType(), False),
            T.StructField("file_size_bytes", T.LongType(), False),
            T.StructField("row_group", T.IntegerType(), False),
            T.StructField("row_count", T.LongType(), False),
        ]
        for c, cat in self.index_schema.items():
            t = _SPARK_TYPE[cat]
            fields.append(T.StructField(f"{c}_null_count", T.LongType(), True))
            fields.append(T.StructField(f"{c}_min", t, True))
            fields.append(T.StructField(f"{c}_max", t, True))
            if cat == "float":
                # opt-in per-row-group NaN count (null = unknown); see
                # SqliteIndexCatalog.initialize / plans/pruning._nan
                fields.append(T.StructField(f"{c}_nan_count", T.LongType(), True))
        return T.StructType(fields)

    # -- maintenance (reference index.rs:242-329) -----------------------
    def upsert_file(
        self, fs: FileStats, rgs: Sequence[RowGroupStats], blooms=None,
        sums=None, hists=None, ndvs=None, dicts=None, topks=None,
        pages=None,
    ) -> None:
        """Idempotent per file: replaces any previous stats for the same
        file_name (the reference's ON CONFLICT + delete-then-insert),
        sidecar payloads included — an omitted one is cleared."""
        prior = self._files.get(fs.file_name)
        self._files[fs.file_name] = (fs, list(rgs))
        payloads = (blooms, sums, hists, ndvs, dicts, topks, pages)
        for stat, payload in zip(STATISTICS, payloads):
            store = self._sidecars[stat.keyword]
            if payload:
                # key order, as the SQL tables' primary key sorts
                store[fs.file_name] = sorted(
                    stat.rows(payload), key=lambda r: r[:len(stat.key)])
            else:
                store.pop(fs.file_name, None)
        # deletion vectors are DML state: they die only with CHANGED
        # bytes; a re-index of unchanged bytes (a full rebuild over a
        # persisted catalog) preserves them — _bytes_changed, the
        # rule the SQLite backend applies too
        if _bytes_changed(
                prior and (prior[0].file_size_bytes, prior[0].mtime_ns,
                           prior[0].footer_md5),
                (fs.file_size_bytes, fs.mtime_ns, fs.footer_md5)):
            self._drop_dv_state(fs.file_name)
        self._df = None

    def _drop_dv_state(self, file_name: str) -> None:
        self._dv.pop(file_name, None)
        for k in [k for k in self._dv_rg if k[0] == file_name]:
            del self._dv_rg[k]
        for k in [k for k in self._dv_sums if k[0] == file_name]:
            del self._dv_sums[k]

    def remove_file(self, file_name: str) -> None:
        self._files.pop(file_name, None)
        self._drop_dv_state(file_name)
        for store in self._sidecars.values():
            store.pop(file_name, None)
        self._df = None

    def _sidecar_rows(self, stat, columns, file_names=None):
        """SidecarReads' row source: the stored rows of the wanted
        columns."""
        store = self._sidecars[stat.keyword]
        wanted = set(columns)
        names = store if file_names is None else [
            fn for fn in file_names if fn in store]
        return [(fn, rg, col, row) for fn in names
                for rg, col, *row in store[fn]
                if col in wanted]

    def create_snapshot(self) -> int:
        """Same protocol as SqliteIndexCatalog.create_snapshot."""
        self._snapshot_seq += 1
        sid = self._snapshot_seq
        self._snapshots[sid] = {
            fs.file_name: (fs.file_size_bytes, fs.mtime_ns,
                           fs.footer_md5)
            for fs, _ in self._files.values()}
        self._snap_dv[sid] = {fn: list(rs) for fn, rs in self._dv.items()}
        self._snap_dv_rg[sid] = dict(self._dv_rg)
        self._snap_dv_sums[sid] = dict(self._dv_sums)
        return sid

    def expire_snapshots(self, keep_last: int):
        """Same protocol as SqliteIndexCatalog.expire_snapshots.
        Expired ids go to a tombstone set so later as-of reads report
        'has been expired' (the sqlite backend's file_count = -1
        tombstone), not 'unknown snapshot id'."""
        ids = sorted(self._snapshots)
        expired = ids[:-keep_last] if keep_last > 0 else ids
        for sid in expired:
            del self._snapshots[sid]
            self._expired_snapshots.add(sid)
            for store in (self._snap_dv, self._snap_dv_rg,
                          self._snap_dv_sums):
                store.pop(sid, None)
        return expired

    def snapshots_referencing(self, names, after: int):
        """Same protocol as SqliteIndexCatalog.snapshots_referencing
        (in-memory dict intersection)."""
        wanted = set(names)
        out = {}
        for sid in sorted(self._snapshots):
            if sid <= after:
                continue
            for n in wanted & set(self._snapshots[sid]):
                out.setdefault(n, []).append(sid)
        return out

    def version(self) -> int:
        """Same protocol as SqliteIndexCatalog.version."""
        return self._version

    def mutation_lease(self):
        """Same protocol as SqliteIndexCatalog.mutation_lease: a
        reentrant per-process writer lease held across a DML verb's
        CAS + mutation phase so concurrent writers' mutation phases
        never interleave (this backend is in-process only, so the
        lease closes the race completely)."""
        import contextlib

        @contextlib.contextmanager
        def cm():
            with self._writer_lease:
                yield
        return cm()

    def commit_version(self, expected: int, verb: str = "dml") -> int:
        """Same protocol as SqliteIndexCatalog.commit_version: CAS
        expected -> expected + 1 or raise ConcurrentWriteError."""
        from .catalog import ConcurrentWriteError

        with self._version_lock:
            if self._version != expected:
                raise ConcurrentWriteError(
                    f"catalog version moved: this {verb} started from "
                    f"version {expected} but the catalog is at "
                    f"{self._version} — another writer committed since "
                    f"planning began; nothing was mutated, re-read the "
                    f"table state and retry")
            self._version += 1
            return self._version

    def _check_snapshot_id(self, snapshot_id: int) -> None:
        if snapshot_id not in self._snapshots:
            if snapshot_id in self._expired_snapshots:
                raise KeyError(
                    f"snapshot id {snapshot_id} has been expired")
            raise KeyError(f"unknown snapshot id {snapshot_id}")

    def snapshot_files(self, snapshot_id: int):
        """Same protocol as SqliteIndexCatalog.snapshot_files."""
        self._check_snapshot_id(snapshot_id)
        return {name: ident[0] for name, ident
                in self._snapshots[snapshot_id].items()}

    def snapshot_manifest(self, snapshot_id: int):
        """Same protocol as SqliteIndexCatalog.snapshot_manifest:
        {file_name: (size, mtime_ns, footer_md5)}."""
        self._check_snapshot_id(snapshot_id)
        return dict(self._snapshots[snapshot_id])

    def file_identity(self):
        """Same protocol as SqliteIndexCatalog.file_identity."""
        return {fs.file_name: (fs.file_size_bytes, fs.mtime_ns,
                               fs.footer_md5)
                for fs, _ in self._files.values()}

    # -- the stats table ------------------------------------------------
    def stats_df(self) -> DataFrame:
        """One row per (file, row group) with typed stat columns."""
        if self._df is None:
            rows = []
            for fs, rgs in self._files.values():
                for rg in rgs:
                    row = [fs.file_name, fs.file_size_bytes,
                           rg.row_group, rg.row_count]
                    for c, cat in self.index_schema.items():
                        nc, mn, mx = rg.columns.get(c, (None, None, None))
                        row.extend([nc, mn, mx])
                        if cat == "float":
                            row.append(rg.nan_counts.get(c))
                    rows.append(tuple(row))
            self._df = local_frame(self.spark, rows, self._stats_schema())
            if self.persist_path:
                self._df.write.mode("overwrite").parquet(self.persist_path)
                self._df = self.spark.read.parquet(self.persist_path)
        return self._df

    # -- lookup (reference index.rs:102-176) ----------------------------
    def get_files(self, stats_predicate: Expr, prefilter=None
                  ) -> List[Tuple[str, List[int]]]:
        """Evaluate the stats-space predicate as a pyspark Column; rows
        where it is not TRUE are pruned (same keep-on-TRUE semantics as
        the SQL WHERE in the SQLite backend). Files with zero surviving
        row groups simply don't appear (reference README.md:70).
        ``prefilter`` (an R-tree window) is ignored: this backend has
        no R-tree, and the window never changes the answer."""
        kept = (
            self.stats_df()
            .filter(stats_predicate.to_spark())
            .select("file_name", "row_group")
            .collect()
        )
        out: Dict[str, List[int]] = {}
        for r in kept:
            out.setdefault(r["file_name"], []).append(int(r["row_group"]))
        return sorted((f, sorted(rgs)) for f, rgs in out.items())

    # -- introspection --------------------------------------------------
    def all_files(self) -> List[Tuple[str, int, int, int]]:
        return sorted(
            (fs.file_name, fs.file_size_bytes, fs.row_group_count, fs.row_count)
            for fs, _ in self._files.values()
        )

    def totals(self) -> Tuple[int, int, int]:
        """Same protocol as SqliteIndexCatalog.totals (folded here: the
        file dict is already in driver memory)."""
        files = [fs for fs, _ in self._files.values()]
        return (len(files), sum(fs.row_group_count for fs in files),
                sum(fs.row_count for fs in files))

    def file_meta(self) -> Dict[str, Tuple[int, Optional[int]]]:
        """Same protocol as SqliteIndexCatalog.file_meta."""
        return {fs.file_name: (fs.file_size_bytes, fs.mtime_ns)
                for fs, _ in self._files.values()}

    def snapshot_count(self) -> int:
        """Same protocol as SqliteIndexCatalog.snapshot_count."""
        return len(self._snapshots)

    def snapshot_ids(self):
        """Same protocol as SqliteIndexCatalog.snapshot_ids."""
        return sorted(self._snapshots)

    def restore_dvs(self, snapshot_id: int) -> None:
        """Same protocol as SqliteIndexCatalog.restore_dvs."""
        live = {fs.file_name for fs, _ in self._files.values()}
        self._dv = {fn: list(rs) for fn, rs in
                    self._snap_dv.get(snapshot_id, {}).items()
                    if fn in live}
        self._dv_rg = {k: v for k, v in
                       self._snap_dv_rg.get(snapshot_id, {}).items()
                       if k[0] in live}
        self._dv_sums = {k: v for k, v in
                         self._snap_dv_sums.get(snapshot_id, {}).items()
                         if k[0] in live}
        self._df = None

    def row_group_count(self, file_name: str) -> int:
        entry = self._files.get(file_name)
        if entry is None:
            # same contract as SqliteIndexCatalog: an unknown file must
            # raise so _read_rowgroups routes it to the exact Python
            # path instead of silently scanning the whole file natively
            raise KeyError(file_name)
        return entry[0].row_group_count

    def row_group_row_counts(self, file_name: str) -> Dict[int, int]:
        """{row_group: row_count} for one file (metadata-only answers)."""
        entry = self._files.get(file_name)
        if entry is None:
            return {}
        return {rg.row_group: rg.row_count for rg in entry[1]}

    def _rg_bounds(self, rg, column):
        """Per-row-group bounds in the data's domain; decimal columns
        surface the exact Decimal copies when recorded (see
        SqliteIndexCatalog._decode_rg_bounds)."""
        if self.index_schema.get(column) == "decimal":
            exact = rg.exact_bounds.get(column)
            if exact is not None:
                return exact
        _, lo, hi = rg.columns.get(column, (None, None, None))
        return lo, hi

    def column_bounds(self, column: str):
        """(min, max, complete) over every indexed row group; complete is
        False when any row group lacks stats for the column."""
        if column not in self.index_schema:
            raise KeyError(column)
        mn = mx = None
        complete = True
        for _, rgs in self._files.values():
            for rg in rgs:
                lo, hi = self._rg_bounds(rg, column)
                if lo is None:
                    complete = False
                    continue
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
        return mn, mx, complete

    def column_rg_entries_keyed(self, column: str):
        """{(file_name, row_group): (null_count, min, max, row_count)}
        — same protocol as SqliteIndexCatalog."""
        if column not in self.index_schema:
            raise KeyError(column)
        out = {}
        for fs, rgs in self._files.values():
            for rg in rgs:
                nc, _, _ = rg.columns.get(column, (None, None, None))
                lo, hi = self._rg_bounds(rg, column)
                out[(fs.file_name, rg.row_group)] = (nc, lo, hi,
                                                     rg.row_count)
        return out

    def column_nan_total(self, column: str):
        """Total NaN count across every row group for a float column, or
        None when any row group's count is unknown — same contract as
        SqliteIndexCatalog.column_nan_total."""
        if self.index_schema.get(column) != "float":
            raise KeyError(column)
        total = 0
        seen = False
        for _, rgs in self._files.values():
            for rg in rgs:
                seen = True
                n = rg.nan_counts.get(column)
                if n is None:
                    return None
                total += n
        return total if seen else None

    # -- deletion vectors (same protocol as SqliteIndexCatalog) --------
    def upsert_dv(self, file_name, positions_by_rg, sum_adjust=None):
        new_pos = sorted(
            p for ps in positions_by_rg.values() for p in ps)
        if not new_pos:
            return sum(ln for _, ln in self._dv.get(file_name, ()))
        if file_name not in self._files:
            raise KeyError(file_name)
        ranges = [tuple(r) for r in
                  _merge_dv_ranges(self._dv.get(file_name, ()), new_pos)]
        self._dv[file_name] = ranges
        for rg, ps in positions_by_rg.items():
            if ps:
                k = (file_name, rg)
                self._dv_rg[k] = self._dv_rg.get(k, 0) + len(ps)
        # mirror the SQLite backend: new deletions invalidate prior
        # sum adjustments this call does not extend (incomplete
        # coverage must demote, never under-subtract)
        for rg, ps in positions_by_rg.items():
            if not ps:
                continue
            covered = set((sum_adjust or {}).get(rg, {}))
            for k in [k for k in self._dv_sums
                      if k[0] == file_name and k[1] == rg
                      and k[2] not in covered]:
                del self._dv_sums[k]
        for rg, cols in (sum_adjust or {}).items():
            for col_, (sv, nn, sq) in cols.items():
                k = (file_name, rg, col_)
                prior = self._dv_sums.get(k)
                if prior:
                    sv = sv + prior[0]
                    nn = nn + prior[1]
                    sq = (None if sq is None or prior[2] is None
                          else sq + prior[2])
                self._dv_sums[k] = (sv, nn, sq)
        return sum(ln for _, ln in ranges)

    def get_dv_ranges(self, as_of=None):
        src = self._snap_dv.get(as_of, {}) if as_of is not None \
            else self._dv
        return {fn: list(rs) for fn, rs in src.items()}

    def dv_deleted_rows(self, as_of=None):
        src = self._snap_dv.get(as_of, {}) if as_of is not None \
            else self._dv
        return {fn: sum(ln for _, ln in rs) for fn, rs in src.items()}

    def dv_rg_deleted(self, as_of=None):
        if as_of is not None:
            return dict(self._snap_dv_rg.get(as_of, {}))
        return dict(self._dv_rg)

    def dv_sum_adjustments(self, column: str, as_of=None):
        src = self._snap_dv_sums.get(as_of, {}) if as_of is not None \
            else self._dv_sums
        return {(fn, rg): v for (fn, rg, c), v in src.items()
                if c == column}

    def clear_dv(self, file_name: str) -> None:
        self._drop_dv_state(file_name)

    def close(self) -> None:
        self._df = None
