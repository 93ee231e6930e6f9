"""The catalog-answer family: COUNT, SUM, VAR moments, MIN/MAX,
quantiles, NDV, heavy hitters, GROUP BY counts and DISTINCT answered
from the statistics catalog instead of Parquet (the reference answers
COUNT from its stats, index.rs:198-205). ``CatalogAnswers`` is a mixin
of ``IndexedParquetTable``. Its three trust rules are written once:
coverage (``_row_groups``, ``_split_scan``), single-valued groups
(``_group_values``) and attained bounds (``_bound_is_exact``); short of
them an answer is None or a scan, never wrong.
"""

from __future__ import annotations

import functools
from typing import Dict, List, Optional, Sequence

from ..plans.expr import Expr


# Parquet string/binary column-chunk statistics may be TRUNCATED bounds:
# writers (parquet-mr, parquet-rs) shorten long min/max values while
# keeping them valid *bounds* (max truncation rounds the last byte up),
# and mark it with is_min_value_exact/is_max_value_exact footer flags —
# which pyarrow 16 does not expose. Truncated bounds are still sound for
# PRUNING (over-approximation), but catalog-only ANSWERS (min_max,
# count_rows_by) would return a never-attained bound as "the max". With
# the flags unreadable, the conservative guard is length-based: treat a
# string/binary bound at or beyond the common 64-byte truncation
# threshold as possibly inexact and fall back to a scan aggregate —
# wrong answers become impossible, long-string corpora merely lose the
# zero-I/O shortcut. Partition-column stats are exempt: their min=max
# value comes from the directory name, not a footer stat.
STATS_EXACT_MAX_BYTES = 64


def _grouped(summaries: Dict, groups: Dict) -> Optional[Dict]:
    """{group value: [row-group summary, ...]}, or None unless the
    summaries cover exactly the grouped row groups."""
    if set(summaries) != set(groups):
        return None
    out: Dict = {}
    for key, g in groups.items():
        out.setdefault(g, []).append(summaries[key])
    return out


def _extremes(bounds) -> tuple:
    """(min of the lows, max of the highs) over (lo, hi) pairs, skipping
    value-free (None, None) pairs; (None, None) when none remain."""
    vals = [b for b in bounds if b[0] is not None]
    if not vals:
        return None, None
    return min(lo for lo, _ in vals), max(hi for _, hi in vals)


def _hist_spec(hists: Dict) -> Optional[tuple]:
    """The one (lo, hi, nbins) bin spec every histogram shares, or None
    when the specs disagree (mixed specs cannot fold)."""
    specs = {(lo, hi, nb) for (lo, hi, nb, _) in hists.values()}
    return specs.pop() if len(specs) == 1 else None


def _bin_totals(hists, nbins: int) -> List[int]:
    """Per-bin sum of the row groups' histogram counts."""
    total = [0] * nbins
    for (_, _, _, counts) in hists:
        for b, c in enumerate(counts):
            total[b] += c
    return total


def _quantiles(total: List[int], spec: tuple, qs_permille: Sequence[int]):
    """[(q, estimate, n)] read off one folded histogram: target rank
    r = ceil(q·n/1000), the first bin whose cumulative count reaches r,
    then integer interpolation within that bin."""
    lo, hi, nbins = spec
    span = hi - lo + 1
    width = span // nbins
    n = sum(total)
    out = []
    for q in qs_permille:
        target = min(max(1, (q * n + 999) // 1000), n)
        cum = 0
        b = 0
        for b, cnt in enumerate(total):
            if cum + cnt >= target:
                break
            cum += cnt
        rank_in = target - cum  # 1-based rank inside bin b
        left = lo + (span * b) // nbins
        out.append((q, left + (width * (rank_in - 1)) // max(total[b], 1),
                    n))
    return out


def _fold_ndv_registers(reg_lists):
    """Elementwise-MAX merge + the shared integer-scaled raw HLL
    estimator (stats.HLL_ALPHA_SCALED / Σ 2^(55-M_j), rounded to 2
    decimals — one float division total, so any engine recomputing
    the same registers reproduces the identical estimate)."""
    from .stats import HLL_ALPHA_SCALED, HLL_REGS

    merged = [0] * HLL_REGS
    for regs in reg_lists:
        if len(regs) != HLL_REGS:
            return None
        for j, r in enumerate(regs):
            if r > merged[j]:
                merged[j] = r
    ind_sum = sum(1 << (55 - r) for r in merged)
    return round(HLL_ALPHA_SCALED / ind_sum, 2)


def _hh_bounds(summaries) -> list:
    """Every candidate as (value, lower, upper), sorted by (lower DESC,
    value ASC), from per-row-group top-k summaries (entries, rest_rows,
    kth_count): lower sums the stored counts; upper adds, for each
    summary that did not store the value, min(kth_count, rest_rows)."""
    lower: Dict = {}
    for entries, _, _ in summaries:
        for v, c in entries:
            lower[v] = lower.get(v, 0) + c
    out = []
    for v, lo in lower.items():
        slack = sum(min(kth, rest)
                    for entries, rest, kth in summaries
                    if all(sv != v for sv, _ in entries))
        out.append((v, lo, lo + slack))
    out.sort(key=lambda e: (-e[1], e[0]))
    return out


class CatalogAnswers:
    """Catalog-only aggregate answers (mixin of IndexedParquetTable)."""

    # -- shared rules ---------------------------------------------------
    def _row_groups(self, as_of: Optional[int] = None) -> set:
        """{(file_name, row_group)} of every indexed row group — of a
        snapshot()'s files when as_of is given."""
        files = self.catalog.all_files()
        if as_of is not None:
            snap = self._snapshot_guard(as_of)
            files = [f for f in files if f[0] in snap]
        return {(f[0], rg) for f in files for rg in range(f[2])}

    def _dv_rg(self, as_of: Optional[int] = None) -> Dict:
        """{(file_name, row_group): deleted rows} recorded for the era;
        {} without a catalog read when no deletion can exist."""
        return (self.catalog.dv_rg_deleted(as_of=as_of)
                if self._dvs() or as_of is not None else {})

    def _split_scan(self, predicate: Optional[Expr], part,
                    column: Optional[str] = None,
                    as_of: Optional[int] = None):
        """The proven-full / boundary split behind the COUNT, SUM, VAR
        and MIN/MAX pushdowns. Refutation (plan_scan) gives the
        candidate row groups; the satisfaction rewrite
        (PruningRewriter.satisfies — the sound under-approximation dual)
        proves which candidates match on EVERY row (without a predicate,
        every indexed group does). ``part(key, dv_rg)`` returns a
        proven-full group's catalog contribution, or None to demote it.
        The rest form the boundary, read through the exact row-group
        reader (only the predicate's columns and ``column``; groups with
        recorded deletions come back live-only) and filtered by the
        predicate.

        Returns (parts, boundary, shape): the proven-full contributions,
        the boundary rows (None when nothing is left to scan) and the
        {full_row_groups, partial_row_groups} split — or None when an
        unpredicated group demotes, or on a partitioned layout, whose
        partition columns the row-group reader cannot surface."""
        if predicate is None:
            dv_rg = self._dv_rg(as_of)
            parts = [part(key, dv_rg) for key in self._row_groups(as_of)]
            if None in parts:
                return None
            return parts, None, {"full_row_groups": len(parts),
                                 "partial_row_groups": 0}
        decision = self.plan_scan(predicate, as_of=as_of)
        if not decision.files_scanned:
            return [], None, {"full_row_groups": 0, "partial_row_groups": 0}
        if self.partitioned:
            return None
        # the satisfaction set takes plan_scan's R-tree prefilter too: it
        # is only read at keys inside the (equally prefiltered)
        # refutation decision, so the window cannot change any answer
        full = dict(self.catalog.get_files(
            self._rewriter.satisfies(predicate),
            prefilter=self._rtree_window(predicate)))
        dv_rg = self._dv_rg(as_of)
        parts: list = []
        partial: Dict[str, List[int]] = {}
        for fname, rgs in decision.files_scanned.items():
            frg = set(full.get(fname, ()))
            rest = []
            for rg in rgs:
                p = part((fname, rg), dv_rg) if rg in frg else None
                if p is None:
                    rest.append(rg)
                else:
                    parts.append(p)
            if rest:
                partial[fname] = rest
        shape = {"full_row_groups": len(parts),
                 "partial_row_groups": sum(len(v) for v in partial.values())}
        if not partial:
            return parts, None, shape
        from .table import ScanDecision  # table imports this module

        cols = sorted(predicate.columns() | ({column} if column else set()))
        df = self._read_rowgroups(
            ScanDecision(decision.predicate, partial, decision.total_files,
                         decision.total_row_groups),
            predicate, columns=cols or None, as_of=as_of,
            local_max_bytes=self.ROWGROUP_LOCAL_MAX_BYTES, dv_rg=dv_rg)
        return parts, df.filter(predicate.to_spark()), shape

    def _group_values(self, column: str, entries: Optional[Dict] = None):
        """{(file_name, row_group): value} when EVERY row group is
        single-valued on the column (min == max, no nulls, stats
        present, the bound an attained value) — always true for
        partition columns, whose value is injected as a degenerate
        min=max stat, and for any column the layout writer clustered
        perfectly; None otherwise, or when the column is not indexed.
        ``entries``: the column's keyed catalog entries, when the caller
        already read them."""
        if entries is None:
            try:
                entries = self.catalog.column_rg_entries_keyed(column)
            except KeyError:
                return None
        out = {}
        for key, (nc, lo, hi, _) in entries.items():
            if (lo is None or lo != hi or (nc or 0) != 0
                    or not self._bound_is_exact(column, lo)):
                return None
            out[key] = lo
        return out

    def _attained(self, column: str, entry) -> Optional[tuple]:
        """One row group's (min, max) of the column when both bounds
        are attained values, (None, None) when the group is PROVEN
        all-NULL (null_count == row_count: it contributes no values),
        else None — untrusted bounds, or bounds merely MISSING (writer
        omitted min/max, e.g. an all-NaN float chunk), prove nothing."""
        nc, lo, hi, rc = entry or (None, None, None, None)
        if lo is not None and hi is not None:
            if (self._bound_is_exact(column, lo)
                    and self._bound_is_exact(column, hi)):
                return lo, hi
            return None
        return (None, None) if nc is not None and nc == rc else None

    def _bound_is_exact(self, column: str, value) -> bool:
        """Whether a catalog min/max value can be trusted as the ACTUAL
        attained value (not just a valid bound). int / date / timestamp
        stats and partition-derived values are exact. Not trusted:
        decimal (ulp-widened doubles by design), float UNLESS the column
        is proven NaN-free via the opt-in NaN counts (Parquet writers
        EXCLUDE NaN from min/max while Spark/DuckDB order NaN above
        every value, so the true attained max may be an invisible NaN),
        and string/binary bounds at or past the truncation threshold
        (see ``stats_exact_max_bytes``)."""
        cat = self.index_schema.get(column)
        if cat == "decimal":
            # the catalog readouts surface EXACT Decimal bounds (decoded
            # from unscaled-int footer storage) when recorded; a float
            # here is a widened pruning bound and never trusted
            import decimal as _dec
            return value is None or isinstance(value, _dec.Decimal)
        if cat == "float":
            return self._column_nan_free(column)
        if cat not in ("string", "binary"):
            return True
        if column in self._partition_cols:
            return True
        if value is None:
            return True
        raw = value.encode("utf-8") if isinstance(value, str) else value
        return len(raw) < self.stats_exact_max_bytes

    def _column_nan_free(self, column: str) -> bool:
        """True when every row group's opt-in NaN count is recorded and
        zero (cached per column; invalidated by refresh())."""
        if self._nan_free_cache is None:
            self._nan_free_cache = {}
        cache = self._nan_free_cache
        if column not in cache:
            try:
                total = self.catalog.column_nan_total(column)
            except (KeyError, AttributeError):
                total = None
            cache[column] = total == 0
        return cache[column]

    def _sum_decoder(self, column: str):
        """Stored catalog sums are raw ints for integer columns and
        UNSCALED ints for decimal columns (lossless); this returns the
        store->domain conversion for the column."""
        from pyspark.sql import types as T

        f = next((f for f in (self._schema.fields if self._schema else [])
                  if f.name == column), None)
        if f is not None and isinstance(f.dataType, T.DecimalType):
            import decimal as _dec
            scale = f.dataType.scale
            return lambda s: _dec.Decimal(s).scaleb(-scale)
        return lambda s: s

    # -- COUNT / SUM / VAR / MIN-MAX ------------------------------------
    def count_rows(self, predicate: Optional[Expr] = None,
                   as_of: Optional[int] = None) -> int:
        """Exact row count with COUNT PUSHDOWN into the catalog:

        - no predicate: the sum of catalog row_counts — zero Parquet
          I/O (the stats ARE the aggregate, reference index.rs:198-205);
        - refuted predicate: 0 straight from the empty access plan
          (reference README.md:70);
        - otherwise BOTH rewrites run: refutation gives the candidate
          row groups, the satisfaction rewrite (PruningRewriter
          .satisfies — the sound under-approximation dual) proves which
          candidates match on EVERY row. Proven-full groups contribute
          their catalog row_count unread; only the boundary groups
          (candidates minus proven-full) are scanned, through the exact
          row-group reader, reading only the predicate's columns. At
          100 TB a time-range count reads the two boundary row groups
          instead of the range.

        ``last_count_pushdown`` records {full_row_groups, full_rows,
        partial_row_groups} for observability/tests. Partitioned
        layouts fall back to pruned-scan counting (the row-group reader
        cannot surface partition columns).

        as_of: answer as of a snapshot() — the count folds from the
        snapshot's file set only (still zero Parquet I/O when
        unpredicated: time-travel aggregates are catalog arithmetic
        too)."""
        if predicate is None:
            if as_of is None:
                deleted = self.catalog.dv_deleted_rows()
                return self.catalog.totals()[2] - sum(deleted.values())
            snap = self._snapshot_guard(as_of)
            # era-correct: the snapshot's RECORDED deletions, not the
            # live ones — deletes after the snapshot are invisible
            deleted = self.catalog.dv_deleted_rows(as_of=as_of)
            return sum(f[3] - deleted.get(f[0], 0)
                       for f in self.catalog.all_files() if f[0] in snap)
        row_counts = functools.cache(self.catalog.row_group_row_counts)

        def part(key, dv_rg):
            # a satisfaction-proven group under deletes: every LIVE row
            # still satisfies (the proof covers all rows), so the live
            # contribution is row_count minus the recorded deletions
            return row_counts(key[0])[key[1]] - dv_rg.get(key, 0)

        split = self._split_scan(predicate, part, as_of=as_of)
        if split is None:
            self.last_count_pushdown = None
            return self.query(predicate, as_of=as_of).count()
        parts, boundary, shape = split
        full_rows = sum(parts)
        self.last_count_pushdown = {**shape, "full_rows": full_rows}
        # boundary groups WITH deletions scan live-only, so the boundary
        # term is a plain count — no full-scan demotion needed
        return full_rows + (boundary.count() if boundary is not None else 0)

    def sum_rows(self, column: str, predicate: Optional[Expr] = None,
                 as_of: Optional[int] = None):
        """(sum, non_null_count) of an integer or decimal column over
        matching rows, pushed into the catalog the same way count_rows
        is: the opt-in per-row-group sums (``sum_columns=[...]`` at
        construction; exact integer arithmetic end to end — decimal
        sums ride as unscaled ints and rescale on readout) answer
        every satisfaction-proven row group unread, and only the
        boundary groups scan — SUM over a sorted time/key range reads
        two row groups at any corpus size, and the no-predicate total
        is pure catalog arithmetic. A candidate group without a stored
        sum entry simply demotes to the scanned set, so partial sum
        coverage degrades to correctness, never to a wrong answer.
        SQL semantics: NULLs are ignored; (None, 0) when no row
        matches. Falls back to a full aggregate when the column has no
        sums at all or the layout is partitioned."""
        from pyspark.sql import functions as F

        sums = self.catalog.get_sums(column)
        decode = self._sum_decoder(column)

        def _scan_agg(df) -> tuple:
            row = df.agg(
                F.sum(F.col(column)).alias("s"),
                F.count(F.col(column)).alias("n")).head()
            return row["s"], row["n"]

        if not sums or self.partitioned:
            self.last_sum_pushdown = None
            return _scan_agg(self.query(predicate, as_of=as_of))
        dv_adj = (self.catalog.dv_sum_adjustments(column, as_of=as_of)
                  if (self._dvs() or as_of is not None) else {})

        def part(key, dv_rg):
            # every live row of a proven-full group satisfies, so its
            # live sum is the stored sum minus the deleted rows'
            # recorded contribution. A group with recorded deletions
            # but no adjustment for this column (deletes issued by a
            # session that tracked different/empty sum_columns) cannot
            # be repaired by subtraction: demote it to the scan.
            entry = sums.get(key)
            if entry is None or (key in dv_rg and key not in dv_adj):
                return None
            adj = dv_adj.get(key, (0, 0, None))
            return entry[0] - adj[0], entry[1] - adj[1]

        # as_of: a time-travel aggregate folds only the snapshot's files
        split = self._split_scan(predicate, part, column, as_of)
        if split is None:
            self.last_sum_pushdown = None
            return _scan_agg(self.query(None, as_of=as_of))
        parts, boundary, shape = split
        s_full = sum(p[0] for p in parts)
        self.last_sum_pushdown = {**shape, "full_sum": s_full}
        s_part, n_part = (None, 0) if boundary is None else _scan_agg(boundary)
        n = sum(p[1] for p in parts) + n_part
        return ((decode(s_full) + (s_part or 0)) if n else None), n

    def sum_sq_rows(self, column: str, predicate: Optional[Expr] = None):
        """(sum, sum_of_squares, non_null_count) of an integer column
        over matching rows — the VAR/STDDEV pushdown: the catalog's
        per-row-group second moments (recorded by the same opt-in
        ``sum_columns`` page scan that records sums) answer every
        satisfaction-proven row group unread, exactly like sum_rows;
        only boundary groups scan. From the exact integer triple the
        caller derives VAR_POP = (n·Σx² − (Σx)²)/n² and VAR_SAMP /
        STDDEV without ever touching Parquet for interior groups — at
        100 TB a variance over a sorted key range reads two row groups.

        All arithmetic is exact: catalog moments are Python ints
        (sumsq rides as TEXT in SQLite since Σx² routinely exceeds
        int64), and the boundary scan accumulates Σx² in DECIMAL(38,0)
        so Spark cannot overflow a long. Groups whose stored entry
        lacks a second moment (decimal columns, pre-extension rows)
        demote to the scanned set — partial coverage degrades to
        correctness. Falls back to a full aggregate when the column
        has no sums at all or the layout is partitioned (same contract
        as sum_rows). ``last_var_pushdown`` records the shape.
        SQL semantics: NULLs ignored; (None, None, 0) when no row
        matches."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        f = next((f for f in (self._schema.fields if self._schema else [])
                  if f.name == column), None)
        if f is not None and not isinstance(
                f.dataType, (T.ByteType, T.ShortType, T.IntegerType,
                             T.LongType)):
            # the decimal(38,0) Σx² accumulator below would truncate
            # fractional values; second moments are integer-only
            raise TypeError(
                f"sum_sq_rows supports integer columns only, "
                f"{column} is {f.dataType.simpleString()}")

        sums = self.catalog.get_sums(column)

        def _scan_agg(df) -> tuple:
            c = F.col(column)
            row = df.agg(
                F.sum(c).alias("s"),
                F.sum(c.cast("decimal(38,0)") * c).alias("sq"),
                F.count(c).alias("n")).head()
            sq = None if row["sq"] is None else int(row["sq"])
            return row["s"], sq, row["n"]

        def _usable(entry) -> bool:
            return len(entry) > 2 and entry[2] is not None

        if (not any(_usable(e) for e in sums.values())
                or self.partitioned):
            self.last_var_pushdown = None
            return _scan_agg(self.query(predicate))
        dv_adj = (self.catalog.dv_sum_adjustments(column)
                  if self._dvs() else {})

        def part(key, dv_rg):
            # a deleted-rows adjustment without a recorded second moment
            # cannot repair the stored sumsq, and a group with recorded
            # deletions (dv_rg_adjust) but NO adjustment for this
            # column (deletes issued under different/empty sum_columns)
            # would silently keep the pre-delete sums — demote both
            entry, a = sums.get(key), dv_adj.get(key)
            if (entry is None or not _usable(entry)
                    or (key in dv_rg if a is None else a[2] is None)):
                return None
            a = a or (0, 0, 0)
            return entry[0] - a[0], entry[2] - a[2], entry[1] - a[1]

        split = self._split_scan(predicate, part, column)
        if split is None:
            self.last_var_pushdown = None
            return _scan_agg(self.query(None))
        parts, boundary, self.last_var_pushdown = split
        if boundary is not None:
            parts.append(tuple(v or 0 for v in _scan_agg(boundary)))
        s, sq, n = (sum(p[i] for p in parts) for i in range(3))
        return (s, sq, n) if n else (None, None, 0)

    def count_upper_bound(self, predicate: Optional[Expr] = None) -> int:
        """Catalog-only upper bound: total rows in surviving row groups.
        Never touches Parquet; useful for planning (e.g. choosing
        broadcast vs shuffle before reading)."""
        if predicate is None:
            return self.catalog.totals()[2]
        decision = self.plan_scan(predicate)
        total = 0
        for file_name, rgs in decision.files_scanned.items():
            counts = self.catalog.row_group_row_counts(file_name)
            total += sum(counts[rg] for rg in rgs)
        return total

    def min_max(self, column: str, predicate: Optional[Expr] = None):
        """(min, max) for an indexed column, answered from the catalog
        when every row group carries stats AND the bounds are trustable
        as attained values (numeric Parquet min/max are exact; long
        string/binary stats may be truncated bounds and decimal bounds
        are ulp-widened — valid for pruning but possibly never-attained,
        so those trigger the scan fallback).

        With a predicate, the same pushdown shape as count_rows/
        sum_rows: over satisfaction-proven row groups every row
        matches, so the group's exact-attained bounds participate in
        the answer unread; groups whose bounds cannot be trusted as
        attained demote to the scanned set alongside the boundary
        groups. ``last_minmax_pushdown`` records the split."""
        self._dv_guard("min_max")
        from pyspark.sql import functions as F

        def _scan_agg(df) -> tuple:
            row = df.agg(F.min(column).alias("mn"),
                         F.max(column).alias("mx")).head()
            return row["mn"], row["mx"]

        if predicate is None:
            try:
                mn, mx, complete = self.catalog.column_bounds(column)
            except KeyError:
                complete = False
                mn = mx = None
            if (complete and self._bound_is_exact(column, mn)
                    and self._bound_is_exact(column, mx)):
                self.last_minmax_pushdown = {
                    "full_row_groups": self.catalog.totals()[1],
                    "partial_row_groups": 0}
                return mn, mx
            self.last_minmax_pushdown = None
            return _scan_agg(self.to_df())

        @functools.cache
        def entries() -> Dict:
            # read at the first proven-full group; an unindexed target
            # column: the catalog knows nothing about its values, so
            # every candidate group must be scanned
            try:
                return self.catalog.column_rg_entries_keyed(column)
            except KeyError:
                return {}

        split = self._split_scan(
            predicate,
            lambda key, _: self._attained(column, entries().get(key)), column)
        if split is None:
            self.last_minmax_pushdown = None
            return _scan_agg(self.query(predicate))
        parts, boundary, self.last_minmax_pushdown = split
        if boundary is not None:
            parts.append(_scan_agg(boundary))
        return _extremes(parts)

    # -- grouped folds ----------------------------------------------------
    def count_rows_by(self, column: str):
        """Zero-I/O GROUP BY COUNT: {value: row_count} answered from the
        catalog alone when EVERY row group is single-valued on the
        column (min == max, no nulls, stats present) — always true for
        partition columns, whose value is injected as a degenerate
        min=max stat, and for any column the layout writer clustered
        perfectly. Returns None when any row group is not single-valued
        (caller falls back to a scan aggregate), or when a string bound
        is long enough to be a truncated footer stat (min == max would
        then not prove single-valuedness — two distinct long values can
        share a truncated prefix). Values are returned in the data's
        domain (the catalog decodes its storage encoding). At 100 TB
        this is an O(catalog) driver-side fold — no executor starts."""
        self._dv_guard("count_rows_by")
        try:
            entries = self.catalog.column_rg_entries_keyed(column)
        except KeyError:
            return None
        groups = self._group_values(column, entries)
        if groups is None:
            return None
        rows = _grouped({k: e[3] for k, e in entries.items()}, groups)
        return {g: sum(rcs) for g, rcs in rows.items()}

    def sum_rows_by(self, group_column: str, sum_column: str):
        """Zero-I/O GROUP BY SUM: {group value: (sum, non_null_count)}
        answered from the catalog alone when EVERY row group is
        single-valued on the group column (partition columns, perfectly
        clustered layouts) AND carries a stored sum for the measure —
        the grouped generalization of sum_rows' no-predicate total, and
        the aggregate-table readout that otherwise needs a materialized
        view. Returns None when any row group fails either condition
        (caller falls back to a scan aggregate); the trust rules match
        count_rows_by (no NULL group values, no truncated-bound
        single-valuedness claims). O(catalog) driver-side fold — no
        executor ever starts."""
        self._dv_guard("sum_rows_by")
        groups = self._group_values(group_column)
        if groups is None:
            return None
        per = _grouped(self.catalog.get_sums(sum_column), groups)
        if per is None:
            return None
        decode = self._sum_decoder(sum_column)
        # an entry may carry a 3rd moment; SUM reads (sum, count)
        return {g: (decode(sum(e[0] for e in es)), sum(e[1] for e in es))
                for g, es in per.items()}

    def sum_sq_rows_by(self, group_column: str, sum_column: str):
        """Zero-I/O GROUP BY VAR moments: {group value: (sum, sumsq,
        non_null_count)} answered from the catalog alone — the grouped
        generalization of sum_sq_rows under the same single-valued-
        group trust rules as sum_rows_by, requiring every row group's
        stored entry to carry a second moment (integer measures only;
        the caller derives per-group VAR_POP/STDDEV from the exact
        moments). Returns None when any row group fails a condition —
        coverage degrades to a scan aggregate, never wrongness.
        O(catalog) driver-side fold — no executor ever starts."""
        self._dv_guard("sum_sq_rows_by")
        groups = self._group_values(group_column)
        if groups is None:
            return None
        per = _grouped(self.catalog.get_sums(sum_column), groups)
        if per is None or any(len(e) < 3 or e[2] is None
                              for es in per.values() for e in es):
            return None
        return {g: (sum(e[0] for e in es), sum(e[2] for e in es),
                    sum(e[1] for e in es))
                for g, es in per.items()}

    def min_max_by(self, group_column: str, target_column: str):
        """Zero-I/O GROUP BY MIN/MAX: {group value: (min, max, count)}
        answered from the catalog alone when EVERY row group is
        single-valued on the group column (partition columns, perfectly
        clustered layouts) AND the target column's bounds are trusted
        as attained values in every group — the MIN/MAX sibling of
        count_rows_by/sum_rows_by, completing the grouped
        aggregate-pushdown family (COUNT/SUM/MIN/MAX, the index as the
        materialized view). count is the target's NON-NULL count
        (row_count - null_count, SQL MIN/MAX semantics); a group whose
        target is all-NULL contributes (None, None, 0) bounds-free.
        Returns None when any row group fails a trust condition (caller
        falls back to a scan aggregate). O(catalog) driver-side fold."""
        self._dv_guard("min_max_by")
        groups = self._group_values(group_column)
        if groups is None:
            return None
        try:
            targets = self.catalog.column_rg_entries_keyed(target_column)
        except KeyError:
            return None
        out: Dict = {}
        for key, g in groups.items():
            bounds = self._attained(target_column, targets.get(key))
            if bounds is None:
                return None
            nc, _, _, rc = targets[key]
            mn, mx, n = out.get(g, (None, None, 0))
            out[g] = (*_extremes([(mn, mx), bounds]),
                      n + (rc or 0) - (nc or 0))
        return out

    # -- sketches: quantiles, NDV, dictionaries, heavy hitters -----------
    def hist_quantiles(self, column: str, qs_permille: Sequence[int]):
        """Zero-I/O QUANTILE estimates from the catalog's histogram
        extension: per-row-group equi-width bin counts (stored at index
        time, `hist_columns`) fold into one global histogram — an
        O(row_groups · nbins) driver-side integer fold, no executor
        starts — and each requested q (permille) reads off the
        deterministic estimate: target rank r = ceil(q·n/1000), first
        bin whose cumulative count reaches r, then integer
        interpolation within the bin. Every operation is exact integer
        arithmetic, so any engine recomputing the same binning formula
        produces the identical estimate (this is what lets a DuckDB
        oracle pin it). Returns [(q, estimate, n)] or None when any
        row group lacks the histogram or the specs disagree — coverage
        degrades to a scan-side quantile, never wrongness. This is the
        P99-dashboard readout at 100 TB: distribution shape served the
        way COUNT/SUM/VAR already are, from the index alone."""
        self._dv_guard("hist_quantiles")
        hists = self.catalog.get_hists(column)
        if not hists or set(hists) != self._row_groups():
            return None  # a row group without the histogram: no answer
        spec = _hist_spec(hists)
        if spec is None:
            return None
        total = _bin_totals(hists.values(), spec[2])
        n = sum(total)
        if n == 0:
            return None
        self.last_hist_pushdown = {"row_groups": len(hists),
                                   "nbins": spec[2], "n": n}
        return _quantiles(total, spec, qs_permille)

    def hist_quantiles_by(self, group_column: str, column: str,
                          qs_permille: Sequence[int]):
        """Zero-I/O GROUP BY quantiles: {group value: [(q, est, n)]}
        from the histogram store, under the same single-valued-group
        trust rules as sum_rows_by (every row group single-valued on
        the group column — partition columns, perfectly clustered
        layouts) — P99-per-tenant served entirely from the catalog.
        Same deterministic integer estimate as hist_quantiles, folded
        per group; None when any row group fails a trust condition or
        lacks the histogram (scan fallback, never wrongness)."""
        self._dv_guard("hist_quantiles_by")
        groups = self._group_values(group_column)
        if groups is None:
            return None
        hists = self.catalog.get_hists(column)
        per = _grouped(hists, groups) if hists else None
        spec = _hist_spec(hists)
        if per is None or spec is None:
            return None
        totals = {g: _bin_totals(hs, spec[2]) for g, hs in per.items()}
        return {g: _quantiles(total, spec, qs_permille)
                for g, total in totals.items() if sum(total)}

    def ndv_estimate(self, column: str):
        """Zero-I/O approximate COUNT DISTINCT from the catalog's NDV
        extension: per-row-group HyperLogLog registers (stored at index
        time, ``ndv_columns``) merge by elementwise MAX into the
        whole-table registers — an O(row_groups · HLL_REGS) driver-side
        integer fold, no executor starts — and the raw estimator reads
        off the estimate. Because register merging is associative, the
        folded registers EQUAL what one pass over all rows would build,
        so the estimate is a deterministic pure function of the value
        set (a DuckDB oracle recomputing the same hash/bucket/rank
        formula pins the VALUE). Returns the rounded estimate, or None
        when any row group lacks registers (coverage degrades to a
        scan-side distinct, never wrongness). Completes the
        aggregate-statistics family — COUNT/SUM/MIN-MAX/VAR/quantiles/
        NDV all served from the index the way the reference serves
        COUNT from its stats (index.rs:198-205); at 100 TB this is the
        cardinality dashboard that never touches the data, and the
        registers keep merging across partitions, days, or tables."""
        self._dv_guard("ndv_estimate")
        ndvs = self.catalog.get_ndvs(column)
        if not ndvs or set(ndvs) != self._row_groups():
            return None  # a row group without registers: no answer
        est = _fold_ndv_registers(ndvs.values())
        if est is None:
            return None
        self.last_ndv_pushdown = {"row_groups": len(ndvs),
                                  "registers": len(next(iter(ndvs.values())))}
        return est

    def ndv_by(self, group_column: str, column: str):
        """Zero-I/O GROUP BY approximate COUNT DISTINCT: {group value:
        estimate} from the NDV register store, under the same
        single-valued-group trust rules as sum_rows_by / hist_quantiles_by
        (every row group single-valued on the group column — partition
        columns, perfectly clustered layouts). Distinct-users-per-tenant
        served entirely from the catalog; None when any row group fails
        a trust condition or lacks registers (scan fallback, never
        wrongness)."""
        self._dv_guard("ndv_by")
        groups = self._group_values(group_column)
        if groups is None:
            return None
        ndvs = self.catalog.get_ndvs(column)
        per = _grouped(ndvs, groups) if ndvs else None
        if per is None:
            return None
        out = {g: _fold_ndv_registers(regs) for g, regs in per.items()}
        return None if None in out.values() else out

    def group_counts(self, column: str, as_of: Optional[int] = None):
        """Exact zero-I/O ``GROUP BY col, COUNT(*)`` from the catalog's
        dictionary/frequency extension: per-row-group value→count maps
        (stored at index time, ``dict_columns``, for columns whose
        per-row-group cardinality fits the cap) fold by ADDITION into
        the whole-table group counts — an O(row_groups · cap)
        driver-side integer fold, no executor starts. Unlike
        count_rows_by this needs NO layout trust rules (no
        single-valued-group requirement, no partitioning): the maps are
        exact per row group wherever they were recorded, so any flat
        jumbled layout folds exactly. Returns {value: count} over
        NON-NULL values (SQL GROUP BY's null group reads off the base
        null_count stats when the column is also min/max-indexed), or
        None when any row group lacks a dict row (cardinality blew the
        cap there — coverage degrades to a scan-side groupBy, never
        wrongness). as_of: fold only a snapshot()'s files — yesterday's
        label distribution, still zero I/O. At 100 TB this is the
        label/status/language distribution dashboard served from the
        index alone, and the maps keep folding across partitions,
        days, or tables."""
        self._dv_guard("group_counts")
        dicts = self.catalog.get_dicts(column)
        if not dicts:
            return None
        expected = self._row_groups(as_of)
        if not expected or not expected <= set(dicts):
            return None  # a row group over the cap: no exact answer
        out: Dict = {}
        for key in expected:
            for v, c in dicts[key]:
                out[v] = out.get(v, 0) + c
        self.last_dict_pushdown = {"row_groups": len(expected),
                                   "groups": len(out)}
        return out

    def distinct_values(self, column: str, as_of: Optional[int] = None):
        """Exact zero-I/O ``SELECT DISTINCT col`` from the dictionary
        extension: the union of the per-row-group value sets, sorted.
        Same coverage rule as group_counts (every row group must carry
        a dict row); None otherwise — scan fallback, never wrongness."""
        self._dv_guard("distinct_values")
        counts = self.group_counts(column, as_of=as_of)
        if counts is None:
            return None
        return sorted(counts)

    def heavy_hitters(self, column: str, n: int = 5):
        """Whole-table HEAVY HITTERS with deterministic error bounds,
        folded entirely from the catalog's top-k store
        (``topk_columns``): for every value any row group stored,
        lower = Σ of its stored counts, and upper adds, for each row
        group that did NOT store it, min(that group's kth_count,
        rest_rows) — it failed to make the top-k there, so its count
        is bounded by both. Returns the n largest candidates by
        (lower DESC, value ASC) as [(value, lower, upper)], or None
        when any row group lacks a top-k row (coverage degrades to a
        scan-side groupBy, never wrongness). Honesty signal: a value
        stored in NO row group is invisible to the candidate set, and
        its count can still reach Σ min(kth_count, rest_rows) over all
        row groups — that ceiling is exposed as
        ``last_hh_pushdown["unseen_upper"]``. When the n-th candidate's
        LOWER bound clears the ceiling, the returned top-n provably
        contains every true top-n value; when it does not, widen k or
        fall back to a scan. Because the per-row-group
        summaries are exact top-k selections (order-free, unlike
        Misra-Gries whose decrements depend on arrival order), the
        whole answer is a deterministic pure function of the data —
        a DuckDB oracle rebuilding the same per-group summaries
        reproduces every bound exactly. Zero Parquet I/O,
        O(row_groups · k) driver fold; the hot-key/repeat-buyer
        dashboard at 100 TB, with summaries that keep folding across
        partitions, days, or tables."""
        self._dv_guard("heavy_hitters")
        topks = self.catalog.get_topk(column)
        if not topks or set(topks) != self._row_groups():
            return None
        out = _hh_bounds(topks.values())
        self.last_hh_pushdown = {
            "row_groups": len(topks), "candidates": len(out),
            "unseen_upper": sum(min(kth, rest)
                                for _, rest, kth in topks.values())}
        return out[:n]

    def heavy_hitters_by(self, group_column: str, column: str,
                         n: int = 5):
        """Per-group heavy hitters with deterministic bounds: the
        grouped sibling of heavy_hitters, under the same
        single-valued-group trust rules as the other grouped folds
        (sum_rows_by / ndv_by / hist_quantiles_by — every row group
        single-valued on the group column: partition columns, perfectly
        clustered layouts). Returns {group: [(value, lower, upper)]}
        or None on any coverage/trust failure — scan fallback, never
        wrongness. Hot-keys-per-tenant from the index alone."""
        self._dv_guard("heavy_hitters_by")
        groups = self._group_values(group_column)
        if groups is None:
            return None
        topks = self.catalog.get_topk(column)
        per = _grouped(topks, groups) if topks else None
        if per is None:
            return None
        return {g: _hh_bounds(summaries)[:n] for g, summaries in per.items()}
