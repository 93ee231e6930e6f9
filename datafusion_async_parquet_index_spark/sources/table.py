"""IndexedParquetTable: index-driven pruned scans on Spark.

Re-expresses the reference's ``IndexTableProvider``
(``/root/reference/sqlx-sqlite/src/main.rs:195-323``) Spark-first: the
index lookup happens on the driver *before* ``spark.read``, producing a
pruned file list (and row-group sets); Catalyst then plans the actual
scan with its native vectorized Parquet reader, pushed filters, column
pruning and whole-stage codegen.

Query lifecycle (cf. SURVEY §3 / reference main.rs:256-305):

  1. predicate (our Expr AST) --PruningRewriter--> stats-space predicate
  2. plan_scan narrows {file -> [row groups]} through, in order: the
     R-tree window (catalog.get_files' prefilter), the stats SQL
     (catalog.get_files), Bloom probes, dictionary refutation, the
     snapshot filter (as_of) and the page tier (row ranges). Every tier
     reads one predicate analysis (``_literal_constraints`` over
     ``plans.expr.conjuncts``); the encoded tiers (R-tree, Bloom) take
     a literal only under the rewrite's ``_literal_compatible`` rule.
  3a. mode="files"      : ``_scan(surviving_files)`` — the one read of
                          table data files behind every query, DML,
                          snapshot and change-feed surface: fixed-schema
                          spark.read.parquet, minus deletion vectors
  3b. mode="rowgroups"  : Python DataSource partitions = (file, rg list)
  4. .filter(original predicate)  — ALWAYS re-applied: pruning is
     Inexact (reference main.rs:307-316); over-approximation is the core
     semantic invariant.
  5. the decision is recorded in ``last_scan`` (reference
     SimpleExecutionLog, main.rs:426-445) so pruning is testable.

Scale posture: mode="files" is the default at scale — surviving files go
through Spark's native reader (task splitting via maxPartitionBytes,
row-group skipping from pushed filters, codegen), and the only
driver-side cost is one catalog query + building the path list.
mode="rowgroups" gives exact ParquetAccessPlan semantics
(reference index.rs:163-175) via pyarrow, at Python-reader speed — use it
when row groups are huge and footer-stat skipping in the native reader
is insufficient.
"""

from __future__ import annotations

import decimal
import json
import os
from collections import deque
from dataclasses import dataclass, field
from itertools import accumulate
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..plans.expr import (
    COMPARISONS, BinOp, Col, ContainsToken, Expr, InList, Lit, Not, and_all,
    conjuncts,
)
from ..plans.pruning import PruningRewriter, _literal_compatible
from ..session import local_frame
from . import stats as _stats
from .answers import STATS_EXACT_MAX_BYTES, CatalogAnswers
from .catalog import (
    ConcurrentWriteError, SqliteIndexCatalog, _bytes_changed, encode_value,
)
from .layout import write_one_file
from .stats import build_index, list_parquet_files

_INTEGER_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# compact_small_files: a bin of fewer files is left alone, and at most
# this many bins are staged as concurrent Spark jobs
_PACK_MIN_FILES = 2
_PACK_MAX_CONCURRENT_BINS = 8


def _sum_entry(dt, total, nonnull: int, sumsq) -> tuple:
    """One column's (sum, nonnull, sumsq) catalog triple for deleted
    rows: decimal sums as UNSCALED ints (the row_group_sums
    convention), the second moment for integer columns only."""
    if total is None:
        s = 0
    elif isinstance(dt, T.DecimalType):
        s = int(decimal.Decimal(total).scaleb(dt.scale))
    else:
        s = int(total)
    integer = sumsq is not None and isinstance(dt, _INTEGER_TYPES)
    return s, nonnull, int(sumsq) if integer else None


def _compact_tmp_path(path: str) -> str:
    """Dot-prefixed staging name for a compaction rewrite: Spark's
    directory listings ignore dotfiles, so a crash mid-compact can
    never leak a partial rewrite into partitioned to_df()/sql()
    scans."""
    return os.path.join(os.path.dirname(path),
                        "." + os.path.basename(path) + ".compact.tmp")


def _compact_rewrite_file(item):
    """Rewrite half of ``compact_deletes``' per-file unit
    (``_compact_file``): rewrite ONE DV'd file's live rows into a
    dot-prefixed staging file next to it.
    ``item`` is ``(path, [(start, length), ...])`` with file-scoped
    deleted ranges. Returns the staging path, or None when every row
    is deleted (the file should disappear entirely).

    The keep mask is ``anti_filter_positions`` — one vectorized numpy
    binary search over the range-compressed DV per row group, never a
    per-row Python loop or an exploded position set — the identical
    filter the DV read path runs (sources/rowgroup_source.py).
    Rewrites are per-row-group, preserving the original row-group
    partitioning (minus the holes) so pruning granularity survives
    compaction. Idempotent: the staging file is truncated on open, and
    nothing here touches the original bytes or the catalog."""
    import pyarrow.parquet as pq

    from .rowgroup_source import anti_filter_positions

    path, ranges = item
    pf = pq.ParquetFile(path)
    md = pf.metadata
    tmp = _compact_tmp_path(path)
    writer = None
    try:
        for rg in range(md.num_row_groups):
            live = anti_filter_positions(
                pf.read_row_group(rg), [rg], md, ranges)
            if not live.num_rows:
                continue
            if writer is None:
                # write_page_index: parquet-mr (every Spark-landed
                # file) emits the ColumnIndex by default, pyarrow does
                # not — without the flag a compaction would silently
                # strip the page-index pruning tier off rewritten files
                writer = pq.ParquetWriter(tmp, live.schema,
                                          write_page_index=True)
            writer.write_table(live, row_group_size=live.num_rows)
        if writer is not None:
            writer.close()   # idempotent; footer written here
    except BaseException:
        if writer is not None:
            writer.close()
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return tmp if writer is not None else None


def _compact_file(item, plan):
    """``compact_deletes``' per-file unit, fanned out by build_index's
    rule (``stats._fan_out``): rewrite the file's live rows, then
    extract the staged rewrite's index entry under the file's final
    catalog key with build_index's own ``plan``. ``item`` is
    ``(path, ranges, catalog key, partition values)``.
    Returns ``(staging path, upsert_files entry)``, both None when
    every row is deleted. The entry stays exact across the swap:
    ``os.replace`` keeps the staged inode's size and mtime."""
    path, ranges, key, partition_stats = item
    tmp = _compact_rewrite_file((path, ranges))
    if tmp is None:
        return None, None
    return tmp, _stats._extract_file((tmp, key, partition_stats), plan)


class DVCapExceeded(ValueError):
    """A delete/update matched more rows than DV_MAX_DELETED_PER_CALL.
    Raised BEFORE any deletion vector commits, so callers holding a
    landed-but-unindexed batch (merge_upsert, update_where) may safely
    remove it. Subclasses ValueError for callers matching the old
    contract — but cleanup code must catch THIS type, never bare
    ValueError: pyarrow's ArrowInvalid also subclasses ValueError and
    can surface from the per-file commit loop AFTER earlier files'
    vectors committed, where removing the landed batch would lose
    rows."""


def _intersect_ranges(
    a: List[Tuple[int, int]], b: List[Tuple[int, int]]
) -> List[Tuple[int, int]]:
    """Intersection of two sorted disjoint half-open range lists —
    the cross-column combine of the page-index tier (page boundaries
    differ per column, so per-column keep spans only compose by
    intersection)."""
    out: List[Tuple[int, int]] = []
    i = j = 0
    while i < len(a) and j < len(b):
        s = max(a[i][0], b[j][0])
        e = min(a[i][1], b[j][1])
        if s < e:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def _literal_constraints(predicate: Expr):
    """The planner's one predicate analysis: ``(column, op, values)``
    per top-level AND conjunct of a literal shape — ``col op lit`` and
    ``lit op col`` (flipped) for the six comparisons, ``col IN (lits)``
    ("IN"), ``NOT (col IN (lits))`` ("NOT IN"), ``NOT (col = lit)``
    ("!=", equal under SQL ternary logic) and ``contains_token(col, w)``
    ("TOKEN"). Other conjuncts yield nothing. Each refinement tier reads
    the ops it can refute, so an unread shape only keeps row groups."""
    for c in conjuncts(predicate):
        negated = isinstance(c, Not)
        if negated:
            c = c.child
        if isinstance(c, InList):
            if (isinstance(c.child, Col)
                    and all(isinstance(v, Lit) for v in c.values)):
                yield (c.child.name, "NOT IN" if negated else "IN",
                       [v.value for v in c.values])
        elif (isinstance(c, BinOp) and c.op in COMPARISONS
              and (c.op == "=" or not negated)):
            if isinstance(c.left, Lit) and isinstance(c.right, Col):
                c = c.flipped()
            if isinstance(c.left, Col) and isinstance(c.right, Lit):
                yield (c.left.name, "!=" if negated else c.op,
                       [c.right.value])
        elif (isinstance(c, ContainsToken) and not negated
              and isinstance(c.child, Col)):
            yield c.child.name, "TOKEN", [c.token]


def _encode_literals(category: Optional[str], values: list):
    """``values`` in the catalog's encoded form, or None when any fails
    ``plans/pruning._literal_compatible`` — the rule the stats rewrite
    applies, so the encoded tiers (R-tree window, Bloom probes) prune on
    exactly the literals the stats SQL would."""
    if not all(_literal_compatible(category, v) for v in values):
        return None
    return [encode_value(category, v) for v in values]


def _narrow(survivors: Dict[str, List[int]], keep) -> int:
    """Drop every row group for which ``keep(file, rg)`` is false, and
    every file left without one, in place. Returns #row groups
    removed."""
    removed = 0
    for fname in list(survivors):
        rgs = survivors[fname]
        kept = [rg for rg in rgs if keep(fname, rg)]
        removed += len(rgs) - len(kept)
        if kept:
            survivors[fname] = kept
        else:
            del survivors[fname]
    return removed


def with_commit_retries(fn, max_attempts: int = 5,
                        base_delay_s: float = 0.05,
                        max_delay_s: float = 2.0,
                        rng=None, on_retry=None):
    """Retry loop around a DML verb for optimistic-concurrency
    refusals (VERDICT r11 ask #6): call ``fn`` (a zero-arg callable
    performing ONE verb invocation, e.g. ``lambda: t.append(batch)``)
    and, on ``ConcurrentWriteError``, sleep a jittered exponential
    backoff and call it again — each attempt re-reads the catalog
    version and re-plans from the NEW table state, so a retried verb
    sees the concurrent writer's committed work (the Delta
    retry-on-conflict idiom). Returns ``fn``'s result. Any other
    exception (DVCapExceeded, schema refusals, I/O errors) propagates
    immediately — only the version conflict is retryable by
    construction, because the refusing verb is guaranteed to have
    mutated nothing.

    ``max_attempts`` counts total calls (>= 1). Backoff for attempt k
    is ``uniform(0, min(max_delay_s, base_delay_s * 2**k))`` — full
    jitter, the decorrelated shape that avoids N retriers re-colliding
    in lockstep. ``rng`` (a ``random.Random``) and ``on_retry(attempt,
    exc)`` are test seams."""
    import random
    import time

    if max_attempts < 1:
        raise ValueError(f"max_attempts must be >= 1, got {max_attempts}")
    rng = rng or random.Random()
    for attempt in range(1, max_attempts + 1):
        try:
            return fn()
        except ConcurrentWriteError as exc:
            if attempt == max_attempts:
                raise
            if on_retry is not None:
                on_retry(attempt, exc)
            time.sleep(rng.uniform(
                0.0, min(max_delay_s, base_delay_s * (2 ** attempt))))


@dataclass
class ScanDecision:
    """The pruning decision for one query — first-class, testable output
    (reference main.rs:426-445 SimpleExecutionLog + README golden traces)."""

    predicate: str
    files_scanned: Dict[str, List[int]]   # file -> row groups to scan
    total_files: int
    total_row_groups: int
    bloom_skipped: int = 0                # row groups removed by blooms
    dict_skipped: int = 0                 # row groups removed by dicts
    # page-index tier: file -> {row group: [(start, end), ...]} KEEP
    # ranges (row-group-scoped, half-open); a (file, rg) absent here
    # keeps all its rows. Served by mode="rowgroups" scans.
    row_ranges: Dict[str, Dict[int, List[Tuple[int, int]]]] = field(
        default_factory=dict)
    page_rows_skipped: int = 0            # rows proven non-matching

    @property
    def file_names(self) -> List[str]:
        return sorted(self.files_scanned)

    @property
    def row_groups_scanned(self) -> int:
        return sum(len(v) for v in self.files_scanned.values())

    def describe(self) -> str:
        """Human-readable trace like the reference README ("Files scanned:
        ... row_groups: Scan/Skip", sqlx-sqlite/README.md:38-70)."""
        lines = [f"Predicate: {self.predicate}",
                 f"Files scanned: {self.file_names} "
                 f"({len(self.files_scanned)}/{self.total_files} files, "
                 f"{self.row_groups_scanned}/{self.total_row_groups} row groups)"]
        for f, rgs in sorted(self.files_scanned.items()):
            lines.append(f"  {f}: row_groups={rgs}")
        if self.bloom_skipped:
            lines.append(f"  bloom filters skipped {self.bloom_skipped} "
                         "additional row groups")
        if self.dict_skipped:
            lines.append(f"  dictionary stats skipped {self.dict_skipped} "
                         "additional row groups")
        if self.page_rows_skipped:
            lines.append(f"  page index skipped {self.page_rows_skipped} "
                         "rows inside surviving row groups")
        return "\n".join(lines)


class IndexedParquetTable(CatalogAnswers):
    """A directory of Parquet files exposed as one queryable table with an
    external statistics index."""

    # Defaults of the table's options (build_index's own defaults) and
    # caches. Partial tables assembled through ``__new__`` (the query
    # memo, the catalog scale probe) set only what they use and read
    # these for the rest. All immutable: instances rebind, never mutate.
    partitioned = False
    merge_schema = False
    bloom_columns: Tuple[str, ...] = ()
    token_bloom_columns: Tuple[str, ...] = ()
    sum_columns: Tuple[str, ...] = ()
    nan_count_columns: Tuple[str, ...] = ()
    hist_columns: Optional[Dict[str, Tuple[int, int, int]]] = None
    ndv_columns: Tuple[str, ...] = ()
    dict_columns: Tuple[str, ...] = ()
    dict_max_values = _stats.DICT_MAX_VALUES
    topk_columns: Tuple[str, ...] = ()
    topk_k = _stats.TOPK_K
    page_index_columns: Tuple[str, ...] = ()
    stats_exact_max_bytes = STATS_EXACT_MAX_BYTES
    _index_columns: Sequence[str] = ()
    _partition_cols: frozenset = frozenset()
    _registered_views: frozenset = frozenset()
    _dv_cache: Optional[Dict[str, List[Tuple[int, int]]]] = None
    _dv_pos_memo: Optional[tuple] = None       # (content key, frame)
    _nan_free_cache: Optional[Dict[str, bool]] = None

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        index_columns: Sequence[str],
        catalog: Optional[SqliteIndexCatalog] = None,
        name: Optional[str] = None,
        bloom_columns: Optional[Sequence[str]] = None,
        partitioned: Optional[bool] = None,
        token_bloom_columns: Optional[Sequence[str]] = None,
        sum_columns: Optional[Sequence[str]] = None,
        nan_count_columns: Optional[Sequence[str]] = None,
        stats_exact_max_bytes: int = STATS_EXACT_MAX_BYTES,
        merge_schema: bool = False,
        hist_columns: Optional[Dict[str, Tuple[int, int, int]]] = None,
        ndv_columns: Optional[Sequence[str]] = None,
        dict_columns: Optional[Sequence[str]] = None,
        dict_max_values: Optional[int] = None,
        topk_columns: Optional[Sequence[str]] = None,
        topk_k: Optional[int] = None,
        rtree_columns: Optional[Sequence[str]] = None,
        incremental_attach: bool = False,
        page_index_columns: Optional[Sequence[str]] = None,
    ):
        """partitioned: True for a hive-style ``key=value`` directory
        layout; None auto-detects (no flat *.parquet but partition dirs
        present). Partition columns index for free — each file's
        partition value is a degenerate min = max statistic, so the
        SAME refutation-sound rewrite that prunes on footer stats
        prunes on partitions, and a mixed predicate (partition AND
        data column) narrows through both in one catalog query.

        nan_count_columns: float columns whose per-row-group NaN count
        is computed from the column pages at index time (footers carry
        none, and footer min/max EXCLUDE NaN while Spark/DuckDB order
        NaN above every value). A recorded count re-arms the float
        refutation rules for > / >= / != and lets catalog-only answers
        trust float bounds; columns not listed stay sound but
        conservative (those predicates scan).

        stats_exact_max_bytes: string/binary bounds at or beyond this
        byte length are treated as possibly-truncated (never trusted as
        attained values by catalog-only answers). The 64-byte default
        matches parquet-rs and parquet-mr's default truncation length,
        but parquet-mr's ``parquet.columnindex.truncate.length`` is
        CONFIGURABLE — lower this to match any externally produced
        files written with a smaller truncation threshold."""
        self.spark = spark
        self.data_dir = data_dir
        # rtree_columns: numeric columns whose [min, max] intervals,
        # one per gap-free run of a file's row groups, also enter a
        # SQLite R-tree, turning planning's
        # stats-table scan into an O(log n) interval stab (see
        # catalog.get_files prefilter). Only meaningful for the default
        # SQLite catalog; an injected catalog brings its own setting.
        self.catalog = catalog or SqliteIndexCatalog(
            rtree_columns=rtree_columns or ())
        self.name = name or os.path.basename(data_dir.rstrip("/"))
        # heal any compaction that crashed between its byte swap and
        # its catalog evict BEFORE the initial (size-short-circuited)
        # build can trust a stale entry
        self._recover_compaction_markers()
        flat = list_parquet_files(data_dir)
        if partitioned is None:
            partitioned = not flat and any(
                "=" in os.path.relpath(p, data_dir)
                for p in list_parquet_files(data_dir, recursive=True))
        self.partitioned = partitioned
        self._files = (list_parquet_files(data_dir, recursive=True)
                       if partitioned else flat)
        self.bloom_columns = tuple(bloom_columns or ())
        self.token_bloom_columns = tuple(token_bloom_columns or ())
        self.sum_columns = tuple(sum_columns or ())
        self.nan_count_columns = tuple(nan_count_columns or ())
        self.stats_exact_max_bytes = stats_exact_max_bytes
        self.merge_schema = merge_schema
        self.hist_columns = dict(hist_columns or {})
        self.ndv_columns = tuple(ndv_columns or ())
        self.dict_columns = tuple(dict_columns or ())
        if dict_max_values is not None:
            self.dict_max_values = dict_max_values
        self.topk_columns = tuple(topk_columns or ())
        if topk_k is not None:
            self.topk_k = topk_k
        # page-index tier (round 12): columns whose Parquet ColumnIndex
        # is persisted per page so point/range predicates can prune ROW
        # RANGES inside surviving row groups (the reference's named-
        # but-unimplemented third tier, sqlx-sqlite/src/main.rs:73-79).
        # Opt-in: page rows are O(pages) catalog growth, and only files
        # WRITTEN with a page index (write_page_index=True; parquet-mr
        # writes one by default) contribute — files without one simply
        # keep row-group granularity.
        self.page_index_columns = tuple(page_index_columns or ())
        # the REQUESTED columns, kept verbatim: over an empty directory
        # build_index derives an empty schema, and refresh() must still
        # know what to index once the first files appear
        self._index_columns = list(index_columns)
        # schema inferred from data ("assume all files share it",
        # reference main.rs:228-237); with basePath Spark surfaces the
        # partition columns, typed by ITS partition inference — the
        # index stores partition values in that same typed domain, so
        # catalog pruning and the residual filter agree by construction
        self._schema = self._infer_schema()
        # incremental_attach: re-attaching to a PERSISTED catalog (the
        # CLI's file-backed --catalog, a reopened SQLite path) — the
        # initial build uses the same size short-circuit as refresh(),
        # so attaching to a 200k-file table re-reads no unchanged
        # footers; end state is identical to a full build PROVIDED the
        # stats options (sum/dict/topk/bloom columns...) match the ones
        # the catalog was built with — refresh() shares exactly this
        # contract; rebuild with incremental_attach=False to change
        # options.
        self.index_schema = self._build_index(
            index_columns, incremental=bool(incremental_attach))
        self._rewriter = PruningRewriter(self.index_schema)
        self._reset_scan_log()

    # the execution log keeps the most recent decisions only, so a
    # long-lived handle's memory stays flat however many plans it makes
    SCAN_HISTORY_CAP = 64

    def _reset_scan_log(self) -> None:
        """Empty ``last_scan`` and the bounded ``scan_history``; also the
        one initialisation of the log for partial tables."""
        self.last_scan: Optional[ScanDecision] = None
        self.scan_history: deque[ScanDecision] = deque(
            maxlen=self.SCAN_HISTORY_CAP)

    # the table attributes that are build_index options of the same name
    _INDEX_OPTIONS = (
        "bloom_columns", "token_bloom_columns", "sum_columns",
        "nan_count_columns", "hist_columns", "ndv_columns", "dict_columns",
        "dict_max_values", "topk_columns", "topk_k", "page_index_columns")

    def _build_index(self, index_columns, incremental: bool):
        """The one build_index call of a table (constructor, refresh()
        and queries' memoized tables). Options come from the table's
        attributes; a partial table gets the class defaults, which are
        build_index's."""
        opts = {k: getattr(self, k) for k in self._INDEX_OPTIONS}
        return build_index(self.catalog, self._files, index_columns,
                           spark=self.spark, incremental=incremental,
                           **opts, **self._partition_index_kwargs())

    def _infer_schema(self):
        if not self._files:
            return None
        if self.partitioned:
            # whole-layout inference, not first-file: a single file
            # cannot type the partition columns correctly — a
            # __HIVE_DEFAULT_PARTITION__ dir sorted first would infer
            # NullType for its partition column and poison every
            # subsequent fixed-schema read; partition value types must
            # union across directories (Spark's own partition
            # discovery, a listing + sampled footers — no data read)
            return self.spark.read.parquet(self.data_dir).schema
        if self.merge_schema and len(self._files) > 1:
            # Schema-evolved flat layout: the first file may PREDATE a
            # column. mergeSchema unions every footer's schema (a
            # distributed footer-only pass — no data read), so queries
            # on late-added columns see them, and pre-evolution files
            # read as NULL. Opt-in: single-schema tables (the common
            # case, and the reference's stated assumption,
            # main.rs:228-237) skip the extra footer pass.
            return (self.spark.read.option("mergeSchema", "true")
                    .parquet(*self._files).schema)
        return self.spark.read.parquet(self._files[0]).schema

    def _partition_index_kwargs(self) -> dict:
        """rel_to + partition schema/values kwargs for build_index (empty
        for flat layouts). Partition-column categories come from the
        Spark-inferred schema so both sides share one typed domain."""
        if not self.partitioned or not self._files:
            return {}
        from .stats import partition_values_raw, typed_partition_values

        raw_by_file = {p: partition_values_raw(self.data_dir, p)
                       for p in self._files}
        self._partition_cols = frozenset(
            c for r in raw_by_file.values() for c in r)
        cats = self._partition_categories()
        return {
            "rel_to": self.data_dir,
            "partition_schema": cats,
            "partition_values": {
                p: typed_partition_values(raw, cats)
                for p, raw in raw_by_file.items()},
        }

    _PARTITION_CATEGORIES = {
        T.ByteType: "int", T.ShortType: "int", T.IntegerType: "int",
        T.LongType: "int", T.FloatType: "float", T.DoubleType: "float",
        T.StringType: "string", T.DateType: "date",
    }

    def _partition_categories(self) -> Dict[str, str]:
        """{partition column: type-category} of the last index build's
        partition columns, typed from the Spark-inferred schema."""
        fields = self._schema.fields if self._schema else ()
        return {f.name: cat for f in fields
                if f.name in self._partition_cols
                and (cat := self._PARTITION_CATEGORIES.get(
                    type(f.dataType))) is not None}

    def _file_key(self, path: str) -> str:
        """Catalog key for a file: dir-relative for partitioned layouts
        (basenames repeat across partition dirs), basename otherwise."""
        return (os.path.relpath(path, self.data_dir)
                if self.partitioned
                else os.path.basename(path))

    # -- optimistic concurrency (round 11) -----------------------------
    # Test/tooling hook: called with the verb name immediately before
    # the commit-version CAS — lets a test interleave a second writer
    # deterministically between a verb's planning and its commit.
    _pre_commit_hook = None

    def _dml_begin(self) -> int:
        """Catalog version at the moment a DML verb starts planning.
        Catalogs without the version extension (a user-supplied
        custom backend) opt out: every verb then commits ungated,
        the pre-round-11 single-writer contract."""
        ver = getattr(self.catalog, "version", None)
        return ver() if callable(ver) else -1

    def _dml_commit(self, v0: int, verb: str) -> None:
        """The commit-version CAS every DML verb runs BEFORE its first
        catalog/file mutation: advance v0 -> v0 + 1 iff the catalog is
        still at v0, else raise ConcurrentWriteError LOUDLY with
        nothing mutated (Delta's optimistic-concurrency contract —
        the second committer refuses; the table state stays the first
        writer's). Verbs run this inside ``_dml_mutation_scope`` so
        the CAS AND the mutation phase behind it share the catalog's
        writer lease — see that method for the full contract."""
        if self._pre_commit_hook is not None:
            self._pre_commit_hook(verb)
        if v0 >= 0:
            self.catalog.commit_version(v0, verb)

    def _dml_mutation_scope(self, v0: int, verb: str):
        """Context manager uniting a verb's commit CAS with its
        mutation phase under the catalog's writer lease (ADVICE r11,
        medium): entering runs the CAS (refusing LOUDLY, nothing
        mutated, if the catalog moved since ``v0``); the body then
        applies the verb's catalog mutations while the lease is still
        held, so an in-process concurrent writer cannot CAS its own
        commit and mutate (e.g. optimize() evicting the very files a
        delete is attaching deletion vectors to) until this verb's
        committed work is fully applied. The lease is reentrant —
        the deterministic same-thread ``_pre_commit_hook`` interleave
        and nested verbs (merge's delete half) behave exactly as
        before. Catalogs without the lease extension (user-supplied
        backends) degrade to the bare CAS-then-mutate protocol, whose
        residual post-CAS window is documented on
        ``SqliteIndexCatalog.mutation_lease`` along with the
        cross-process posture (single writer process, or
        ``with_commit_retries`` + post-hoc verify)."""
        import contextlib

        @contextlib.contextmanager
        def cm():
            lease = getattr(self.catalog, "mutation_lease", None)
            if callable(lease):
                with lease():
                    self._dml_commit(v0, verb)
                    yield
            else:
                self._dml_commit(v0, verb)
                yield
        return cm()

    # -- maintenance (EP2) --------------------------------------------
    def refresh(self, full: bool = False) -> None:
        """Re-list the directory and (re-)index ONLY new or changed
        files; stats for deleted files are dropped. Idempotent per file —
        the catalog upsert replaces stale stats — and O(changed files) in
        the steady state (size-match short-circuit).

        ``full=True`` re-extracts EVERY file (footer-only pass,
        distributed above the threshold; unchanged files keep their
        deletion vectors via content-judged retention). Needed exactly
        when the INDEX SCHEMA gains a column existing stats rows
        predate — a schema-evolving append must backfill PROVEN
        all-null stats for pre-evolution files or predicates on the
        new column cannot prune them."""
        self._recover_compaction_markers()
        self._files = list_parquet_files(
            self.data_dir, recursive=self.partitioned)
        if self._schema is None and self._files:
            # table was constructed over an empty directory; first files
            # just appeared — infer the schema now
            self._schema = self._infer_schema()
        requested = self._index_columns or list(self.index_schema)
        new_schema = self._build_index(requested, incremental=not full)
        self._nan_free_cache = None
        # a changed file's upsert cleared its deletion vector; removed
        # files dropped theirs — re-read DV state lazily
        self._dv_cache = None
        if new_schema != self.index_schema:
            # first files after empty-dir construction (or a schema
            # evolution): adopt the derived schema and rebuild the
            # rewriter so the requested columns actually prune
            self.index_schema = new_schema
            self._rewriter = PruningRewriter(self.index_schema)

    # -- snapshots (time travel) ----------------------------------------
    def snapshot(self) -> int:
        """Freeze the current indexed file set as a numbered snapshot
        (pure catalog metadata — name + size per file). Later reads
        with ``query(..., as_of=id)`` see exactly the files indexed
        NOW: arrivals indexed by subsequent refresh() calls are
        excluded from the as-of plan, and a snapshot that can no
        longer be reconstructed (a recorded file rewritten or deleted
        since) raises instead of silently answering differently —
        Delta's after-VACUUM time-travel contract. Under the
        immutable-file lakehouse convention (writers add and remove
        whole files, never mutate them) every snapshot of live files
        stays serveable forever at O(files) metadata per snapshot.
        Change detection is CONTENT-aware: the manifest records the
        catalog's (size, mtime_ns, footer_md5) per file and
        reconstruction checks compare with the same size → footer_md5
        → mtime_ns precedence upsert_file's DV retention uses — a
        same-size rewrite (different footer bytes) refuses loudly
        instead of serving the recorded deletion vectors against a
        new row layout, while an identical-content replace (fresh
        mtime, same bytes) keeps serving."""
        return self.catalog.create_snapshot()

    # snapshot reconstruction judges a recorded identity against the
    # live catalog's with the catalog's own DV-retention rule
    _identity_changed = staticmethod(_bytes_changed)

    def _snapshot_guard(self, as_of: int) -> Dict[str, int]:
        """The snapshot's {file: size}, after verifying every recorded
        file is still indexed with UNCHANGED CONTENT — raises otherwise
        (loud failure, never a silently different answer). The
        comparison is manifest-vs-live-catalog identity
        (size → footer_md5 → mtime_ns), so a same-size rewrite that a
        refresh() re-indexed since the snapshot refuses here instead of
        anti-filtering the new layout's bytes with the snapshot's
        recorded deletion-vector positions."""
        snap = self.catalog.snapshot_manifest(as_of)
        current = self.catalog.file_identity()
        broken = sorted(n for n, ident in snap.items()
                        if self._identity_changed(ident, current.get(n)))
        if broken:
            raise ValueError(
                f"snapshot {as_of} is no longer reconstructable: "
                f"{broken} changed or vanished since it was taken")
        # row-level deletes change results without changing any file
        # size — but the snapshot COPIED the DV state, so as-of reads
        # serve with the recorded vectors (time travel stays exact
        # under DML; no refusal needed). The file-set check above still
        # guards the bytes the positions refer to.
        return {n: ident[0] for n, ident in snap.items()}

    def expire_snapshots(self, keep_last: int) -> List[int]:
        """RETENTION — drop all but the newest ``keep_last`` snapshots
        (Delta's log retention / Iceberg's expire_snapshots): the
        expired manifests and their copied DV state are deleted from
        the catalog — O(expired × files) tiny rows, zero data I/O —
        and every later as-of read / restore / change-feed against an
        expired id raises KeyError (the loud-failure contract; ids are
        never reused, so an expired id can never silently alias a
        newer era). Live reads and the kept snapshots are untouched.
        At 100 TB this is what bounds catalog growth: snapshots are
        O(files) metadata each, so a retention policy is metadata
        deletion, never a data rewrite. Returns the expired ids.

        ``keep_last=0`` (or negative) is a FULL PURGE — every
        snapshot expires and no as-of read survives. Deliberate at
        the library level (retention pipelines that re-snapshot right
        after); the CLI refuses ``--keep <= 0`` so the footgun needs
        code, not a typo, to fire."""
        with self._dml_mutation_scope(self._dml_begin(), "expire"):
            return self.catalog.expire_snapshots(keep_last)

    def _snapshot_filter(
        self, as_of: int, survivors: Dict[str, List[int]]
    ) -> Dict[str, List[int]]:
        snap = self._snapshot_guard(as_of)
        return {n: rgs for n, rgs in survivors.items() if n in snap}

    def snapshot_delta(self, base: int,
                       target: Optional[int] = None) -> Dict[str, list]:
        """What changed between two snapshots (or base → now):
        {"added": [...], "removed": [...], "changed": [...]} file
        names, O(files) metadata — the incremental-read manifest of a
        Delta/Iceberg-style `readChangeFeed`, derived purely from the
        catalog. "changed" is content-judged (size → footer_md5 →
        mtime_ns identity), so a same-size in-place rewrite between the
        eras is classified as changed — read_delta then refuses it —
        instead of passing as identical."""
        base_files = self.catalog.snapshot_manifest(base)
        tgt = (self.catalog.snapshot_manifest(target)
               if target is not None else self.catalog.file_identity())
        return {
            "added": sorted(n for n in tgt if n not in base_files),
            "removed": sorted(n for n in base_files if n not in tgt),
            "changed": sorted(n for n in tgt
                              if n in base_files and self._identity_changed(
                                  base_files[n], tgt[n])),
        }

    def read_delta(self, base: int, target: Optional[int] = None,
                   columns: Optional[Sequence[str]] = None) -> DataFrame:
        """Rows ADDED between snapshot ``base`` and snapshot ``target``
        (or now): read exactly the files the delta manifest lists — the
        incremental-processing primitive (process only what arrived
        since the last run) without a streaming runtime. Raises if any
        common file changed in place (the immutable-file convention the
        size-based refresh also assumes); removed files need no read.
        At 100 TB this is how nightly jobs stay O(arrivals): the
        manifest is catalog metadata, the scan touches only new
        files."""
        delta = self.snapshot_delta(base, target)
        if delta["changed"]:
            raise ValueError(
                f"files changed in place between snapshots: "
                f"{delta['changed']} — the append-only delta read "
                f"cannot represent rewrites")
        if target is not None and delta["added"]:
            # explicit historical target: the added files are read from
            # DISK NOW, so each must still be indexed with the CONTENT
            # the target snapshot recorded (size → footer_md5 →
            # mtime_ns identity) — otherwise a later in-place rewrite
            # would silently serve rows that were never the
            # base→target delta (the snapshot manifests alone cannot
            # see it: the file is identical across base-vs-target)
            tgt = self.catalog.snapshot_manifest(target)
            current = self.catalog.file_identity()
            broken = sorted(n for n in delta["added"]
                            if self._identity_changed(tgt[n],
                                                      current.get(n)))
            if broken:
                raise ValueError(
                    f"delta of snapshots {base}->{target} is no longer "
                    f"reconstructable: added files {broken} changed or "
                    f"vanished since snapshot {target} was taken")
        df = self._scan(delta["added"], as_of=target)
        if columns:
            df = df.select(*columns)
        return df

    # -- planning ------------------------------------------------------
    def plan_scan(self, predicate: Optional[Expr],
                  as_of: Optional[int] = None) -> ScanDecision:
        """Steps 1-2: compile the predicate to stats space and consult the
        catalog. Does not touch Parquet. as_of: restrict the plan to a
        snapshot's file set (see snapshot())."""
        if predicate is None:
            # catalog-driven file list: a file dropped into the directory
            # after construction is invisible (to BOTH the predicate and
            # the full-scan path — consistent) until refresh() indexes it
            indexed = {f[0]: f[2] for f in self.catalog.all_files()}
            files = {name: list(range(indexed[name]))
                     for p in self._files
                     if (name := self._file_key(p)) in indexed}
            if as_of is not None:
                files = self._snapshot_filter(as_of, files)
            decision = ScanDecision("TRUE", files, len(self._files),
                                    sum(indexed.values()))
        else:
            survivors = dict(self.catalog.get_files(
                self._rewriter.rewrite(predicate),
                prefilter=self._rtree_window(predicate)))
            skipped = self._bloom_refine(predicate, survivors)
            dict_skipped = self._dict_refine(predicate, survivors)
            if as_of is not None:
                survivors = self._snapshot_filter(as_of, survivors)
            row_ranges, page_rows = self._page_refine(predicate, survivors)
            decision = ScanDecision(
                predicate.to_sql(), survivors, len(self._files),
                self.catalog.totals()[1],
                bloom_skipped=skipped, dict_skipped=dict_skipped,
                row_ranges=row_ranges, page_rows_skipped=page_rows)
        self.last_scan = decision
        self.scan_history.append(decision)
        return decision

    def _bloom_refine(
        self, predicate: Expr, survivors: Dict[str, List[int]]
    ) -> int:
        """Drop candidate row groups whose Bloom filter proves an
        ``=`` / ``IN`` / ``contains_token`` conjunct cannot match
        (sources/bloom.py). Literals are probed only when the shared
        literal rule (``_encode_literals``) accepts them; everything else
        is untouched — false positives scan extra, absence of a filter
        row scans, so the over-approximation invariant holds. Each
        column's filters are fetched once per plan. Returns #row groups
        removed."""
        bloom_cols = self.bloom_columns
        token_cols = self.token_bloom_columns
        if not (bloom_cols or token_cols) or not survivors:
            return 0
        from .bloom import bloom_contains, canonical_bytes
        from .stats import TOKEN_BLOOM_SUFFIX

        blooms: Dict[str, Dict] = {}
        probes: List[tuple] = []  # (column's filters, [canonical bytes])
        for column, op, values in _literal_constraints(predicate):
            if op == "TOKEN" and column in token_cols:
                # token semantics: a row group whose token bloom lacks
                # the word cannot contain it as a token — sound refute
                column, cat = column + TOKEN_BLOOM_SUFFIX, "string"
            elif op in ("=", "IN") and column in bloom_cols:
                cat = self.index_schema.get(column)
            else:
                continue
            encoded = _encode_literals(cat, values)
            canons = [canonical_bytes(cat, v) for v in encoded or ()]
            if encoded is None or None in canons:
                continue  # un-bloomable literal (type mismatch): stay sound
            if column not in blooms:
                blooms[column] = self.catalog.get_blooms(column)
            probes.append((blooms[column], canons))

        def keep(fname, rg):
            for filters, canons in probes:
                blo = filters.get((fname, rg))
                if blo is not None and not any(
                        bloom_contains(blo[2], blo[0], blo[1], cb)
                        for cb in canons):
                    return False
            return True

        return _narrow(survivors, keep) if probes else 0

    _RTREE_MAX_STABS = 16  # IN-lists beyond this fall back to the envelope

    def _rtree_window(self, predicate: Expr):
        """(column, [(lo, hi), ...]) in the encoded numeric domain for
        the catalog's rtree prefilter (sources/catalog.py get_files),
        or None. Read from the comparison / IN constraints of
        ``_literal_constraints`` on an rtree-active column, encoded only
        when the shared literal rule accepts them; every other shape
        (OR arms, arithmetic, negations, literals the rule refuses)
        contributes nothing — the windows may only be WIDER than the
        predicate's true support, never narrower, because the exact
        stats SQL still evaluates over the candidates. The windows come
        from ONE conjunct group (the first IN-list if present — one
        point stab per literal, k indexed stabs beat one domain-spanning
        envelope by orders of magnitude — else the closed comparison
        envelope). A single group is a SUPERSET of the stats SQL's
        candidate set because the window uses only literals the
        rewriter also compiles, so plan decisions stay byte-identical
        to the plain catalog (fuzz-pinned); combining groups by
        intersection could legally prune more but would break that
        identity. CLOSED envelopes only: an open side (pure > / <) can
        cover most of the domain, where the candidate join costs more
        than the plain scan it replaces."""
        active = getattr(self.catalog, "_rtree_active", ())
        if not active:
            return None
        envelope: Dict[str, list] = {}   # col -> [lo, hi]
        points: Dict[str, list] = {}     # col -> FIRST IN conjunct's lits
        for column, op, values in _literal_constraints(predicate):
            if (column not in active or not values
                    or op not in ("=", "<", "<=", ">", ">=", "IN")):
                continue
            encoded = _encode_literals(self.index_schema.get(column), values)
            if encoded is None or not all(isinstance(v, (int, float))
                                          for v in encoded):
                continue
            if op == "IN":
                points.setdefault(column, sorted(set(encoded)))
                continue
            v = encoded[0]
            w = envelope.setdefault(column, [None, None])
            if op in ("=", ">", ">="):
                w[0] = v if w[0] is None else max(w[0], v)
            if op in ("=", "<", "<="):
                w[1] = v if w[1] is None else min(w[1], v)
        for name in active:  # deterministic pick: catalog's own order
            pts = points.get(name)
            if pts is not None:
                if len(pts) <= self._RTREE_MAX_STABS:
                    return (name, [(p, p) for p in pts])
                return (name, [(pts[0], pts[-1])])
            lo, hi = envelope.get(name, (None, None))
            if lo is not None and hi is not None:
                return (name, [(lo, hi)])
        return None

    # categories whose page-index bounds decode losslessly into the
    # catalog's encoded comparison domain (ints / utf-8 strings; date
    # and timestamp encode to their parquet physical ints). Floats are
    # deliberately absent — NaN handling in the column index has no
    # page-level nan_count counterpart, so float predicates keep the
    # row-group tier (see sources/page_index.py module doc).
    _PAGE_TIER_CATS = ("int", "string", "date", "timestamp")

    # row-group cap for page refinement (see _page_refine guard):
    # 4096 rgs ≈ 400 GB of surviving data at production sizes — far
    # past the point where per-row precision stops mattering
    PAGE_REFINE_MAX_RGS = 4096

    def _page_refine(
        self, predicate: Expr, survivors: Dict[str, List[int]]
    ) -> Tuple[Dict[str, Dict[int, List[Tuple[int, int]]]], int]:
        """The page-index pruning tier (VERDICT r11 ask #3 — the
        reference's named-but-unimplemented row-granularity level,
        sqlx-sqlite/src/main.rs:73-79): refine each surviving row group
        into KEEP row ranges using persisted per-page min/max.

        Mechanics: every top-level AND conjunct touching exactly ONE
        page-indexed column is rewritten with the SAME refutation-sound
        PruningRewriter the row-group tier uses, then evaluated per
        page driver-side (plans/pruning.eval_stats_expr — SQL ternary
        logic, UNKNOWN keeps the page). Pages every conjunct might
        match keep their [first_row, first_row + count) span; spans
        union per column, then INTERSECT across columns (pages are not
        aligned across columns — the intersection is what makes multi-
        column refinement sound, the DataFusion RowSelection shape). A
        row group whose intersection is EMPTY is dropped outright —
        the page tier then strengthens even mode="files" scans.

        Returns ({file: {rg: [(start, end), ...]}}, rows_skipped) and
        MUTATES survivors only by removing fully-refuted row groups.
        Cost: O(surviving pages) driver work on bounded planning data;
        files without page stats (never written, or non-indexed
        column) contribute nothing and keep full granularity."""
        page_cols = self.page_index_columns
        if not page_cols or not survivors:
            return {}, 0
        # bounded-planning-data guard: page refinement is a PRECISION
        # tool for selective predicates (point/range lookups that
        # already pruned to a handful of row groups). When the
        # row-group tier keeps more than the cap, fetching their page
        # rows would make PLANNING cost scale with the match size —
        # skip, the scan is I/O-bound on real data anyway.
        if sum(len(rgs) for rgs in survivors.values()) \
                > self.PAGE_REFINE_MAX_RGS:
            return {}, 0
        from ..plans.pruning import eval_stats_expr

        armed = {c for c in page_cols
                 if self.index_schema.get(c) in self._PAGE_TIER_CATS}
        by_col: Dict[str, List[Expr]] = {}
        for cj in conjuncts(predicate):
            cols = cj.columns()
            if len(cols) == 1 and (c := next(iter(cols))) in armed:
                by_col.setdefault(c, []).append(self._rewriter.rewrite(cj))
        if not by_col:
            return {}, 0
        pages = self.catalog.get_page_stats(list(survivors), list(by_col))
        if not pages:
            return {}, 0
        out: Dict[str, Dict[int, List[Tuple[int, int]]]] = {}
        skipped = 0

        def keep(fname, rg):
            nonlocal skipped
            ranges = None              # None = unrestricted (full rg)
            for c, exprs in by_col.items():
                plist = pages.get((fname, rg, c))
                if not plist:
                    continue           # no page tier for this chunk
                rg_rows = sum(p[1] for p in plist)
                spans: List[Tuple[int, int]] = []
                for first, cnt, mn, mx, null_page, nc in plist:
                    env = {f"{c}_min": mn, f"{c}_max": mx,
                           f"{c}_null_count": nc
                           if nc is not None
                           else (cnt if null_page else None),
                           "row_count": cnt}
                    if all(eval_stats_expr(x, env) is not False
                           for x in exprs):
                        s, e = first, first + cnt
                        if spans and spans[-1][1] == s:
                            spans[-1] = (spans[-1][0], e)
                        else:
                            spans.append((s, e))
                ranges = (spans if ranges is None
                          else _intersect_ranges(ranges, spans))
            if ranges is None:
                return True
            kept = sum(e - s for s, e in ranges)
            if kept < rg_rows:
                skipped += rg_rows - kept   # kept == 0: rg refuted
                if kept:
                    out.setdefault(fname, {})[rg] = ranges
            return kept > 0

        _narrow(survivors, keep)
        return out, skipped

    def _dict_refine(
        self, predicate: Expr, survivors: Dict[str, List[int]]
    ) -> int:
        """Drop candidate row groups the dictionary/frequency stats
        refute (sources/stats.py extract_file_dicts). Two refutation
        shapes, both read from ``_literal_constraints`` on dict-indexed
        columns:

        - positive (col = lit / col IN lits): the row group's recorded
          value set lacks every literal — like a Bloom filter but exact
          (the set IS the distinct values, no false positives);
        - negative (col != lit / NOT (col IN lits) / NOT (col = lit)):
          the recorded value set is CONTAINED in the excluded literals —
          every non-null row fails the predicate and null rows fail any
          comparison, so the group cannot match. Min/max can only make
          this refutation when min = max; a Bloom filter never can.

        Row groups without a dict row (cardinality exceeded the
        index-time cap) are untouched — over-approximation holds; the
        mandatory residual filter keeps the contract inexact-safe."""
        dict_cols = self.dict_columns
        if not dict_cols or not survivors:
            return 0
        dicts_by_col: Dict[str, Dict] = {}  # one fetch+decode per column
        constraints: List[tuple] = []  # (dicts, literal set, negated)
        for column, op, values in _literal_constraints(predicate):
            if (column not in dict_cols
                    or op not in ("=", "!=", "IN", "NOT IN")):
                continue
            if column not in dicts_by_col:
                dicts_by_col[column] = self.catalog.get_dicts(column)
            if dicts_by_col[column] and all(
                    isinstance(v, (int, str)) and not isinstance(v, bool)
                    for v in values):  # un-dictable literal: stay sound
                constraints.append((dicts_by_col[column], set(values),
                                    op in ("!=", "NOT IN")))

        def keep(fname, rg):
            for dicts, lits, negated in constraints:
                entries = dicts.get((fname, rg))
                if entries is None:
                    continue
                keys = {v for v, _ in entries}
                # literal type must match the stored category: an int
                # literal against string-categorized dict values (or
                # vice versa) intersects empty here, yet Spark's
                # implicit cast in the residual filter could match —
                # refining would UNDER-select. Keep the row group.
                keys_int = keys and isinstance(next(iter(keys)), int)
                if keys and any(isinstance(l, int) != keys_int
                                for l in lits):
                    continue
                # negated: value set ⊆ excluded → refuted; else the
                # intersection must be non-empty to possibly match
                if (keys <= lits) if negated else not (keys & lits):
                    return False
            return True

        return _narrow(survivors, keep) if constraints else 0

    # -- deletion vectors (merge-on-read row-level deletes) -------------
    def _dvs(self, as_of: Optional[int] = None
             ) -> Dict[str, List[Tuple[int, int]]]:
        """{file_name: [(start, length), ...]} deletion-vector ranges of
        the live table (cached; invalidated by every mutation) or of a
        snapshot() era."""
        if as_of is not None:
            return self.catalog.get_dv_ranges(as_of=as_of)
        # getattr: test shims copy this method onto bare stand-ins
        if getattr(self, "_dv_cache", None) is None:
            self._dv_cache = self.catalog.get_dv_ranges()
        return self._dv_cache

    def _dv_guard(self, what: str) -> None:
        """Catalog-only answers that fold min/max/dict/topk/ndv/hist
        statistics cannot be repaired under row-level deletes (the
        deleted rows' effect on those summaries is not a subtraction);
        refuse loudly instead of answering over ghosts."""
        if self._dvs():
            raise ValueError(
                f"{what} cannot answer from the catalog while deletion "
                f"vectors are present on "
                f"{sorted(self._dvs())}; run compact_deletes() first "
                f"(COUNT/SUM/VAR pushdowns and all scans remain exact)")

    def _dv_positions_df(self, dvs: Dict[str, List[Tuple[int, int]]]
                         ) -> DataFrame:
        """(file key URI-quoted, exact position) build side for the
        positional joins: one row per file (key, range starts, range
        ends) ships as an Arrow local relation (a JVM
        ``LocalTableScan``, no Python worker per broadcast build) and
        the ranges explode JVM-side; broadcast under the cumulative
        DV_BROADCAST_MAX_POSITIONS cap, sort-merge join above it (see
        _scan).
        One row per file, not per range: at 200k scattered ranges a
        per-range relation took 553 ms to build and 875 ms to count,
        the per-file arrays 113 ms and 368 ms (4-core host)."""
        from pyspark.sql import functions as F

        # Content-keyed memo: every read under an unchanged DV state
        # rebuilt this frame from scratch — tens of thousands of ranges
        # shipped driver->JVM per call, paid by EVERY DV-filtered
        # query. The ranges are plain ints, so the dict content itself
        # is the cache key: any DML that changes the vectors produces a
        # different key, no explicit invalidation needed. DataFrames are immutable — handing back
        # the same object is safe and re-uses the analyzed plan too.
        key = tuple((f, tuple(map(tuple, ranges)))
                    for f, ranges in sorted(dvs.items()))
        if self._dv_pos_memo is not None and self._dv_pos_memo[0] == key:
            return self._dv_pos_memo[1]
        total_pos = sum(ln for ranges in dvs.values()
                        for _, ln in ranges)
        rows = [(self._dv_quote(f), [int(s) for s, _ in ranges],
                 [int(s + ln - 1) for s, ln in ranges])
                for f, ranges in sorted(dvs.items())]
        dv_pos = (local_frame(
                      self.spark, rows,
                      "__dv_bfile string, __dv_s array<bigint>, "
                      "__dv_e array<bigint>")
                  .select("__dv_bfile",
                          F.explode(F.arrays_zip("__dv_s", "__dv_e"))
                          .alias("__r"))
                  .select("__dv_bfile",
                          F.explode(F.sequence(F.col("__r.__dv_s"),
                                               F.col("__r.__dv_e")))
                          .alias("__dv_bpos")))
        if total_pos <= self.DV_BROADCAST_MAX_POSITIONS:
            dv_pos = F.broadcast(dv_pos)
        else:
            dv_pos = dv_pos.hint("merge")
        self._dv_pos_memo = (key, dv_pos)   # one DV state per table
        return dv_pos

    def _dv_position_join(self, df: DataFrame,
                          dvs: Dict[str, List[Tuple[int, int]]],
                          how: str) -> DataFrame:
        """Join a raw scan (still carrying ``_metadata``) against a
        position set: ``left_anti`` drops the listed positions (the DV
        read path), ``left_semi`` keeps ONLY them (the change-feed
        delete extraction)."""
        from pyspark.sql import functions as F

        dv_pos = self._dv_positions_df(dvs)
        return (df
                .withColumn("__dv_file", self._dv_file_key_col())
                .withColumn("__dv_ridx", F.col("_metadata.row_index"))
                .join(dv_pos,
                      (F.col("__dv_file") == F.col("__dv_bfile"))
                      & (F.col("__dv_ridx") == F.col("__dv_bpos")),
                      how)
                .drop("__dv_file", "__dv_ridx"))

    # the characters java.net.URI leaves RAW in a path — Spark renders
    # _metadata.file_path through it, so DV file-key matching happens in
    # URI space: catalog keys are quoted with the SAME set before the
    # join, and keys collected from scans are unquoted back. A raw
    # string comparison silently mismatches on any space/%/non-ASCII in
    # a partition value or the data_dir (the anti-join would no-op and
    # serve deleted rows).
    _DV_URI_SAFE = "/!$&'()*+,;=:@~-._"

    def _dv_quote(self, key: str) -> str:
        from urllib.parse import quote
        return quote(key, safe=self._DV_URI_SAFE)

    def _dv_file_key_col(self):
        """Column expression mapping ``_metadata.file_path`` to the
        catalog's file key IN URI SPACE: strip the (quoted) data-dir
        prefix, leaving the dir-relative path for partitioned layouts
        and the basename for flat ones — the read-side twin of
        ``_file_key`` composed with ``_dv_quote``."""
        from pyspark.sql import functions as F

        prefix = "file:" + self._dv_quote(
            os.path.abspath(self.data_dir)) + "/"
        return F.expr(
            f"substring(_metadata.file_path, {len(prefix) + 1})")

    # -- reading -------------------------------------------------------
    def _scan(self, file_names: Sequence[str], as_of: Optional[int] = None,
              dvs: Optional[Dict[str, List[Tuple[int, int]]]] = None
              ) -> DataFrame:
        """The one read of table data files behind every query, DML and
        change-feed surface: the catalog keys ``file_names`` joined onto
        ``data_dir`` (``basePath`` re-surfaces hive partition columns,
        typed as schema inference saw them), read with the table's
        fixed schema, minus the rows the era's deletion vectors delete.
        ``dvs`` stands in for the era's vectors when the caller holds
        them already; ``{}`` yields the raw rows. A read of files still
        carries ``_metadata`` for the DV position columns; no files
        give an empty frame.

        Deleted rows drop through a hash ANTI-join on (file name, row
        position): the driver ships only the range-compressed vectors,
        which explode to exact positions JVM-side inside the join build,
        so each scan row pays one O(1) probe. (An ``exists`` over a
        range array per row degenerated to rows x deletions on a
        scattered delete: 949 s for a 1.5M-row scan against a
        214k-position DV at sf1, vs ~3 s for the anti-join.) The build
        side is force-broadcast only while the CUMULATIVE live position
        count over the scanned files stays under
        DV_BROADCAST_MAX_POSITIONS — vectors accumulate across delete
        calls until compact_deletes(), so stacked deletes could
        otherwise OOM executors; past it the build side carries a
        sort-merge hint, because Spark sizes the one-row-per-file local
        relation far under autoBroadcastJoinThreshold however many
        positions it explodes to. The position total is O(ranges)
        driver arithmetic, never a count job."""
        if not file_names:
            return local_frame(self.spark, [], self._schema)
        reader = self.spark.read
        if self.partitioned:
            reader = reader.option("basePath", self.data_dir)
        df = reader.schema(self._schema).parquet(
            *[os.path.join(self.data_dir, f) for f in file_names])
        era = self._dvs(as_of) if dvs is None else dvs
        hit = {f: era[f] for f in file_names if f in era}
        return self._dv_position_join(df, hit, "left_anti") if hit else df

    def query(
        self,
        predicate: Optional[Expr] = None,
        columns: Optional[Sequence[str]] = None,
        mode: str = "files",
        as_of: Optional[int] = None,
    ) -> DataFrame:
        """Pruned scan + mandatory residual filter.

        columns: optional projection pushed into the scan (Catalyst prunes
        Parquet columns natively; reference main.rs:283-284).
        as_of: serve a snapshot() — only files recorded in it are read
        (raises if any has changed or vanished since).
        """
        if self._schema is None:
            raise ValueError(
                f"table {self.name!r} has no parquet files under "
                f"{self.data_dir!r}; add data and call refresh()")
        decision = self.plan_scan(predicate, as_of=as_of)
        if mode == "rowgroups" and self.partitioned:
            raise ValueError(
                "mode='rowgroups' is not supported on partitioned layouts: "
                "the Python DataSource reads raw files, which do not "
                "contain the partition columns. Use the default "
                "mode='files' (partition dirs already prune at file "
                "granularity; the native reader skips row groups from "
                "pushed footer stats).")
        if mode == "rowgroups" and decision.files_scanned:
            df = self._read_rowgroups(decision, predicate, columns,
                                      as_of=as_of)
        else:
            df = self._scan(decision.file_names, as_of)
        if predicate is not None:
            df = df.filter(predicate.to_spark())  # Inexact => residual filter
        if columns:
            df = df.select(*columns)
        return df

    def query_filters(self, filters: Sequence[Expr], **kw) -> DataFrame:
        """Conjoin a pushed-filter list (reference main.rs:265-272)."""
        pred = and_all(list(filters))
        if isinstance(pred, Lit):
            return self.query(None, **kw)
        return self.query(pred, **kw)

    def query_sql(self, where: str, **kw) -> DataFrame:
        """SQL entry point for the pruned path (reference main.rs:146-149
        runs SQL through DataFusion; here the WHERE clause is parsed into
        our Expr AST so the index can prune before Spark reads):
        ``table.query_sql("value = 150 AND text LIKE 'a%'")``."""
        from ..plans.sql_predicate import parse_predicate
        return self.query(parse_predicate(where), **kw)

    # -- writing: row-level deletes / upserts (merge-on-read) -----------
    DV_MAX_DELETED_PER_CALL = 2_000_000
    # cumulative exploded-position ceiling for the forced broadcast on
    # the DV read path (~64 MB of (string, long) build rows); above it
    # _scan hints a sort-merge anti-join instead
    DV_BROADCAST_MAX_POSITIONS = 4_000_000

    def delete_where(self, predicate: Expr) -> int:
        """Row-level DELETE without rewriting any file — the
        Delta/Iceberg deletion-vector design over the external index:
        one pruned job finds the matching rows' (file, row position)
        pairs via ``_metadata.row_index`` plus, in the same pass, their
        exact per-column sum contributions; the positions are merged
        into per-file deletion vectors in the catalog (range-compressed
        metadata), and every read surface anti-filters them. Files are
        never touched — at 100 TB a targeted delete is one pruned scan
        plus O(deleted ranges) metadata, not a rewrite of the table.

        COUNT/SUM/VAR pushdowns stay exact (the recorded contributions
        subtract); min/max/dict/topk/ndv/hist catalog answers refuse
        until ``compact_deletes()``. Idempotent: already-deleted rows
        are invisible to the scan, so re-running the same delete
        matches nothing. Returns the number of rows newly deleted.

        DV assembly is driver-side, capped at DV_MAX_DELETED_PER_CALL
        positions per call (~ the point where a physical rewrite is
        cheaper than a vector; Delta draws the same line). The cap
        costs a count job only when the table's catalog row count
        exceeds it (see ``_dv_store_victims``)."""
        from pyspark.sql import functions as F

        v0 = self._dml_begin()
        decision = self.plan_scan(predicate)
        if not decision.files_scanned:
            return 0
        # the scan drops already-deleted rows: idempotence
        df = self._scan(decision.file_names).filter(predicate.to_spark())
        return self._dv_store_victims(
            df.select(self._dv_file_key_col().alias("__file"),
                      F.col("_metadata.row_index").alias("__pos"),
                      *self.sum_columns),
            self.catalog.totals()[2],
            commit_from=v0, verb="delete")

    def delete_matching(self, victims: DataFrame, key_column: str) -> int:
        """Set-based row-level DELETE: remove every row whose
        ``key_column`` appears in ``victims`` — the scalable dual of
        ``delete_where`` for victim sets too large for a predicate
        (dedup losers, GDPR keys, retraction feeds). The victim
        locating pass is a distributed semi-join (AQE picks broadcast
        vs shuffle from the victim size); the scan itself is pruned to
        the victims' [min, max] key window first (one tiny aggregate
        job — sorted/clustered layouts prune hard, the join does the
        exact matching either way). Same DV semantics, idempotence,
        and per-call cap as delete_where."""
        from ..plans.expr import col as xcol
        from pyspark.sql import functions as F

        v0 = self._dml_begin()
        keys = victims.select(
            F.col(key_column).alias("__dv_victim_key")).where(
            F.col("__dv_victim_key").isNotNull()).distinct()
        bounds = keys.agg(F.min("__dv_victim_key").alias("mn"),
                          F.max("__dv_victim_key").alias("mx")).head()
        if bounds["mn"] is None:
            return 0
        window = ((xcol(key_column) >= bounds["mn"])
                  & (xcol(key_column) <= bounds["mx"]))
        decision = self.plan_scan(window)
        if not decision.files_scanned:
            return 0
        df = self._scan(decision.file_names)   # idempotence
        df = df.join(keys,
                     df[key_column] == keys["__dv_victim_key"],
                     "leftsemi")
        return self._dv_store_victims(
            df.select(self._dv_file_key_col().alias("__file"),
                      F.col("_metadata.row_index").alias("__pos"),
                      *self.sum_columns),
            self.catalog.totals()[2],
            commit_from=v0, verb="delete_matching")

    def _dv_store_victims(self, victims: DataFrame, bound: int,
                          commit_from: int = -1,
                          verb: str = "delete") -> int:
        """Shared tail of the delete paths: one distributed pass over a
        victim frame carrying ``__file`` (catalog key, URI-space),
        ``__pos`` (file-scoped row position) and every sum column
        collects per-file sorted positions, counts and exact
        per-sum-column contributions, which merge into the catalog's
        deletion vectors (update_where hands in its one cached victim
        read).

        Cap rule: ``bound`` is an upper bound on the victim count — the
        table's catalog row count (``totals()``, O(1)) for delete_where
        / delete_matching, the exact already-counted victims for
        update_where. Only when it exceeds DV_MAX_DELETED_PER_CALL does
        a ``count()`` job run first, raising DVCapExceeded (before
        committing anything) when the victims really are over the cap;
        otherwise the collect below is the verb's only victim
        action."""
        from pyspark.sql import functions as F

        sum_cols = self.sum_columns
        # one distributed pass: file, position, and the deleted rows'
        # sum contributions (exact: integer/decimal sums in
        # decimal(38,0); second moments integer-only, like the store)
        aggs = [F.sort_array(F.collect_list("__pos")).alias("pos"),
                F.count(F.lit(1)).alias("n")]
        schema_by_name = {f.name: f.dataType for f in self._schema.fields}
        for c in sum_cols:
            dt = schema_by_name.get(c)
            aggs.append(F.sum(F.col(c).cast("decimal(38,0)")
                              if not isinstance(dt, T.DecimalType)
                              else F.col(c)).alias(f"__sum_{c}"))
            aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
            if isinstance(dt, _INTEGER_TYPES):
                aggs.append(F.sum(F.col(c).cast("decimal(38,0)")
                                  * F.col(c)).alias(f"__sq_{c}"))
        # enforce the cap BEFORE materializing any positions on the
        # driver — the cap exists to protect driver memory, so it must
        # not itself require the collect it guards against
        if bound > self.DV_MAX_DELETED_PER_CALL:
            total = victims.count()
            if total > self.DV_MAX_DELETED_PER_CALL:
                raise DVCapExceeded(
                    f"delete matches {total} rows > "
                    f"DV_MAX_DELETED_PER_CALL="
                    f"{self.DV_MAX_DELETED_PER_CALL}; a physical rewrite "
                    f"(compact_small_files / an overwrite) is the right "
                    f"tool at that volume")
        hits = victims.groupBy("__file").agg(*aggs).collect()
        # optimistic-concurrency gate: everything above was read-only
        # planning; refuse LOUDLY before the first DV commit if another
        # writer moved the catalog since the verb began. The whole
        # DV-commit loop stays inside the mutation scope so no other
        # in-process writer can commit-and-mutate (e.g. optimize()
        # evicting these files) while vectors are mid-store.
        with self._dml_mutation_scope(commit_from, verb):
            deleted = self._dv_apply_hits(hits, sum_cols)
        self._dv_cache = None
        if deleted:
            self._refresh_views()
        return deleted

    def _dv_apply_hits(self, hits, sum_cols) -> int:
        """Mutation half of ``_dv_store_victims``: split each file's
        collected positions into row groups and merge them into the
        catalog's deletion vectors. Runs inside the verb's
        ``_dml_mutation_scope``."""
        from urllib.parse import unquote
        dts = {f.name: f.dataType for f in self._schema.fields}
        deleted = 0
        for r in hits:
            # scan-side keys are URI-space; the catalog's are raw
            fname, positions = unquote(r["__file"]), r["pos"]
            if not positions:
                continue
            counts = self.catalog.row_group_row_counts(fname)
            starts = list(accumulate(
                (counts[rg] for rg in range(len(counts))), initial=0))[:-1]
            # split file-scoped positions into row groups (positions
            # sorted; starts ascending)
            by_rg: Dict[int, List[int]] = {}
            rg = 0
            for p in positions:
                while rg + 1 < len(starts) and p >= starts[rg + 1]:
                    rg += 1
                by_rg.setdefault(rg, []).append(p)
            # per-rg sum adjustments need per-rg re-aggregation only
            # when a file spans several row groups AND sums are kept;
            # the single-rg fast path (the common fixture layout)
            # reuses the file-level aggregates
            sum_adjust: Dict[int, Dict[str, tuple]] = {}
            if sum_cols and len(by_rg) == 1:
                agg = r.asDict()
                sum_adjust[next(iter(by_rg))] = {
                    c: _sum_entry(dts.get(c), agg[f"__sum_{c}"],
                                  agg[f"__nn_{c}"], agg.get(f"__sq_{c}"))
                    for c in sum_cols}
            elif sum_cols:
                sum_adjust = self._dv_rg_sums(fname, by_rg, sum_cols,
                                              starts)
            deleted += len(positions)
            self.catalog.upsert_dv(fname, by_rg, sum_adjust)
        return deleted

    def _dv_rg_sums(self, fname: str, by_rg: Dict[int, List[int]],
                    sum_cols, starts: List[int]
                    ) -> Dict[int, Dict[str, tuple]]:
        """Per-row-group deleted-sum contributions for a multi-row-group
        file: re-read exactly the deleted positions with pyarrow (a few
        row groups of one file — bounded work on the driver, mirroring
        how the stats extractors already read footers). ``starts``: the
        file-scoped first row of each row group."""
        import pyarrow.parquet as pq

        dts = {f.name: f.dataType for f in self._schema.fields}
        pf = pq.ParquetFile(os.path.join(self.data_dir, fname))
        out: Dict[int, Dict[str, tuple]] = {}
        for rg, positions in by_rg.items():
            sub = pf.read_row_group(rg, columns=list(sum_cols)).take(
                [p - starts[rg] for p in positions])
            entries = {}
            for c in sum_cols:
                vals = [v for v in sub.column(c).to_pylist()
                        if v is not None]
                entries[c] = _sum_entry(
                    dts.get(c), sum(vals), len(vals),
                    sum(int(v) * int(v) for v in vals))
            out[rg] = entries
        return out

    @staticmethod
    def _write_marker(marker: str, payload: dict,
                      durable: bool = False) -> None:
        """Atomic intent-marker write (tmp + os.replace): under the
        process-crash model a marker is either absent or complete.
        durable=True adds an fsync for power-loss tearing — needed
        only where an unreadable marker's recovery default is not
        fully safe (pack markers: 'keep everything' would let a landed
        packed copy surface duplicate rows; compact markers default to
        pre-swap, which heals, so they skip the fsync — it costs ~5 ms
        per file and compact_deletes writes one marker per DV'd file).
        The residual compact hole (power loss persists the byte swap
        but tears the marker; recovery keeps the catalog + DV) is
        closed WITHOUT the fsync by the (size, mtime_ns) change
        detection: the swapped bytes carry a fresh mtime, so the next
        refresh() re-indexes the file and the catalog's DV-retention
        rule drops the stale vector even at identical byte size."""
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            if durable:
                fh.flush()
                os.fsync(fh.fileno())
        os.replace(tmp, marker)

    @staticmethod
    def _compact_marker_path(path: str) -> str:
        """Dot-prefixed (listing-invisible) intent marker recording the
        ORIGINAL bytes' (size, mtime_ns) across a compaction swap."""
        return os.path.join(os.path.dirname(path),
                            "." + os.path.basename(path)
                            + ".compact.intent")

    def _recover_compaction_markers(self) -> None:
        """Heal a compaction that crashed mid-file. The marker brackets
        the swap-then-evict pair; the original (size, mtime_ns) it
        recorded discriminates which side of the swap the crash hit:

        - file unchanged (stat matches the marker): the swap never
          happened — catalog + DV are intact and authoritative; drop
          any staged ``.compact.tmp`` and the marker.
        - file changed or gone: the swap (or all-rows-deleted remove)
          DID happen but the catalog evict may not have — evict now, so
          the following (re)build re-indexes the new bytes and drops
          the stale DV even when the rewrite landed at the identical
          byte size (the size-match short-circuit must never decide
          this case).
        Runs at construction and at the head of every refresh();
        touches only catalog rows, markers, and staging dotfiles —
        never data bytes. ONE directory walk serves both this and the
        pack-marker recovery (the listing refresh performs is a third
        walk; markers are dotfiles so it never sees them)."""
        compact_markers, pack_markers, stale_tmps = [], [], []
        for dirpath, _dirs, names in os.walk(self.data_dir):
            for n in names:
                if not n.startswith("."):
                    continue
                if n.endswith(".compact.intent"):
                    compact_markers.append(os.path.join(dirpath, n))
                elif n.endswith(".pack.intent"):
                    pack_markers.append(os.path.join(dirpath, n))
                elif n.endswith((".compact.tmp", ".pack.tmp")):
                    stale_tmps.append(os.path.join(dirpath, n))
        for marker in compact_markers:
            base = os.path.basename(marker)[1:-len(".compact.intent")]
            path = os.path.join(os.path.dirname(marker), base)
            try:
                with open(marker) as fh:
                    want = json.load(fh)
            except (OSError, ValueError):
                # unreadable marker: markers are written atomically
                # (tmp + os.replace), so this means filesystem-level
                # corruption. Default to PRE-swap (keep catalog + DV):
                # wrongly evicting re-indexes the ORIGINAL bytes with
                # the DV dropped — permanent silent resurrection —
                # while wrongly keeping heals at the next refresh in
                # every case except a same-size rewrite.
                want = None
            swapped = True
            if os.path.exists(path) and want is not None:
                st = os.stat(path)
                swapped = (st.st_size != want.get("size")
                           or st.st_mtime_ns != want.get("mtime_ns"))
            elif os.path.exists(path):
                swapped = False
            if swapped:
                fname = self._marker_file_key(path)
                try:
                    self.catalog.remove_file(fname)
                except Exception:
                    pass   # already evicted: the crash hit after it
            tmp = os.path.join(os.path.dirname(path),
                               "." + base + ".compact.tmp")
            if os.path.exists(tmp):
                os.remove(tmp)
            os.remove(marker)
        # staging dotfiles (.compact.tmp / .pack.tmp) are discarded
        # UNCONDITIONALLY — including ones whose intent marker exists:
        # recovery never completes a swap FROM a staging file (the
        # marker paths above only compare/evict the real data file or
        # the landed pack dest), so an abandoned rewrite is always
        # re-stageable and keeping the tmp could only confuse a later
        # pass. Dotfiles, so they were never visible to scans.
        for tmp in stale_tmps:
            if os.path.exists(tmp):
                os.remove(tmp)
        if compact_markers:
            self._dv_cache = None
        self._recover_pack_markers(pack_markers)

    def _marker_file_key(self, path: str) -> str:
        """Catalog key for a data file during crash recovery: the
        dir-relative path (equals the basename for flat layouts) —
        computed WITHOUT self.partitioned, which still holds the class
        default when recovery runs inside __init__."""
        return os.path.relpath(path, self.data_dir)

    def _recover_pack_markers(self, markers: List[str]) -> None:
        """Heal a small-file compaction (compact_small_files) that
        crashed mid-bin. The marker lists the bin's source files and is
        written BEFORE the packed file lands; the possible states are:

        - packed file missing: crash before landing — sources intact
          and authoritative; drop the marker.
        - packed file present, ALL sources present: crash before any
          source removal — the packed file is an unreferenced copy;
          remove IT (sources stay authoritative, no duplicates ever
          become visible).
        - packed file present, SOME sources gone: crash mid-removal —
          finish removing the remaining sources (bytes + catalog rows);
          the packed file holds every row and indexes on refresh.
        """
        for marker in markers:
            base = os.path.basename(marker)[1:-len(".pack.intent")]
            d = os.path.dirname(marker)
            packed = os.path.join(d, base)
            try:
                with open(marker) as fh:
                    sources = json.load(fh).get("sources", [])
            except (OSError, ValueError):
                # atomically written; unreadable = fs corruption. With
                # no source list the only safe move is to keep
                # EVERYTHING (duplicates are recoverable, removals are
                # not) and surface the marker for a human.
                continue
            paths = [os.path.join(d, s) for s in sources]
            if not os.path.exists(packed):
                pass                      # never landed; sources intact
            elif all(os.path.exists(p) for p in paths):
                os.remove(packed)         # unreferenced copy
            else:
                for p in paths:           # finish the removals
                    if os.path.exists(p):
                        os.remove(p)
                    try:
                        self.catalog.remove_file(
                            self._marker_file_key(p))
                    except Exception:
                        pass
            os.remove(marker)

    def compact_small_files(self, target_bytes: int = 128 << 20) -> int:
        """OPTIMIZE — bin-pack small files into fewer, bigger ones.
        Every DML verb lands O(1) new files (update_/upsert_ batches),
        so a long-lived table accumulates small files that bloat the
        catalog, the planner's candidate set, and per-file scan
        overhead; this is the Delta OPTIMIZE / Iceberg rewrite_data_-
        files counterpart. Files are grouped per directory (flat root,
        or each hive partition dir — packing never crosses a partition
        boundary), files at or above ``target_bytes`` are left alone,
        and each greedy size-sorted bin of at least ``_PACK_MIN_FILES``
        small files is rewritten as ONE ``pack_*.parquet``. Files
        carrying deletion vectors are skipped (run compact_deletes() first —
        materializing deletes and packing are separate, composable
        maintenance verbs). Crash-safe via a per-bin intent marker
        (see _recover_pack_markers): no crash point can surface
        duplicate or missing rows. Returns the number of packed files
        created; refresh() runs once at the end, so the packed files
        get fresh exact statistics.

        Execution split (VERDICT r9 ask #3 — an OPTIMIZE over
        thousands of hive partitions must not run O(bins) SERIAL Spark
        jobs): the expensive half — read each bin, write its staged
        single-file rewrite — runs as up to
        ``_PACK_MAX_CONCURRENT_BINS`` CONCURRENT Spark jobs from a driver thread pool (Delta
        OPTIMIZE's maxThreads design; Spark's scheduler interleaves
        the jobs' tasks across the cluster, so wall-clock is sublinear
        in bin count while each bin keeps the schema-normalizing
        ``spark.read.schema(...)`` path that fills schema-evolution
        gaps with nulls). Staged rewrites land as listing-invisible
        ``.<name>.pack.tmp`` dotfiles; the commit half — intent
        marker, swap, source removal, catalog evict — is O(bins)
        driver metadata work, serialized AFTER every stage succeeded,
        so a failed stage job leaves sources + catalog untouched and
        only orphan dotfiles (cleaned here and by recovery)."""
        from collections import defaultdict
        from concurrent.futures import ThreadPoolExecutor
        from pyspark.sql.types import StructType

        if self._schema is None or not self.catalog.all_files():
            return 0   # empty table: nothing to pack
        v0 = self._dml_begin()
        dvs = self._dvs()
        part_cols = self._partition_cols
        phys_schema = StructType(
            [f for f in self._schema.fields if f.name not in part_cols])
        by_dir: Dict[str, List[Tuple[str, int]]] = defaultdict(list)
        all_files = self.catalog.all_files()
        for fname, size, _rgs, _rows in all_files:
            if fname in dvs or size >= target_bytes:
                continue
            d = os.path.dirname(os.path.join(self.data_dir, fname))
            by_dir[d].append((fname, size))
        # ONE catalog read per verb invocation (not per bin — O(bins ×
        # catalog) driver work on many-partition OPTIMIZE runs); all
        # pack names are allocated upfront, before the concurrent
        # staging fan-out
        existing = {f[0] for f in all_files}
        work: List[Tuple[str, str, List[str]]] = []   # (dir, name, bin)
        for d, entries in sorted(by_dir.items()):
            entries.sort(key=lambda e: (e[1], e[0]))
            bins: List[List[str]] = []
            cur: List[str] = []
            cur_bytes = 0
            for fname, size in entries:
                if cur and cur_bytes + size > target_bytes:
                    bins.append(cur)
                    cur, cur_bytes = [], 0
                cur.append(fname)
                cur_bytes += size
            if cur:
                bins.append(cur)
            i = 0
            for bin_files in bins:
                if len(bin_files) < _PACK_MIN_FILES:
                    continue
                while True:
                    name = f"pack_{i:06d}.parquet"
                    dest = os.path.join(d, name)
                    key = self._file_key(dest)
                    if key not in existing and not os.path.exists(dest):
                        break
                    i += 1
                existing.add(key)
                i += 1
                work.append((d, name, list(bin_files)))
        if not work:
            return 0

        tmps = [os.path.join(d, "." + name + ".pack.tmp")
                for d, name, _bin in work]

        def _stage_bin(bin_files: List[str], tmp: str) -> None:
            paths = [os.path.join(self.data_dir, f) for f in bin_files]
            write_one_file(
                self.spark.read.schema(phys_schema).parquet(*paths), tmp)

        try:
            with ThreadPoolExecutor(max_workers=min(
                    _PACK_MAX_CONCURRENT_BINS, len(work))) as pool:
                list(pool.map(_stage_bin, [b for _d, _n, b in work], tmps))
        except BaseException:
            # a failed stage job leaves sources + catalog untouched;
            # drop whatever staged dotfiles DID land
            self._drop_staged(tmps)
            raise
        # optimistic-concurrency gate between the (invisible) staging
        # and the commit half: on refusal drop the staged dotfiles —
        # sources + catalog are untouched. The swap/evict loop runs
        # inside the mutation scope (CAS + mutations under one writer
        # lease) so another writer cannot commit-and-mutate mid-swap.
        packed_count = 0
        try:
            with self._dml_mutation_scope(v0, "optimize"):
                for (d, name, bin_files), tmp in zip(work, tmps):
                    dest = os.path.join(d, name)
                    marker = os.path.join(d, "." + name + ".pack.intent")
                    # basenames: recovery joins them onto the MARKER's
                    # dir (a hive partition dir or the flat root), not
                    # data_dir
                    self._write_marker(
                        marker,
                        {"sources": [os.path.basename(f)
                                     for f in bin_files]},
                        durable=True)
                    os.replace(tmp, dest)
                    for f in bin_files:
                        p = os.path.join(self.data_dir, f)
                        os.remove(p)
                        self.catalog.remove_file(self._file_key(p))
                    os.remove(marker)
                    packed_count += 1
        except ConcurrentWriteError:
            for tmp in tmps:
                if os.path.exists(tmp):
                    os.remove(tmp)
            raise
        if packed_count:
            self.refresh()
            self._refresh_views()
        return packed_count

    def compact_deletes(self) -> int:
        """Physically rewrite every file that carries a deletion vector,
        dropping the deleted rows, and index each rewrite in the same
        step — the rewritten files get fresh exact statistics and their
        DVs are cleared, restoring every catalog-only answer surface.
        Files without DVs are untouched: at 100 TB compaction cost is
        O(deleted-from files), not O(table). Returns the number of
        files rewritten. Rewrites preserve the original row-group
        partitioning (minus the holes), so pruning granularity
        survives compaction.

        Execution split (the reference's out-of-band, per-file
        maintenance posture, index.rs:179): the per-file unit
        (``_compact_file``) reads every row group, drops the deleted
        positions (the same vectorized binary search the DV read path
        uses, never a per-row Python loop or an exploded position
        set), writes the staged rewrite, then extracts the staged
        file's index entry — footer stats, NaN counts, every sidecar
        statistic, hive partition values — under its final catalog
        key with build_index's own plan. The unit fans out by
        build_index's rule (``stats._fan_out``): a driver thread pool
        below its distributed threshold (64 files), one executor job
        at or above it — and also one executor job whenever the DV'd
        files' largest row groups, uncompressed, sum past
        ``ROWGROUP_LOCAL_MAX_BYTES``, since unlike a footer read the
        unit decodes whole row groups and each driver thread holds
        one. Executors must see ``data_dir`` at the same path (shared
        FS / local mode) — the contract every Spark write in this
        table already assumes. The driver then performs only the
        O(files) crash-ordered metadata steps (intent marker, byte
        swap, catalog evict) and upserts the extracted entries in one
        batch, all inside the mutation scope. ``os.replace`` keeps
        the staged inode's size and mtime, so the closing
        ``refresh()`` finds every rewritten file unchanged and
        re-extracts nothing; it only picks up other directory
        changes."""
        import pyarrow.parquet as pq

        v0 = self._dml_begin()
        dvs = self.catalog.get_dv_ranges()
        if not dvs:
            return 0
        cats = self._partition_categories()
        items = []
        for fname, ranges in sorted(dvs.items()):
            path = os.path.join(self.data_dir, fname)
            part = _stats.typed_partition_values(
                _stats.partition_values_raw(self.data_dir, path), cats)
            items.append((path, ranges, fname, part))
        # token-Bloom columns are typed from the first table file, as
        # build_index types them
        opts = {k: getattr(self, k) for k in self._INDEX_OPTIONS}
        plan = _stats._extraction_plan(
            self.index_schema, pq.read_schema(self._files[0]), cats, **opts)
        # a unit decodes whole row groups where build_index's reads a
        # few KB of footer: past the driver's row-group budget (each
        # DV'd file's largest group, summed) the units run on executors
        # whatever their count
        decoded = 0
        for path, *_ in items:
            md = pq.read_metadata(path)
            decoded += max((md.row_group(rg).total_byte_size
                            for rg in range(md.num_row_groups)), default=0)
        try:
            done = _stats._fan_out(
                _compact_file, items, plan, self.spark,
                distributed_threshold=(
                    1 if decoded > self.ROWGROUP_LOCAL_MAX_BYTES else None))
        except BaseException:
            # a failed rewrite may leave staged dotfiles for the files
            # that DID finish — invisible to scans, but clean them now;
            # originals + catalog + DVs are untouched
            self._drop_staged(_compact_tmp_path(path) for path, *_ in items)
            raise
        staged = [tmp for tmp, _entry in done]
        # optimistic-concurrency gate between the (invisible) staged
        # rewrites and the swap/evict commit half; the swap/evict loop
        # and the entries' upsert run inside the mutation scope (CAS +
        # mutations under one writer lease — no other writer can
        # commit-and-mutate mid-swap)
        try:
            with self._dml_mutation_scope(v0, "compact_deletes"):
                self._compact_swap_evict(items, staged)
                self.catalog.upsert_files(
                    [entry for _tmp, entry in done if entry is not None])
        except ConcurrentWriteError:
            self._drop_staged(staged)
            raise
        self.refresh()
        self._refresh_views()
        return len(dvs)

    @staticmethod
    def _drop_staged(tmps) -> None:
        """Remove whichever staged rewrites exist (None = a file whose
        every row was deleted, which staged nothing)."""
        for tmp in tmps:
            if tmp is not None and os.path.exists(tmp):
                os.remove(tmp)

    def _compact_swap_evict(self, items, staged) -> None:
        """Mutation half of compact_deletes: crash-ordered byte swap +
        catalog evict per rewritten file. Runs inside the verb's
        ``_dml_mutation_scope``."""
        for (path, *_), tmp in zip(items, staged):
            fname = self._marker_file_key(path)
            # crash-ordering: swap the BYTES first, evict the catalog
            # entry second. The reverse order opens a resurrection
            # window — a crash after remove_file but before os.replace
            # leaves the ORIGINAL bytes on disk with no catalog row and
            # no DV, so the next refresh() re-indexes the old bytes and
            # every logically deleted row silently comes back (the
            # worst failure for the GDPR/retraction deletes this serves).
            # With bytes-first, a crash before the swap leaves the
            # catalog + DV fully intact (reads stay exact); a crash
            # between swap and evict is healed by the intent marker
            # below: it records the ORIGINAL bytes' (size, mtime_ns),
            # and the recovery pass at the head of every refresh()
            # compares — unchanged file means the swap never happened
            # (keep catalog + DV), anything else means it did (evict
            # and re-index). The marker, not the byte size, is what
            # defeats the size-match short-circuit, so even a rewrite
            # landing at the identical byte size can never keep the
            # stale DV (whose positions index the OLD layout).
            st = os.stat(path)
            marker = self._compact_marker_path(path)
            self._write_marker(marker, {"size": st.st_size,
                                        "mtime_ns": st.st_mtime_ns})
            if tmp is None:
                # every row deleted: the file disappears entirely
                os.remove(path)
            else:
                os.replace(tmp, path)
            self.catalog.remove_file(fname)
            os.remove(marker)

    def _land_batch(self, batch: DataFrame, prefix: str,
                    target_files: Optional[int] = 1) -> List[str]:
        """Land a batch of new row versions as data file(s), invisible
        to every catalog-driven surface until refresh(): ONE flat file
        for flat layouts by default (coalesce(1) — DML batches are
        bounded by the DV caps, so a single file keeps the maintenance
        story O(1) files per verb; ``target_files=None`` keeps the
        batch's natural partitioning for large parallel ingest, N
        coalesces to N); for hive layouts the batch writes
        ``partitionBy(partition columns)`` into an underscore staging
        dir (invisible to listings) and each part file moves into its
        partition directory under a unique name — an UPDATE that moves
        a row across partitions lands it in its NEW partition. Returns
        the landed paths."""
        import shutil

        partitioned = self.partitioned
        part_cols = sorted(self._partition_cols)
        tmp = os.path.join(self.data_dir, f"_stage_{prefix}")
        writer = batch.write.mode("overwrite")
        if partitioned and part_cols:
            writer = writer.partitionBy(*part_cols)
        else:
            if target_files is not None:
                batch = batch.coalesce(target_files)
            writer = batch.write.mode("overwrite")
        writer.parquet(tmp)
        existing = {f[0] for f in self.catalog.all_files()}
        landed: List[str] = []
        counters: Dict[str, int] = {}
        for dirpath, _dirs, files in sorted(os.walk(tmp)):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.relpath(dirpath, tmp)
                dest_dir = (self.data_dir if rel == "."
                            else os.path.join(self.data_dir, rel))
                os.makedirs(dest_dir, exist_ok=True)
                i = counters.get(dest_dir, 0)
                while True:
                    name = f"{prefix}_{i:06d}.parquet"
                    dest = os.path.join(dest_dir, name)
                    key = (os.path.relpath(dest, self.data_dir)
                           if partitioned else name)
                    if key not in existing and not os.path.exists(dest):
                        break
                    # skip landed-but-uncataloged leftovers of a
                    # crashed verb instead of overwriting them
                    i += 1
                counters[dest_dir] = i + 1
                os.replace(os.path.join(dirpath, fn), dest)
                landed.append(dest)
        shutil.rmtree(tmp, ignore_errors=True)
        return landed

    def append(self, batch: DataFrame,
               target_files: Optional[int] = 1,
               merge_schema: bool = False) -> int:
        """INSERT — the public ingest verb (Delta's ``INSERT INTO`` /
        the reference's own maintenance entry point, index.rs:179):
        land ``batch`` as new data file(s) via the same staged
        ``_land_batch`` protocol every DML verb uses, then refresh()
        indexes them — fresh exact statistics, visible to every
        catalog-driven surface atomically at the refresh. Returns the
        number of rows appended.

        ``target_files``: flat-layout file-count control. The default
        1 keeps small appends O(1) files (the DML-batch posture);
        pass ``None`` for LARGE ingest — the batch keeps its natural
        partitioning and every shuffle partition writes its own file
        in parallel (a TB-scale INSERT must not serialize through one
        write task), at the cost of more files for OPTIMIZE to pack
        later. Hive layouts always land partition-parallel.

        Schema contract: ``batch`` must carry exactly the table's
        columns (any order; they are realigned) — a missing or extra
        column raises before anything lands. Column TYPES must match
        or widen losslessly (byte<short<int<long, float<double —
        widened batches are CAST to the table type so landed files
        stay physically homogeneous); anything else refuses LOUDLY
        before a byte lands, because a landed narrower/incompatible
        column poisons every subsequent fixed-schema read
        (PARQUET_COLUMN_DATA_TYPE_MISMATCH in the vectorized reader).
        Empty batches land nothing and return 0.

        ``merge_schema=True`` (opt-in SCHEMA EVOLUTION — Delta's
        mergeSchema): a batch carrying every table column PLUS new
        ones lands and EVOLVES the table — the table schema becomes
        the union (new columns nullable), future reads union footers
        (``self.merge_schema``), pre-evolution files read the new
        columns as NULL, and the index records them as PROVEN all-null
        (the q72 machinery) so a predicate on an evolved+indexed
        column prunes the entire pre-evolution era from the catalog
        alone. Missing table columns still refuse — evolution only
        ADDS columns, never silently drops data. The default stays the
        loud exact-schema refusal.

        Failure posture (same as merge_upsert's first half): a crash
        after the land but before refresh() leaves the file on disk
        uncataloged — invisible until the next refresh(), which
        completes the append; rows are never silently lost. Plain
        INSERT has no delete step, so there is no duplicate window —
        but a caller-level RETRY of a crashed append is a second
        insert (standard non-idempotent INSERT semantics; use
        merge_upsert for idempotent ingest by key). At 100 TB the cost
        is O(batch) write + O(new files) footer reads; existing files
        and their statistics are untouched. On hive layouts the batch
        lands partition-aware (one file per touched partition
        directory)."""
        from pyspark.sql.types import StructField, StructType

        evolved_fields = []
        if self._schema is not None:
            want = [f.name for f in self._schema.fields]
            have = set(batch.columns)
            missing = sorted(set(want) - have)
            extra = sorted(have - set(want))
            if merge_schema and extra and not missing:
                # schema evolution: existing columns realigned and
                # type-conformed first, new columns appended (nullable
                # — pre-evolution files read them as NULL)
                batch = self._conform_batch_types(batch, "append")
                batch = batch.select(*want, *extra)
                by_name = {f.name: f for f in batch.schema.fields}
                evolved_fields = [
                    StructField(c, by_name[c].dataType, True)
                    for c in extra]
            elif missing or extra:
                hint = ("; pass merge_schema=True to evolve the "
                        "schema with the new columns"
                        if extra and not missing else "")
                raise ValueError(
                    f"append batch schema mismatch: missing {missing}, "
                    f"unexpected {extra} (table columns: {want}){hint}")
            else:
                batch = self._conform_batch_types(
                    batch, "append").select(*want)
        # optimistic-concurrency gate BEFORE anything lands (the
        # landing below is the expensive half; a refusal here costs
        # zero write I/O and leaves nothing to clean up). Landing +
        # refresh stay inside the mutation scope: the writer lease
        # keeps another in-process writer from committing and mutating
        # (optimize/compact evicting files) while this append's
        # committed work is still indexing.
        with self._dml_mutation_scope(self._dml_begin(), "append"):
            return self._append_land_and_index(
                batch, target_files, evolved_fields)

    def _append_land_and_index(self, batch, target_files,
                               evolved_fields) -> int:
        """Mutation half of append(): land the batch, commit any
        schema evolution, refresh. Runs inside ``_dml_mutation_scope``."""
        from pyspark.sql.types import StructType

        landed = self._land_batch(batch, "insert",
                                  target_files=target_files)
        n_ins = self._count_landed_or_discard(landed)
        if not n_ins and not evolved_fields:
            return 0
        if evolved_fields:
            # Delta's mergeSchema contract: the schema evolution commits
            # even when the batch lands zero rows — the caller asked for
            # the new columns, and silently dropping them on an empty
            # write would leave no error and no evolved schema.
            # commit the evolution BEFORE refresh() so the re-index and
            # every subsequent fixed-schema read see the union schema;
            # merge_schema makes any future from-scratch inference
            # union footers too. The refresh is FULL: pre-evolution
            # files must backfill PROVEN all-null stats on any newly
            # indexed column (a one-time O(files) footer pass — the
            # incremental size-match skip would leave them unprunable).
            self.merge_schema = True
            self._schema = StructType(
                list(self._schema.fields) + evolved_fields)
        self.refresh(full=bool(evolved_fields))
        self._refresh_views()
        return n_ins

    # lossless numeric widenings the landing verbs CAST to the table
    # type (keeps landed files physically homogeneous); anything else
    # is a loud refusal — a landed narrower/incompatible column poisons
    # every later fixed-schema read of the whole table
    _SAFE_WIDENINGS = {
        "byte": ("short", "integer", "long"),
        "short": ("integer", "long"),
        "integer": ("long",),
        "float": ("double",),
    }

    def _conform_batch_types(self, batch: DataFrame,
                             verb: str) -> DataFrame:
        """Type-conform a landing batch's TABLE columns to the table
        schema: identical types pass, lossless widenings are cast,
        anything else raises before a byte lands. Non-table (evolving)
        columns pass through untouched."""
        from pyspark.sql import functions as F

        table_types = {f.name: f.dataType for f in self._schema.fields}
        batch_types = {f.name: f.dataType for f in batch.schema.fields}
        # hive PARTITION columns are directory-encoded, never stored in
        # the file — they serialize as path strings and cannot poison a
        # landed file's physical schema, so they keep the old
        # unconformed behavior
        part_cols = self._partition_cols
        out = []
        for name in batch.columns:
            bt = batch_types[name]
            tt = table_types.get(name)
            if tt is None or bt == tt or name in part_cols:
                out.append(F.col(name))
                continue
            if tt.typeName() in self._SAFE_WIDENINGS.get(
                    bt.typeName(), ()):
                out.append(F.col(name).cast(tt).alias(name))
                continue
            raise ValueError(
                f"{verb} batch column {name!r} has type "
                f"{bt.simpleString()} but the table stores "
                f"{tt.simpleString()}: only lossless numeric widenings "
                f"(byte<short<int<long, float<double) are cast; "
                f"anything else would land a file every subsequent "
                f"read of the table fails on. Cast the batch "
                f"explicitly if the conversion is intended")
        return batch.select(*out)

    @staticmethod
    def _count_landed_or_discard(landed: List[str]) -> int:
        """Row count of a just-landed batch from its parquet FOOTERS
        (never a second plan execution — the landed bytes are the
        deterministic record); an empty batch's zero-row files are
        removed so the next refresh() cannot index them. Shared by
        every landing verb (append / merge_upsert) so the
        crash-sensitive landing logic lives once."""
        import pyarrow.parquet as _pq

        n = sum(_pq.ParquetFile(p).metadata.num_rows for p in landed)
        if not n:
            for p in landed:
                os.remove(p)
        return n

    def merge_upsert(self, updates: DataFrame,
                     key_column: str) -> Tuple[int, int]:
        """MERGE (upsert) by key: land the updates as ONE new file,
        logically delete current rows whose key appears in it
        (deletion vectors via the distributed semi-join in
        ``delete_matching`` — no driver-side key list, no file
        rewrite), then refresh() the index over both. Returns
        (rows_deleted, rows_inserted).

        Failure-atomicity ordering: the new versions land on disk
        FIRST. A landed file is invisible to every catalog-driven
        surface until refresh() (plan_scan/query/delete read the
        catalog's file list, and refresh only runs after both steps
        succeed), so a crash between the two steps leaves RECOVERABLE
        duplicates — old and new versions both present after the next
        refresh — never silently lost rows. (The reverse order commits
        the deletes first; dying before the updates land loses the
        merged keys' rows from every surface.) To recover from a crash
        in the window, run ``delete_matching(spark.read.parquet(
        <landed upsert file>), key)`` BEFORE any refresh, then
        refresh(); or simply deduplicate by key downstream. The delete
        step derives its victim keys from the landed file itself, so a
        nondeterministic ``updates`` plan cannot delete keys it never
        inserted. On hive layouts the batch lands partition-aware
        (one file per touched partition directory)."""
        # same landing type contract as append: identical or
        # losslessly widened (cast) column types only — a mis-typed
        # upsert file would poison every later read of the table
        if self._schema is not None:
            updates = self._conform_batch_types(updates, "merge_upsert")
        # optimistic-concurrency gate BEFORE anything lands; the
        # delete half re-gates with its own version read (each CAS
        # advances the version once — nested verbs are serialized the
        # same way independent ones are). The whole verb holds the
        # writer lease (reentrant — the nested delete re-enters).
        with self._dml_mutation_scope(self._dml_begin(), "merge"):
            return self._merge_land_and_delete(updates, key_column)

    def _merge_land_and_delete(self, updates, key_column):
        """Mutation half of merge_upsert(): land, delete old versions,
        refresh. Runs inside ``_dml_mutation_scope``."""
        landed = self._land_batch(updates, "upsert")
        n_ins = self._count_landed_or_discard(landed)
        if not n_ins:
            return 0, 0
        # victims from the LANDED bytes (deterministic, single
        # execution of the updates plan above); the landed files are
        # not in the catalog yet, so their rows cannot be deleted
        reader = self.spark.read
        if self.partitioned:
            reader = reader.option("basePath", self.data_dir)
        victims = reader.parquet(*landed)
        try:
            n_del = self.delete_matching(victims, key_column)
        except DVCapExceeded:
            # the per-call DV cap raises BEFORE any deletion vector
            # commits (deterministic, no crash involved): remove the
            # landed batch so the next refresh() cannot silently index
            # it as duplicate rows, then surface the refusal
            # (ADVICE r8, medium). EXACTLY this type — never bare
            # ValueError, which pyarrow's ArrowInvalid subclasses and
            # which can escape the per-file commit loop after earlier
            # files' vectors committed, where removing the landed
            # batch would permanently lose their rows. All other
            # failures keep the documented crash-window recovery
            # (duplicates, heals on delete_matching + refresh) —
            # cleanup is only safe while nothing has committed.
            for p in landed:
                if os.path.exists(p):
                    os.remove(p)
            raise
        self.refresh()
        self._refresh_views()
        return n_del, n_ins

    def update_where(self, predicate: Expr,
                     assignments: Dict[str, str]) -> int:
        """Row-level UPDATE without rewriting existing files — the
        merge-on-read UPDATE (Delta's UPDATE shape over the external
        index): the matching LIVE rows are read once (pruned scan +
        DV anti-filter + residual predicate), the ``assignments``
        ({column: SQL expression over the row, e.g.
        {"cents": "cents + 100"}}) produce the new versions, the batch
        lands as ONE new indexed file, and the old versions are
        logically deleted via deletion vectors. Failure-ordered like
        merge_upsert: the new versions land BEFORE the deletes commit,
        so a crash in the window leaves recoverable duplicates, never
        lost rows. Returns the number of rows updated. At 100 TB: ONE
        pruned victim read serves both the update batch and the
        delete — the matched rows' (file, position) pairs are captured
        in the same cached frame the new versions are computed from,
        so the victim files are scanned once, not twice — plus an
        O(batch) write; files without matches are never read, nothing
        is rewritten. On hive layouts the batch lands partition-aware
        — an assignment that changes a partition column moves the rows
        into their new partition directories.

        Cap semantics: the cached victim count IS the exact delete
        count, known before anything lands or commits — a predicate
        matching more than DV_MAX_DELETED_PER_CALL rows raises
        DVCapExceeded with zero write I/O, never stranding landed
        duplicates on disk for the next refresh() to index
        silently."""
        from pyspark.sql import functions as F

        bad = sorted(set(assignments)
                     - {f.name for f in self._schema.fields})
        if bad:
            raise ValueError(
                f"update_where assignments reference columns not in "
                f"the table schema: {bad}")
        v0 = self._dml_begin()
        decision = self.plan_scan(predicate)
        if not decision.files_scanned:
            return 0
        df = self._scan(decision.file_names).filter(predicate.to_spark())
        # materialize file + position ALONGSIDE the data columns: the
        # same cached read feeds the update batch and the DV commit
        victims = df.select(
            self._dv_file_key_col().alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
            *[F.col(f.name) for f in self._schema.fields]).persist()
        try:
            # the victim count — which EQUALS the delete count — is
            # known from the cached read before anything lands, so the
            # cap refuses with ZERO write I/O and no landed batch to
            # clean up (review r9: the footer-count variant wrote the
            # full update batch to disk only to remove it again)
            n_upd = victims.count()
            if not n_upd:
                return 0
            if n_upd > self.DV_MAX_DELETED_PER_CALL:
                raise DVCapExceeded(
                    f"update matches {n_upd} rows > "
                    f"DV_MAX_DELETED_PER_CALL="
                    f"{self.DV_MAX_DELETED_PER_CALL}; nothing was "
                    f"landed or deleted. Rewrite-the-files tools "
                    f"(compact_small_files / an overwrite) are the "
                    f"right shape at that volume")
            # one SELECT, every RHS evaluated against the ORIGINAL
            # row — SQL UPDATE semantics: SET a = b, b = a swaps (a
            # sequential withColumn chain would feed later assignments
            # the already-updated values and silently corrupt
            # cross-referencing sets)
            exprs = {c: F.expr(sql).cast(self._schema[c].dataType)
                     for c, sql in assignments.items()}
            updated = victims.select(
                *[exprs.get(f.name, F.col(f.name)).alias(f.name)
                  for f in self._schema.fields])
            # optimistic-concurrency gate BEFORE anything lands: a
            # refusal here costs zero write I/O and zero cleanup.
            # Landing + DV store share the writer lease (the nested
            # _dv_store_victims scope re-enters it).
            with self._dml_mutation_scope(v0, "update"):
                self._land_batch(updated, "update")
                # the landed files are invisible to the catalog until
                # refresh() — old versions go, new versions stay
                self._dv_store_victims(
                    victims.select("__file", "__pos", *self.sum_columns),
                    n_upd)
        finally:
            victims.unpersist()
        self.refresh()
        self._refresh_views()
        return n_upd

    @staticmethod
    def _range_subtract(
        new_ranges: Sequence[Tuple[int, int]],
        old_ranges: Sequence[Tuple[int, int]],
    ) -> List[Tuple[int, int]]:
        """positions(new_ranges) − positions(old_ranges), as sorted
        (start, length) ranges — O(ranges) driver arithmetic on the
        compressed form, never an exploded position set (DV deltas can
        span millions of positions; the ranges stay thousands)."""
        old = sorted((int(s), int(s) + int(ln)) for s, ln in old_ranges)
        out: List[Tuple[int, int]] = []
        i = 0
        for s, ln in sorted(new_ranges):
            cur, e = int(s), int(s) + int(ln)
            while i < len(old) and old[i][1] <= cur:
                i += 1
            j = i
            while cur < e:
                if j >= len(old) or old[j][0] >= e:
                    out.append((cur, e - cur))
                    cur = e
                else:
                    os_, oe = old[j]
                    if os_ > cur:
                        out.append((cur, os_ - cur))
                    cur = max(cur, oe)
                    if oe <= e:
                        j += 1
        return out

    def restore(self, snapshot_id: int,
                force: bool = False) -> Dict[str, int]:
        """RESTORE the table to a snapshot — Delta's ``RESTORE TABLE
        ... TO VERSION`` re-expressed over the external index: the
        indexed file set reverts to the snapshot's manifest (files
        landed since are removed, bytes + catalog rows — they hold
        only post-snapshot versions, so the snapshot loses nothing)
        and the deletion-vector state reverts to the snapshot's
        recorded copy, so rows deleted since come back and the era's
        own deletions re-apply. O(extra files + DV rows): the
        surviving data bytes are never touched or rewritten.

        Fails LOUDLY before mutating anything when any recorded file
        has changed or vanished (compaction rewrote it, or it was
        deleted) — the same cannot-reconstruct contract as as-of
        reads; raises KeyError for an unknown/expired snapshot id.

        Unlike Delta (where RESTORE only moves the log pointer and the
        newer versions' files survive until VACUUM), removing a
        post-snapshot file here is PHYSICAL — so when a LIVE NEWER
        snapshot still references a file this restore would remove
        (e.g. an append or update batch snapshotted afterwards), the
        restore REFUSES before mutating anything, naming the blocking
        snapshots: proceeding would silently destroy their
        reconstructability. Expire the newer snapshots first
        (``expire_snapshots``) or pass ``force=True`` to accept that
        those eras become irrecoverable (their later as-of reads then
        refuse loudly, per the snapshot contract — never a silently
        different answer).

        Idempotent and crash-resumable: the per-file removals commit
        independently, the DV restore is one catalog transaction, and
        a crash anywhere in between leaves a state a re-run completes
        (the documented window — extras partially removed, newer DVs
        still live — errs toward rows staying deleted, never
        resurrection). Returns {"files_removed": n, "dv_files":
        remaining-DV'd-file count}."""
        # KeyError for unknown/expired ids. The pre-mutation check runs
        # against the DISK (restore is the one verb that consults bytes
        # directly before touching them) with the same size →
        # footer_md5 → mtime_ns precedence as live DV retention: a
        # same-size rewrite perturbs the parquet footer, so the
        # recorded md5 refuses it LOUDLY before restore_dvs would
        # re-apply the snapshot's positional vectors to bytes with a
        # different row layout; an identical-content replace (fresh
        # mtime, same bytes) restores fine. The md5 probe is O(64 KiB)
        # per recorded file and only runs when sizes already match.
        v0 = self._dml_begin()
        recorded = self.catalog.snapshot_manifest(snapshot_id)
        for name, ident in sorted(recorded.items()):
            p = os.path.join(self.data_dir, name)
            st = os.stat(p) if os.path.exists(p) else None
            if _bytes_changed(ident, st and (
                    st.st_size, st.st_mtime_ns,
                    lambda: _stats._footer_md5(p, st.st_size))):
                raise ValueError(
                    f"snapshot {snapshot_id} cannot be reconstructed: "
                    f"recorded file {name!r} changed or vanished "
                    f"(compacted/rewritten since); nothing was "
                    f"restored")
        extras = [p for p in list_parquet_files(
                      self.data_dir,
                      recursive=self.partitioned)
                  if self._file_key(p) not in recorded]
        if not force and extras:
            # refuse BEFORE any removal when a live newer snapshot
            # still references a file this restore would delete.
            # The scan is pushed into the catalog
            # (snapshots_referencing: one indexed query, O(matches)) —
            # the per-snapshot manifest walk it replaces fetched every
            # newer snapshot's full file list, O(snapshots × files) at
            # 200k files (round-11 scale probe finding). Custom
            # catalogs without the method keep the walk.
            extra_keys = {self._file_key(p) for p in extras}
            ref = getattr(self.catalog, "snapshots_referencing", None)
            if ref is not None:
                blockers: Dict[str, List[int]] = ref(
                    extra_keys, snapshot_id)
            else:
                blockers = {}
                for sid in self.catalog.snapshot_ids():
                    if sid <= snapshot_id:
                        continue
                    for key in extra_keys & set(
                            self.catalog.snapshot_files(sid)):
                        blockers.setdefault(key, []).append(sid)
            if blockers:
                raise ValueError(
                    f"restore to snapshot {snapshot_id} would remove "
                    f"files still referenced by live newer snapshots "
                    f"{ {k: v for k, v in sorted(blockers.items())} } "
                    f"— expire those snapshots first "
                    f"(expire_snapshots) or pass force=True to make "
                    f"them irrecoverable; nothing was restored")
        # optimistic-concurrency gate: all checks above were reads;
        # refuse before the first removal if another writer committed.
        # Removals + DV restore run inside the mutation scope (CAS +
        # mutations under one writer lease).
        with self._dml_mutation_scope(v0, "restore"):
            removed = 0
            for p in extras:
                os.remove(p)
                # never-indexed files (a crash-landed batch) are a
                # silent no-op in both backends; a real catalog error
                # must surface, not strand a row pointing at removed
                # bytes
                self.catalog.remove_file(self._file_key(p))
                removed += 1
            self.catalog.restore_dvs(snapshot_id)
        self.refresh()
        self._refresh_views()
        return {"files_removed": removed,
                "dv_files": len(self.catalog.get_dv_ranges())}

    def read_changes(self, since: int, until: int,
                     change_col: str = "_change_type") -> DataFrame:
        """CHANGE DATA FEED between two snapshots — Delta CDF /
        Iceberg-changelog semantics re-expressed over the external
        index: every row inserted or deleted between era ``since`` and
        era ``until``, tagged ``'insert'``/``'delete'`` in
        ``change_col`` (a ``merge_upsert`` surfaces as delete+insert
        pairs, like Delta CDF without update preimages).

        Derivation is pure catalog arithmetic plus pruned positional
        reads — unchanged files are NEVER read, so at 100 TB the cost
        is O(changed files + deleted positions):

        - files recorded only in ``until``: their rows (minus
          until-era deletions) are inserts — one scan of exactly those
          files;
        - common files: the deletion-vector DELTA (until-positions
          minus since-positions, computed on the range-compressed form
          driver-side) is read positionally with a semi-join — those
          rows are deletes. DVs only grow between compactions, so the
          delta is exactly what the era transition removed.

        Both eras must still be reconstructible, the same loud-failure
        contract as as-of reads: a recorded file rewritten/compacted/
        removed since, or an expired snapshot, raises — a change feed
        is never silently wrong or partial. ``since`` must have been
        created no later than ``until``."""
        from pyspark.sql import functions as F

        if since > until:
            raise ValueError(
                f"read_changes requires since <= until, got "
                f"{since} > {until}")
        since_files = self._snapshot_guard(since)
        until_files = self._snapshot_guard(until)
        since_dv = self._dvs(since)
        until_dv = self._dvs(until)
        out_cols = [F.col(change_col)] + \
            [F.col(f.name) for f in self._schema.fields]
        parts: List[DataFrame] = []
        new_files = sorted(set(until_files) - set(since_files))
        if new_files:
            parts.append(self._scan(new_files, dvs=until_dv)
                         .withColumn(change_col, F.lit("insert"))
                         .select(*out_cols))
        delta = {}
        for f in sorted(set(since_files) & set(until_files)):
            d = self._range_subtract(until_dv.get(f, ()),
                                     since_dv.get(f, ()))
            if d:
                delta[f] = d
        if delta:
            # the raw rows, keeping ONLY the positions the era deleted
            dels = self._dv_position_join(
                self._scan(sorted(delta), dvs={}), delta, "left_semi")
            parts.append(dels.withColumn(change_col, F.lit("delete"))
                         .select(*out_cols))
        if not parts:
            from pyspark.sql.types import StringType, StructField, StructType
            empty_schema = StructType(
                [StructField(change_col, StringType())]
                + list(self._schema.fields))
            return local_frame(self.spark, [], empty_schema)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _read_rowgroups(
        self,
        decision: ScanDecision,
        predicate: Optional[Expr] = None,
        columns: Optional[Sequence[str]] = None,
        as_of: Optional[int] = None,
        local_max_bytes: int = 0,
        dv_rg: Optional[Dict[Tuple[str, int], int]] = None,
    ) -> DataFrame:
        """Exact row-group scan via the Python DataSource (Spark 4).
        Column pruning is pushed into the reader by narrowing the schema
        to projection ∪ predicate columns — pyarrow then reads only
        those column chunks (the Parquet column-pruning the native
        reader gets from Catalyst, reproduced for the Python path).

        The Python DataSource carries a fixed per-query tax (a Python
        planning round trip plus Python read workers — measured ~1 s vs
        0.2 s for the identical native scan), so it is the *exactness
        fallback*, used only for files where the access plan actually
        skips row groups. Files the plan covers completely read through
        the native vectorized reader — identical semantics, zero tax —
        and the two halves union (both are scans; no shuffle).

        Deletion vectors of the ``as_of`` era apply to both halves: the
        Python-DataSource half anti-filters positionally inside read()
        (it knows each row group's file-scoped row offsets from the
        footer), the native half is ``_scan``. Scanned rows therefore
        come back live-only — exactly what the aggregate pushdowns'
        BOUNDARY term needs, while their proven-full groups stay
        catalog arithmetic (stored values minus the recorded
        adjustments). ``dv_rg``: the era's {(file, row group): deleted
        rows} when the caller holds it; the era's vectors are then read
        only if a scanned group carries deletions.

        local_max_bytes > 0 arms a driver-side fast path for the
        internal boundary scans (count/sum/var/min-max pushdowns):
        when every scanned group is partial and the groups' total
        uncompressed size (from the footers the planner already prices
        everything with) fits the cap, the row groups are read with
        pyarrow on the driver — including the positional DV filter —
        and returned as a local
        DataFrame — skipping the Python DataSource's fixed per-query
        tax (a planning round trip + Python worker spin-up, ~0.5 s
        warm) that dwarfs the few-KB boundary read itself. This is the
        reference's own posture of bounded driver-side planning data
        (index.rs:158-161). The byte cap guards driver memory: above
        it — or on any conversion surprise — the distributed exact
        reader serves as before, so correctness never depends on the
        fast path. User-facing query(mode='rowgroups') keeps
        local_max_bytes=0: its result is a composable scan, not a
        bounded aggregate input."""
        # reset per scan: None = the fast path was not attempted for
        # THIS read (full files present, or local_max_bytes=0) —
        # without the reset the record reports the PREVIOUS query's
        # engagement as if it were current (review r9)
        self.last_local_read = None
        schema = self._schema
        if columns:
            needed = set(columns)
            if predicate is not None:
                needed |= predicate.columns()
            pruned = [f for f in self._schema.fields if f.name in needed]
            if pruned:
                from pyspark.sql.types import StructType
                schema = StructType(pruned)
        row_ranges = decision.row_ranges
        if dv_rg is None or any((fn, rg) in dv_rg for fn, rgs
                                in decision.files_scanned.items()
                                for rg in rgs):
            era = self._dvs(as_of)
        else:
            era = {}
        full_names, partial = [], {}
        for fname, rgs in decision.files_scanned.items():
            try:
                total = self.catalog.row_group_count(fname)
            except Exception:
                total = None  # not in catalog: stay on the exact path
            # a file with page-tier row ranges takes the exact path
            # even when every row group survives — the native reader
            # cannot skip rows inside a row group
            if (total is not None and len(rgs) >= total
                    and fname not in row_ranges):
                full_names.append(fname)
            else:
                partial[fname] = rgs
        parts_df = None
        if partial:
            path = {fn: os.path.join(self.data_dir, fn) for fn in partial}
            plan = {path[fn]: rgs for fn, rgs in partial.items()}
            dv_by_path = {path[fn]: [[int(s), int(ln)] for s, ln in era[fn]]
                          for fn in partial if fn in era}
            if local_max_bytes and not full_names:
                local = self._read_rowgroups_local(
                    plan, schema, local_max_bytes, dv_by_path=dv_by_path)
                if local is not None:
                    return local
            from .rowgroup_source import ensure_registered
            ensure_registered(self.spark)
            reader = (
                self.spark.read.format("rowgroup_parquet")
                .schema(schema)
                .option("access_plan", json.dumps(plan)))
            if dv_by_path:
                reader = reader.option("dv", json.dumps(dv_by_path))
            rr_by_path = {
                path[fn]: {str(rg): [[int(s), int(e)] for s, e in spans]
                           for rg, spans in row_ranges[fn].items()}
                for fn in partial if fn in row_ranges}
            if rr_by_path:
                reader = reader.option("row_ranges", json.dumps(rr_by_path))
            parts_df = reader.load()
        if not full_names:
            return parts_df
        native = self._scan(full_names, dvs=era).select(
            *[f.name for f in schema.fields])
        return native.unionByName(parts_df) if parts_df is not None else native

    # UNCOMPRESSED-byte ceiling on the row groups the driver decodes
    # itself, summed from the footers' total_byte_size: the
    # driver-side boundary read's groups, and compaction's units
    # (each DV'd file's largest group) — above it executors do the
    # work. The pushdowns' boundary sets are 1-2 row groups per file
    # by construction, so this is generous while still bounding
    # driver memory at ~the size of a few row groups
    ROWGROUP_LOCAL_MAX_BYTES = 8 << 20

    def _read_rowgroups_local(
        self,
        partial: Dict[str, List[int]],
        schema,
        max_bytes: int,
        dv_by_path: Optional[Dict[str, List[List[int]]]] = None,
    ) -> Optional[DataFrame]:
        """Bounded driver-side exact row-group read (see
        _read_rowgroups), deletion-vector-aware via the same positional
        filter the DataSource uses executor-side. Returns None — caller
        falls back to the distributed reader — when the groups'
        footprint exceeds max_bytes or the Arrow→Spark conversion hits
        a known unsupported-type/encoding error. The pyarrow reads and
        the DV anti-filter run OUTSIDE the catch: a real bug there must
        surface, not be masked as a perf fallback. Every demotion is
        recorded in ``last_local_read`` and logged.

        ``last_local_read`` (observability/tests): {"engaged": bool,
        "demoted": reason-or-None} for the most recent call."""
        import logging

        import pyarrow as pa
        import pyarrow.parquet as pq

        from .rowgroup_source import anti_filter_positions

        handles = []
        total = 0
        for path, rgs in sorted(partial.items()):
            pf = pq.ParquetFile(path)
            md = pf.metadata
            for rg in rgs:
                total += md.row_group(rg).total_byte_size
            if total > max_bytes:
                self.last_local_read = {
                    "engaged": False,
                    "demoted": f"cap: {total} > {max_bytes} bytes"}
                return None
            handles.append((path, pf, rgs))
        cols = [f.name for f in schema.fields]
        tables = []
        for path, pf, rgs in handles:
            t = pf.read_row_groups(list(rgs), columns=cols)
            ranges = (dv_by_path or {}).get(path)
            if ranges:
                t = anti_filter_positions(t, list(rgs),
                                          pf.metadata, ranges)
            tables.append(t)
        tbl = pa.concat_tables(tables) if len(tables) > 1 else tables[0]
        try:
            out = local_frame(self.spark, tbl.select(cols), schema)
        except (pa.lib.ArrowException, TypeError, ValueError) as e:
            # Arrow→Spark conversion gaps (unsupported arrow type /
            # value mapping) — the only demotion class besides the
            # byte cap. ANY pyarrow exception demotes (ArrowTypeError
            # subclasses TypeError with messages like "Expected bytes,
            # got ...", so an isinstance check on the Arrow BASE class
            # is the reliable discriminator, not message phrasing).
            # Plain TypeError/ValueError demote ONLY when the message
            # reads as a conversion gap: createDataFrame also raises
            # them for genuine driver bugs (schema/column-count
            # mismatch against the plan's own schema), and masking
            # those as a perf fallback hides the bug while the
            # distributed reader gives a different answer (ADVICE r9).
            msg = str(e).lower()
            conversion_gap = isinstance(
                e, pa.lib.ArrowException
            ) or any(k in msg for k in (
                "not supported", "unsupported", "not implemented",
                "cannot convert", "could not convert", "conversion"))
            if not conversion_gap:
                raise
            logging.getLogger(__name__).warning(
                "driver-side boundary read demoted to the distributed "
                "reader: %s", e)
            self.last_local_read = {"engaged": False,
                                    "demoted": f"conversion: {e}"}
            return None
        self.last_local_read = {"engaged": True, "demoted": None}
        return out

    # -- catalog-planned joins -----------------------------------------
    def query_join_pruned(
        self,
        key_column: str,
        other_df: DataFrame,
        other_key: str,
        predicate: Optional[Expr] = None,
        max_in_list: int = 64,
        **kw,
    ) -> DataFrame:
        """Sideways information passing (the external-index analog of
        dynamic partition pruning): before joining this table to a
        filtered small side, harvest the join-key domain from the other
        side with one tiny aggregate job, prune this table's scan to row
        groups whose [min,max] can intersect it, and return the pruned
        (residually filtered) DataFrame ready to join.

        If the other side has <= max_in_list distinct keys, an IN-list
        predicate is used (each key prunes by equality — tighter than the
        range); otherwise the [min,max] range bounds. Either way the
        derived predicate is only a *narrowing* — the join itself still
        enforces exact key equality, so correctness never depends on it.
        """
        from ..plans.expr import col as xcol
        from pyspark.sql import functions as F

        # NULLs must drop BEFORE the limit: a NULL occupying one of the
        # max_in_list+1 harvested slots could hide a real key while
        # len(keys) still looks complete, and the IN-list is applied as
        # an exact residual — an incomplete list would drop real join
        # rows. (NULL keys themselves never join: = NULL is never true.)
        keys = [r[0] for r in
                other_df.select(other_key)
                .where(F.col(other_key).isNotNull()).distinct()
                .limit(max_in_list + 1).collect()]
        if not keys:
            df = local_frame(self.spark, [], self._schema)
            self.last_scan = ScanDecision(
                "JOIN-PRUNED: empty build side", {}, len(self._files),
                self.catalog.totals()[1])
            self.scan_history.append(self.last_scan)
            return df
        if len(keys) <= max_in_list:
            derived: Expr = xcol(key_column).isin(sorted(keys))
        else:
            row = other_df.agg(F.min(other_key).alias("mn"),
                               F.max(other_key).alias("mx")).head()
            derived = ((xcol(key_column) >= row["mn"])
                       & (xcol(key_column) <= row["mx"]))
        full = derived if predicate is None else (predicate & derived)
        return self.query(full, **kw)

    def join_planned(
        self,
        predicate: Optional[Expr],
        other_df: DataFrame,
        key_column: str,
        other_key: str,
        broadcast_max_rows: Optional[int] = None,
    ) -> DataFrame:
        """Catalog-cost-based join strategy — the external-index CBO
        move the reference delegates to DataFusion's planner: Spark's
        STATIC size estimator sees a table's full file footprint, so a
        selective predicate over a big table never auto-broadcasts
        (AQE can fix it, but only at runtime after the first shuffle
        stage is planned). The index already knows better at PLAN time:
        the pruning decision's surviving row groups carry exact row
        counts, whose sum is a hard UPPER BOUND on the rows this side
        can produce. If that bound fits under broadcast_max_rows the
        pruned side is broadcast (each executor gets a copy — zero
        shuffle of the big probe side); otherwise the join shuffles
        normally. Like every narrowing here the decision affects only
        the PHYSICAL strategy, never the result: the join condition is
        enforced exactly either way. The decision is recorded in
        ``last_join_plan`` {est_rows_upper, threshold, strategy} so
        tests pin it. At 100 TB this is the difference between
        shuffling a petabyte probe side and shipping a few thousand
        surviving rows to each executor."""
        df = self.query(predicate) if predicate is not None else (
            self.to_df())
        if predicate is not None:
            dec = self.last_scan
            est = 0
            for fname, rgs in dec.files_scanned.items():
                rc = self.catalog.row_group_row_counts(fname)
                est += sum(rc[rg] for rg in rgs)
        else:
            est = self.catalog.totals()[2]
        if broadcast_max_rows is None:
            broadcast_max_rows = 500_000
        strategy = ("broadcast" if est <= broadcast_max_rows
                    else "shuffle")
        self.last_join_plan = {"est_rows_upper": int(est),
                               "threshold": int(broadcast_max_rows),
                               "strategy": strategy}
        from pyspark.sql import functions as F

        side = F.broadcast(df) if strategy == "broadcast" else df
        return side.join(other_df,
                         side[key_column] == other_df[other_key])

    def order_limit(
        self,
        column: str,
        k: int,
        descending: bool = True,
        tiebreak: Sequence[str] = (),
        predicate: Optional[Expr] = None,
    ) -> DataFrame:
        """ORDER BY column LIMIT k through the index — TopK pushdown,
        the ordering generalization of the reference's plain LIMIT
        flow-through (main.rs:285): most row groups provably cannot
        hold a top-k row and are never read.

        Threshold derivation (descending; ascending mirrors): every
        group guarantees (row_count - null_count) values >= its MIN, so
        sorting group mins descending and accumulating those guaranteed
        counts until >= k yields a bound t with at least k values >= t
        in the table — the true k-th value is >= t, and only groups
        whose MAX >= t can contribute. Groups with missing stats always
        scan; if fewer than k non-null values are guaranteed the whole
        candidate set scans (NULL rows may then appear in the tail,
        Spark orders them last). Widened decimal bounds stay sound
        (wider => keeps more); float columns prune only when PROVEN
        NaN-free (``nan_count_columns``) because an invisible NaN
        outranks every stats-visible value. The residual orderBy+limit
        re-sorts scanned rows exactly, so pruning is (as everywhere)
        an optimization, never a semantics change.

        NULL ordering: NULLS LAST in BOTH directions (explicit sort
        flags — Spark's bare ASC would put NULLs first while DuckDB
        puts them last; the explicit form is the one semantics both
        engines express identically, and the one the pruning analysis
        assumes).

        ``last_topk_pushdown`` records {threshold, scanned_row_groups,
        candidate_row_groups}. At 100 TB: top-k by time or score reads
        the few tail row groups of a sorted layout instead of the
        corpus."""
        from pyspark.sql import functions as F

        order = [F.col(column).desc_nulls_last() if descending
                 else F.col(column).asc_nulls_last()]
        order += [F.col(c).asc_nulls_last() for c in tiebreak]
        if self.partitioned or self._dvs():
            # the row-group reader cannot surface partition columns —
            # nor row positions for the deletion-vector anti-filter;
            # both layouts fall back to the pruned native scan (which
            # applies DVs exactly)
            self.last_topk_pushdown = None
            return self.query(predicate).orderBy(*order).limit(k)
        decision = self.plan_scan(predicate)
        candidates = [(fn, rg) for fn, rgs in decision.files_scanned.items()
                      for rg in rgs]
        try:
            entries = self.catalog.column_rg_entries_keyed(column)
        except KeyError:
            entries = None
        nan_safe = (self.index_schema.get(column) != "float"
                    or self._column_nan_free(column))
        keep = candidates
        threshold = None
        if entries is not None and nan_safe and candidates:
            guaranteed = []
            for key in candidates:
                nc, lo, hi, rc = entries.get(key, (None, None, None, None))
                if lo is not None:
                    guaranteed.append(((lo if descending else hi),
                                       rc - (nc or 0)))
            guaranteed.sort(key=lambda g: g[0], reverse=descending)
            acc = 0
            for bound, nn in guaranteed:
                acc += nn
                if acc >= k:
                    threshold = bound
                    break
            if threshold is not None:
                keep = []
                for key in candidates:
                    nc, lo, hi, rc = entries.get(
                        key, (None, None, None, None))
                    edge = hi if descending else lo
                    if edge is None or (edge >= threshold if descending
                                        else edge <= threshold):
                        keep.append(key)
        pruned: Dict[str, List[int]] = {}
        for fn, rg in keep:
            pruned.setdefault(fn, []).append(rg)
        topk_decision = ScanDecision(
            f"TOPK({column} {'DESC' if descending else 'ASC'} LIMIT {k})"
            + (f" AND {decision.predicate}" if predicate is not None else ""),
            {fn: sorted(rgs) for fn, rgs in pruned.items()},
            decision.total_files, decision.total_row_groups)
        self.last_scan = topk_decision
        self.scan_history.append(topk_decision)
        self.last_topk_pushdown = {
            "threshold": threshold,
            "scanned_row_groups": topk_decision.row_groups_scanned,
            "candidate_row_groups": len(candidates)}
        df = self._read_rowgroups(
            topk_decision, predicate,
            local_max_bytes=self.ROWGROUP_LOCAL_MAX_BYTES)
        if predicate is not None:
            df = df.filter(predicate.to_spark())
        return df.orderBy(*order).limit(k)

    def maintenance_report(self, small_file_bytes: int = 128 << 20
                           ) -> Dict:
        """The maintenance dashboard a 100 TB operator acts on — pure
        catalog fold, zero Parquet I/O: how much merge-on-read debt
        (deletion vectors) and small-file pressure the table carries,
        and which verb pays it down. ``needs_compact`` flags DV'd files
        (run ``compact_deletes``); ``small_files`` counts live files
        under ``small_file_bytes`` (run ``compact_small_files``);
        ``snapshots`` is the retention backlog (``expire_snapshots``).
        """
        files = self.catalog.all_files()
        dv_rows = self.catalog.dv_deleted_rows()
        small = [f for f in files if f[1] < small_file_bytes]
        # public backend surface: a genuine backend error surfaces
        # instead of being misreported as "no snapshot store"; only a
        # catalog class that truly lacks snapshots reports None
        count = getattr(self.catalog, "snapshot_count", None)
        snaps = count() if callable(count) else None
        return {
            "files": len(files),
            "rows": sum(f[3] for f in files),
            "bytes": sum(f[1] for f in files),
            "dv_files": len(dv_rows),
            "dv_deleted_rows": sum(dv_rows.values()),
            "needs_compact": sorted(dv_rows),
            "small_files": len(small),
            "small_file_bytes_threshold": small_file_bytes,
            "snapshots": snaps,
        }

    def describe_index(self) -> Dict:
        """DESCRIBE-style catalog readout — the observability a 100 TB
        operator pages on: what is indexed, how fresh, how complete.
        Pure catalog fold, zero Parquet I/O. Returns::

            {"files": n, "row_groups": n, "rows": n,
             "bloom_columns": [...], "token_bloom_columns": [...],
             "columns": {col: {"category": str,
                               "row_groups_with_stats": n,
                               "null_count": total-or-None,
                               "min": v, "max": v,
                               "bounds_exact": bool}}}

        null_count is None when any row group lacks a null count (the
        total would be a lower bound, not an answer). bounds_exact
        reports the same trust decision min_max() makes — False means
        min/max are valid bounds that may not be attained values
        (truncated string stats)."""
        files = self.catalog.all_files()
        out: Dict = {
            "files": len(files),
            "row_groups": sum(f[2] for f in files),
            "rows": sum(f[3] for f in files),
            "bloom_columns": list(self.bloom_columns),
            "token_bloom_columns": list(
                self.token_bloom_columns),
            # per sum column: how many row groups carry a stored sum —
            # partial coverage is legal (those groups scan), so the
            # operator can see how much pushdown they actually get
            "sum_coverage": {
                c: len(self.catalog.get_sums(c))
                for c in self.sum_columns},
            # merge-on-read DML state: how much of the table is
            # logically deleted and where — the operator's signal for
            # when compact_deletes() pays for itself
            "deletion_vectors": {
                "files_with_dvs": len(self._dvs()),
                "deleted_rows": sum(
                    self.catalog.dv_deleted_rows().values()),
                "ranges": sum(len(r) for r in self._dvs().values()),
            },
            "columns": {},
        }
        for col, cat in self.index_schema.items():
            entries = self.catalog.column_rg_entries_keyed(col).values()
            with_stats = sum(1 for _, lo, _, _ in entries if lo is not None)
            nulls = (sum(nc for nc, _, _, _ in entries)
                     if all(nc is not None for nc, _, _, _ in entries)
                     else None)
            mn, mx, complete = self.catalog.column_bounds(col)
            out["columns"][col] = {
                "category": cat,
                "row_groups_with_stats": with_stats,
                "null_count": nulls,
                "min": mn,
                "max": mx,
                "bounds_exact": bool(
                    complete and self._bound_is_exact(col, mn)
                    and self._bound_is_exact(col, mx)),
            }
            if cat == "float":
                # NaN accounting status: True = proven NaN-free (opt-in
                # counts recorded, all zero), False = NaN present or
                # unknown — the reason a float's bounds_exact may be
                # False despite complete stats
                out["columns"][col]["nan_free"] = self._column_nan_free(col)
        return out

    # -- convenience ---------------------------------------------------
    def to_df(self) -> DataFrame:
        """Unpruned full-table scan of the catalog's file set, like
        ``query(None)`` — a file dropped into the directory stays
        invisible until refresh() indexes it — with deletion vectors
        applied (every read surface hides logically deleted rows)."""
        return self._scan(sorted(f[0] for f in self.catalog.all_files()))

    def create_temp_view(self, view_name: Optional[str] = None) -> None:
        """Register the (DV-filtered) full scan as a temp view. A view
        pins its plan at registration, so every DML mutation
        (delete/merge/compact) re-registers the views this table
        created — the 'every read surface hides deleted rows' contract
        holds through views too."""
        name = view_name or self.name
        self.to_df().createOrReplaceTempView(name)
        self._registered_views |= {name}

    def _refresh_views(self) -> None:
        for name in self._registered_views:
            self.to_df().createOrReplaceTempView(name)

    def sql(self, statement: str) -> DataFrame:
        """FULL-STATEMENT SQL with index pruning inside — the
        reference's primary interface (main.rs:146-149 runs whole
        SELECTs through DataFusion, whose scan prunes): ``t.sql(
        "SELECT k, SUM(v) FROM self WHERE v > 5 GROUP BY k LIMIT 3")``.

        The statement must reference the table as the literal word
        ``self``. With exactly ONE ``FROM self`` occurrence, the
        top-level WHERE clause (up to GROUP BY / HAVING / ORDER BY /
        LIMIT / WINDOW at paren-depth 0, string literals skipped,
        keyword word-boundaries respected) is parsed with the same
        grammar query_sql uses and drives the pruned scan; the pruned
        (residual-filtered) DataFrame is registered under a statement-
        local view and the FULL statement — projections, aggregates,
        windows, ORDER BY, LIMIT — executes on it through Catalyst.
        The WHERE clause is kept in the rewritten statement too
        (evaluating it twice is free after pushdown and keeps the SQL
        semantics authoritative). Statements without a WHERE, with a
        WHERE outside the parser's grammar, or with SEVERAL ``self``
        references (e.g. a subquery over self — whose rows the outer
        WHERE must NOT filter) run on the catalog-consistent full scan
        instead: correctness always wins; pruning applies to the
        single-reference shape."""
        import re

        occurrences = list(re.finditer(r"\bFROM\s+self\b", statement,
                                       flags=re.IGNORECASE))
        if not occurrences:
            raise ValueError(
                "t.sql() requires the FROM target to be the literal "
                "word 'self' (got: %r)" % statement)

        def _kw_at(i, kw):
            """keyword at i with word boundaries on BOTH sides."""
            if not statement.upper().startswith(kw, i):
                return False
            if i > 0 and (statement[i - 1].isalnum()
                          or statement[i - 1] == "_"):
                return False
            j = i + len(kw)
            return j >= len(statement) or not (statement[j].isalnum()
                                               or statement[j] == "_")

        df = None
        if len(occurrences) == 1:
            m = occurrences[0]
            # top-level WHERE span: depth-0 scan, 'quotes' skipped
            depth = 0
            where_start = where_end = None
            i = m.end()
            enders = ("GROUP", "HAVING", "ORDER", "LIMIT", "WINDOW")
            while i < len(statement):
                ch = statement[i]
                if ch == "'":
                    i += 1
                    while i < len(statement):
                        if statement[i] == "'":
                            if i + 1 < len(statement) \
                                    and statement[i + 1] == "'":
                                i += 2  # '' escape
                                continue
                            break
                        i += 1
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif depth == 0:
                    if where_start is None and _kw_at(i, "WHERE"):
                        where_start = i
                        i += 5
                        continue
                    if where_start is not None and any(
                            _kw_at(i, k) for k in enders):
                        where_end = i
                        break
                i += 1
            if where_start is not None:
                from ..plans.sql_predicate import parse_predicate
                clause = statement[where_start + 5:
                                   where_end if where_end
                                   else len(statement)]
                try:
                    df = self.query(parse_predicate(clause))
                except Exception:
                    df = None  # outside the grammar: full scan instead
        if df is None:
            df = self.query(None)
        safe = re.sub(r"[^A-Za-z0-9_]", "_", self.name)
        view = f"_idx_sql_{safe}_{abs(hash(statement)) % 10 ** 8}"
        df.createOrReplaceTempView(view)
        return self.spark.sql(
            re.sub(r"\bFROM\s+self\b", f"FROM {view}", statement,
                   flags=re.IGNORECASE))
