"""Parquet footer statistics extraction (no data pages read).

Re-expresses the reference's ``add_file``
(``/root/reference/sqlx-sqlite/src/index.rs:179-240``): open the Parquet
footer, pull per-row-group row counts and per-indexed-column
null_count / min / max, skipping columns whose statistics the index
cannot represent (the reference ``continue``s on unsupported converted
stats, ``index.rs:213-217`` — same semantic here: unsupported column =>
never indexed => never pruned on).

Scale posture: a footer read is a few KB of I/O regardless of file size;
indexing 100 TB of Parquet touches only footers.  ``build_index`` fans
the per-file extraction out through ``_fan_out`` (driver threads for few
files, one Spark job across executors for many) while the catalog write
stays a driver-side transaction; ``compact_deletes`` reuses the same
plan, fan-out and store step for the files it rewrites.
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .catalog import FileStats, RowGroupStats, SqliteIndexCatalog
from .page_index import extract_file_page_stats  # noqa: F401 (PAGES' extractor)
from .sidecars import STATISTICS

# Arrow type -> index type-category. Mirrors the reference's supported set
# (index.rs:396-415: all int widths, floats, Utf8, Binary) plus the
# timestamp/date extension. Spark has no unsigned ints — uint32 widens to
# long, uint64 to decimal at read time, but footer stats stay numeric so
# "int" covers them for pruning purposes.
def type_category(t: pa.DataType) -> Optional[str]:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"  # stats stored as ulp-widened doubles, see below
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t) or pa.types.is_fixed_size_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    return None  # unsupported => not indexable (reference index.rs:413 todo!)


def index_schema_for(schema: pa.Schema, columns: Sequence[str]) -> Dict[str, str]:
    """{column: category} for the requested columns, silently dropping
    unsupported types (conservative: they can simply never prune)."""
    out: Dict[str, str] = {}
    for name in columns:
        idx = schema.get_field_index(name)
        if idx < 0:
            continue
        cat = type_category(schema.field(idx).type)
        if cat is not None:
            out[name] = cat
    return out


TOKEN_BLOOM_SUFFIX = "#tokens"

# compiled once: _py_tokens runs once per ROW during token-bloom builds
import re as _re  # noqa: E402

from ..functions import TOKEN_SPLIT_RE as _TOKEN_SPLIT_RE  # noqa: E402

_TOKEN_RE = _re.compile(_TOKEN_SPLIT_RE)


def _py_tokens(text: str):
    """Python twin of functions.tokens / sql_tokens — the ONE tokenizer
    shared by the Spark residual filter, the DuckDB oracle, and the
    token-bloom build, so a bloom miss can never contradict the
    filter."""
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def extract_file_blooms(
    path: str, bloom_schema: Dict[str, str], fpp: float = 0.01,
) -> Dict[int, Dict[str, Tuple[int, int, bytes]]]:
    """{row_group: {column: (m, k, bits)}} — reads ONLY the bloom
    columns' pages (column-pruned pyarrow read), one row group at a
    time. bloom_schema: {column: type-category} (must be a subset of the
    index schema; see sources/bloom.py for which categories qualify).

    A key of the form ``col#tokens`` (category "string") builds the
    filter over the DISTINCT TOKEN SET of the string column instead of
    its values — the inverted-index-lite that lets contains_token
    predicates refute row groups."""
    from .bloom import (
        BLOOM_CATEGORIES, bloom_params, build_bloom, canonical_bytes,
    )
    from .catalog import encode_value

    cols = [c for c, cat in bloom_schema.items() if cat in BLOOM_CATEGORIES]
    if not cols:
        return {}
    read_cols = sorted({c.removesuffix(TOKEN_BLOOM_SUFFIX) for c in cols})
    pf = pq.ParquetFile(path)
    out: Dict[int, Dict[str, Tuple[int, int, bytes]]] = {}
    for i in range(pf.metadata.num_row_groups):
        tbl = pf.read_row_group(i, columns=read_cols)
        per_col: Dict[str, Tuple[int, int, bytes]] = {}
        for c in cols:
            cat = bloom_schema[c]
            if c.endswith(TOKEN_BLOOM_SUFFIX):
                base = c.removesuffix(TOKEN_BLOOM_SUFFIX)
                vals = {
                    cb for v in tbl.column(base).to_pylist()
                    if isinstance(v, str)
                    for t in _py_tokens(v)
                    if (cb := canonical_bytes("string", t)) is not None
                }
            else:
                vals = {
                    cb for v in tbl.column(c).to_pylist()
                    if v is not None
                    and (cb := canonical_bytes(cat, encode_value(cat, v)))
                    is not None
                }
            m, k = bloom_params(len(vals), fpp)
            per_col[c] = (m, k, build_bloom(vals, m, k))
        out[i] = per_col
    return out


def extract_file_sums(
    path: str, sum_cols: Sequence[str],
) -> Dict[int, Dict[str, Tuple[int, int, Optional[int]]]]:
    """{row_group: {column: (sum, non_null_count, sum_of_squares)}} for
    integer and decimal columns — the aggregate-statistics extension:
    Parquet footers carry no sums, so (like the bloom build) this reads
    ONLY the requested columns' pages, one row group at a time, and
    folds exact sums. Decimal sums are stored as UNSCALED integers (the
    same lossless discipline as the exact decimal bounds); the table
    layer rescales them back to Decimal on readout. Opt-in: index build
    cost rises from footer-only to one column scan per sum column,
    amortized over every pushed-down SUM/AVG afterwards.

    The second moment (exact integer Σx², None = not recorded) extends
    the same store to VAR/STDDEV pushdown: variance over proven-full
    row groups is pure catalog arithmetic from (Σx, Σx², n). Integer
    columns only — decimal second moments would need 2×scale handling
    downstream, so they stay None and VAR demotes those groups to the
    scanned set (coverage degrades to correctness, never wrongness)."""
    if not sum_cols:
        return {}
    pf = pq.ParquetFile(path)
    cols = [c for c in sum_cols
            if pf.schema_arrow.get_field_index(c) >= 0
            and (pa.types.is_integer(pf.schema_arrow.field(c).type)
                 or pa.types.is_decimal(pf.schema_arrow.field(c).type))]
    if not cols:
        return {}
    out: Dict[int, Dict[str, Tuple[int, int, Optional[int]]]] = {}
    for i in range(pf.metadata.num_row_groups):
        tbl = pf.read_row_group(i, columns=cols)
        per_col: Dict[str, Tuple[int, int, Optional[int]]] = {}
        for c in cols:
            arr = tbl.column(c)
            typ = pf.schema_arrow.field(c).type
            n = len(arr) - arr.null_count
            if n == 0:
                per_col[c] = (0, 0, 0)
                continue
            if pa.types.is_decimal(typ):
                # decimal128 accumulation is exact to precision 38; a
                # true overflow raises and falls back to Python Decimal
                import decimal as _d
                try:
                    s_dec = pc.sum(arr, min_count=0).as_py()
                except Exception:
                    s_dec = sum(
                        (v for v in arr.to_pylist() if v is not None),
                        _d.Decimal(0))
                per_col[c] = (int(s_dec.scaleb(typ.scale)), n, None)
                continue
            # vectorized kernels; Arrow's sum accumulates in int64 and
            # WRAPS silently on overflow, so prove overflow impossible
            # from the row group's own min/max (n * max|v| fits int64)
            # before trusting it, else fold exact Python ints
            mm = pc.min_max(arr)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            maxabs = max(abs(lo), abs(hi))
            i64 = 2 ** 63 - 1
            if maxabs <= i64 // n:
                s = pc.sum(arr).as_py()
            else:
                s = sum(v for v in arr.to_pylist() if v is not None)
            # second moment: vectorized when n * maxabs² provably fits
            # int64 (same wrap-proofing discipline as the sum), exact
            # Python fold otherwise — the stored value is exact either
            # way, Python ints don't overflow
            if maxabs * maxabs <= i64 // n:
                sq = pc.sum(pc.multiply(arr, arr)).as_py()
            else:
                sq = sum(v * v for v in arr.to_pylist() if v is not None)
            per_col[c] = (int(s), n, int(sq))
        out[i] = per_col
    return out


def extract_file_hists(
    path: str, hist_specs: Dict[str, Tuple[int, int, int]],
) -> Dict[int, Dict[str, Tuple[int, int, int, List[int]]]]:
    """{row_group: {column: (lo, hi, nbins, counts)}} — the HISTOGRAM
    statistics extension: per-row-group equi-width bin counts for an
    integer column over a caller-fixed [lo, hi] domain, computed at
    index time from the column pages (same opt-in cost model as the
    sum store). Bin of value v: ((v - lo) * nbins) // (hi - lo + 1),
    clamped to [0, nbins-1] — pure integer arithmetic, so any engine
    recomputes the identical binning, and out-of-domain values land
    deterministically in the edge bins (spec the true domain for a
    meaningful estimate; correctness of the DETERMINISTIC estimate
    never depends on it). Nulls are excluded. Quantiles then fold
    from the catalog with zero Parquet I/O (table.hist_quantiles) —
    the moment-store idea extended from Σx/Σx² to the distribution's
    shape, which is what a P99 needs."""
    import numpy as np

    if not hist_specs:
        return {}
    pf = pq.ParquetFile(path)
    cols = {c: spec for c, spec in hist_specs.items()
            if pf.schema_arrow.get_field_index(c) >= 0
            and pa.types.is_integer(pf.schema_arrow.field(c).type)}
    if not cols:
        return {}
    out: Dict[int, Dict[str, Tuple[int, int, int, List[int]]]] = {}
    for i in range(pf.metadata.num_row_groups):
        tbl = pf.read_row_group(i, columns=list(cols))
        per_col: Dict[str, Tuple[int, int, int, List[int]]] = {}
        for c, (lo, hi, nbins) in cols.items():
            span = hi - lo + 1
            if span <= 0 or nbins <= 0:
                # explicit (not assert): under `python -O` an assert
                # vanishes and a bad spec silently produces garbage bins
                # (negative-span floor division) that hist_quantiles
                # would fold into wrong estimates
                raise ValueError(
                    f"invalid hist spec for {c!r}: lo={lo} hi={hi} "
                    f"nbins={nbins} (need hi >= lo and nbins > 0)")
            arr = tbl.column(c).combine_chunks()
            vals = arr.drop_null().to_numpy(zero_copy_only=False)
            if len(vals) == 0:
                per_col[c] = (lo, hi, nbins, [0] * nbins)
                continue
            vmax_abs = max(abs(int(vals.min()) - lo),
                           abs(int(vals.max()) - lo))
            if vmax_abs <= (2 ** 63 - 1) // max(nbins, 1):
                idx = (vals.astype(np.int64) - lo) * nbins // span
                idx = np.clip(idx, 0, nbins - 1)
                counts = np.bincount(idx, minlength=nbins)
            else:  # wrap-proof Python fold (astronomical domains)
                counts = np.zeros(nbins, dtype=np.int64)
                for v in vals.tolist():
                    b = min(max((int(v) - lo) * nbins // span, 0),
                            nbins - 1)
                    counts[b] += 1
            per_col[c] = (lo, hi, nbins, [int(x) for x in counts])
        out[i] = per_col
    return out


HLL_REGS = 64  # 2^6 registers: 60-bit hash -> 6 bucket bits + 54-bit rest
# raw-estimator constant alpha_m * m^2, pre-scaled by 2^55 so the
# indicator sum Σ 2^(55-M_j) stays exact in integers and the float
# division happens exactly once (the q42 formula, shared here so
# table.ndv_estimate and the queries agree to the last bit)
HLL_ALPHA_SCALED = (0.7213 / (1 + 1.079 / HLL_REGS)
                    * HLL_REGS * HLL_REGS * float(2 ** 55))


def hll_rho(v: int) -> int:
    """Rank of the 54-bit hash remainder — position of the highest set
    bit counted from 54 down (55 for v == 0), via integer compares
    only (no floating log). The Python twin of queries._hll_rho_sql /
    _hll_rho_col, so registers computed at index time, by a Spark job,
    or by a SQL oracle over the raw rows are bit-identical."""
    for k in range(53, -1, -1):
        if v >= 1 << k:
            return 54 - k
    return 55


def extract_file_ndv(
    path: str, ndv_cols: Sequence[str],
) -> Dict[int, Dict[str, List[int]]]:
    """{row_group: {column: registers}} — the NDV statistics extension:
    per-row-group HyperLogLog registers (HLL_REGS buckets) for an
    integer or string column, computed at index time from the column
    pages (opt-in, the sum store's cost model). Register j is the MAX
    over the row group's distinct values hashing to bucket j of
    hll_rho(hash >> 6), with hash = int of the first 15 md5 hex chars
    of the value's canonical string (functions.hash60 — verified
    identical in Spark, DuckDB and Python). Registers merge by
    elementwise MAX — across row groups, files, partitions or days —
    so an approximate COUNT DISTINCT folds from the catalog with ZERO
    Parquet I/O (table.ndv_estimate), and because register merging is
    associative the folded registers EQUAL the registers a single
    pass over the whole table would build: the estimate is a
    deterministic pure function of the value set, pinnable by an
    oracle. Nulls are excluded (COUNT DISTINCT semantics). Cost is
    O(distinct values) per row group at index time; the per-row-group
    footprint is HLL_REGS small ints regardless of cardinality."""
    import hashlib

    if not ndv_cols:
        return {}
    pf = pq.ParquetFile(path)
    cols = [c for c in ndv_cols
            if pf.schema_arrow.get_field_index(c) >= 0
            and (pa.types.is_integer(pf.schema_arrow.field(c).type)
                 or pa.types.is_string(pf.schema_arrow.field(c).type)
                 or pa.types.is_large_string(pf.schema_arrow.field(c).type))]
    if not cols:
        return {}
    out: Dict[int, Dict[str, List[int]]] = {}
    for i in range(pf.metadata.num_row_groups):
        tbl = pf.read_row_group(i, columns=cols)
        per_col: Dict[str, List[int]] = {}
        for c in cols:
            uniq = pc.unique(
                tbl.column(c).combine_chunks().drop_null()).to_pylist()
            regs = [0] * HLL_REGS
            for v in uniq:
                h = int(hashlib.md5(
                    str(v).encode("utf-8")).hexdigest()[:15], 16)
                r = hll_rho(h >> 6)
                b = h % HLL_REGS
                if r > regs[b]:
                    regs[b] = r
            per_col[c] = regs
        out[i] = per_col
    return out


DICT_MAX_VALUES = 64  # per (row group, column) distinct-value cap


def extract_file_dicts(
    path: str, dict_cols: Sequence[str], cap: int = DICT_MAX_VALUES,
) -> Dict[int, Dict[str, List[Tuple[Any, int]]]]:
    """{row_group: {column: [(value, count), ...] sorted by value}} — the
    DICTIONARY/FREQUENCY statistics extension: the exact distinct-value →
    row-count map of a LOW-CARDINALITY int or string column per row
    group, computed at index time from the column pages (the sum store's
    opt-in cost model). Nulls are excluded (null_count already lives in
    the base stats). A (row group, column) whose distinct count exceeds
    ``cap`` records NOTHING — unknown, so consumers fall back to a scan;
    the catalog footprint stays O(row_groups · cap) regardless of data
    volume.

    Three capabilities none of the other statistics give:

    - exact zero-I/O ``GROUP BY col, COUNT(*)`` on a FLAT layout
      (table.group_counts) — counts fold by addition across row groups
      with no single-valued-group trust rules, unlike count_rows_by
      which needs a partitioned/clustered layout;
    - exact zero-I/O ``SELECT DISTINCT col`` (table.distinct_values) —
      set union across row groups;
    - ``!=`` / ``NOT IN`` row-group pruning (table._dict_refine): a row
      group whose recorded value set is contained in the excluded
      literal set cannot satisfy the predicate (nulls fail it too), so
      it is skipped — a refutation min/max can only make when min = max
      and a Bloom filter can never make (membership proves presence,
      not absence of everything else).

    The map is a pure function of the row group's rows, so any engine
    recomputing it relationally (GROUP BY + COUNT) reproduces it
    exactly — DuckDB-oracle-pinnable end to end."""
    if not dict_cols:
        return {}
    pf = pq.ParquetFile(path)
    cols = [c for c in dict_cols
            if pf.schema_arrow.get_field_index(c) >= 0
            and (pa.types.is_integer(pf.schema_arrow.field(c).type)
                 or pa.types.is_string(pf.schema_arrow.field(c).type)
                 or pa.types.is_large_string(pf.schema_arrow.field(c).type))]
    if not cols:
        return {}
    out: Dict[int, Dict[str, List[Tuple[Any, int]]]] = {}
    for i in range(pf.metadata.num_row_groups):
        tbl = pf.read_row_group(i, columns=cols)
        per_col: Dict[str, List[Tuple[Any, int]]] = {}
        for c in cols:
            vc = pc.value_counts(tbl.column(c).combine_chunks().drop_null())
            if len(vc) > cap:
                continue  # too many distincts: record nothing (unknown)
            per_col[c] = sorted(
                (d["values"], int(d["counts"])) for d in vc.to_pylist())
        out[i] = per_col
    return out


TOPK_K = 8  # stored values per (row group, column) in the top-k store


def extract_file_topk(
    path: str, topk_cols: Sequence[str], k: int = TOPK_K,
) -> Dict[int, Dict[str, Tuple[List[Tuple[Any, int]], int, int]]]:
    """{row_group: {column: (entries, rest_rows, kth_count)}} — the
    HEAVY-HITTER statistics extension: per row group, the k most
    frequent values of an int/string column with their exact counts
    (ties broken by value ascending, so the selection is a
    deterministic pure function of the multiset), plus ``rest_rows``
    (non-null rows NOT covered by the stored values) and ``kth_count``
    (the k-th stored count; 0 when the row group has fewer distincts).

    Unlike the dictionary store this works at ANY cardinality — the
    summaries are lossy but carry deterministic error bounds that fold:
    a value's whole-table count is at least the sum of its stored
    counts (lower), and in a row group that did NOT store it the count
    is at most min(kth_count, rest_rows) (it failed to make the top-k
    there), so upper = lower + Σ of that min over the missing row
    groups. This is the mergeable-summary shape of the
    Space-Saving/Misra-Gries family, but built offline per row group —
    which makes it ORDER-FREE (MG's decrements depend on arrival
    order; a per-row-group exact top-k does not), hence reproducible
    by any engine and DuckDB-oracle-pinnable. O(row_groups · k)
    catalog footprint; summaries keep folding across partitions, days,
    or tables at 100 TB — the repeat-buyer / hot-key dashboard from
    the index alone."""
    if not topk_cols:
        return {}
    pf = pq.ParquetFile(path)
    cols = [c for c in topk_cols
            if pf.schema_arrow.get_field_index(c) >= 0
            and (pa.types.is_integer(pf.schema_arrow.field(c).type)
                 or pa.types.is_string(pf.schema_arrow.field(c).type)
                 or pa.types.is_large_string(pf.schema_arrow.field(c).type))]
    if not cols:
        return {}
    out: Dict[int, Dict[str, Tuple[List[Tuple[Any, int]], int, int]]] = {}
    for i in range(pf.metadata.num_row_groups):
        tbl = pf.read_row_group(i, columns=cols)
        per_col: Dict[str, Tuple[List[Tuple[Any, int]], int, int]] = {}
        for c in cols:
            vc = pc.value_counts(tbl.column(c).combine_chunks().drop_null())
            pairs = sorted(((d["values"], int(d["counts"]))
                            for d in vc.to_pylist()),
                           key=lambda e: (-e[1], e[0]))
            stored = pairs[:k]
            total = sum(cnt for _, cnt in pairs)
            rest = total - sum(cnt for _, cnt in stored)
            kth = stored[k - 1][1] if len(stored) == k else 0
            per_col[c] = (stored, rest, kth)
        out[i] = per_col
    return out


def extract_file_nan_counts(
    path: str, nan_cols: Sequence[str],
) -> Dict[int, Dict[str, int]]:
    """{row_group: {column: nan_count}} for float columns — opt-in like
    the sum extension: Parquet footers EXCLUDE NaN from float min/max
    (and carry no NaN count), so proving a row group NaN-free needs one
    pass over the column's pages. A recorded 0 is what re-arms full
    float pruning (plans/pruning.py _nan_possible); columns never
    scanned stay NULL = unknown and degrade conservatively."""
    if not nan_cols:
        return {}
    pf = pq.ParquetFile(path)
    cols = [c for c in nan_cols
            if pf.schema_arrow.get_field_index(c) >= 0
            and pa.types.is_floating(pf.schema_arrow.field(c).type)]
    if not cols:
        return {}
    out: Dict[int, Dict[str, int]] = {}
    for i in range(pf.metadata.num_row_groups):
        tbl = pf.read_row_group(i, columns=cols)
        out[i] = {
            c: int(pc.sum(pc.is_nan(tbl.column(c)),
                          min_count=0).as_py() or 0)
            for c in cols}
    return out


FOOTER_MD5_BYTES = 64 << 10


def _footer_md5(path: str, size: int) -> str:
    """md5 of the file's last min(size, 64 KiB) bytes — the content
    discriminator FileStats.footer_md5 documents. O(64 KiB) per file
    at index time, next to the footer read the extractor already
    pays."""
    import hashlib

    n = min(size, FOOTER_MD5_BYTES)
    with open(path, "rb") as fh:
        if size > n:
            fh.seek(size - n)
        return hashlib.md5(fh.read(n)).hexdigest()


def extract_file_stats(
    path: str,
    index_schema: Dict[str, str],
    file_name: Optional[str] = None,
    partition_stats: Optional[Dict[str, object]] = None,
) -> Tuple[FileStats, List[RowGroupStats]]:
    """Footer-only extraction for one file (reference index.rs:179-240).

    file_name: catalog key override — partitioned datasets key by the
    dir-relative path (``prio=1-URGENT/part-0.parquet``) because Spark
    writers reuse basenames across partition directories.
    partition_stats: {column: value} parsed from hive-style path
    segments. A partition value is a DEGENERATE statistic — every row in
    the file has exactly that value — so it enters the catalog as
    min = max = value with null_count 0 (or all-null for the hive
    default-partition sentinel), and the existing refutation-sound
    rewriter prunes on it with no partition-specific logic at all."""
    pf = pq.ParquetFile(path)
    md = pf.metadata
    name_to_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    # decimal columns: pyarrow 16 cannot DECODE footer stats for
    # int32/int64-physical decimals (Spark's default layout for
    # precision <= 18) — st.min raises ArrowNotImplementedError. The
    # raw unscaled values are still in the footer (min_raw/max_raw);
    # decode them with the arrow schema's scale.
    dec_scale = {
        f.name: f.type.scale for f in pf.schema_arrow
        if pa.types.is_decimal(f.type)}

    def _decimal_bounds(st, scale):
        try:
            return st.min, st.max
        except Exception:
            pass
        import decimal as _d

        def conv(raw):
            if raw is None:
                return None
            if isinstance(raw, (bytes, bytearray)):
                raw = int.from_bytes(bytes(raw), "big", signed=True)
            return _d.Decimal(raw).scaleb(-scale)
        try:
            return conv(st.min_raw), conv(st.max_raw)
        except Exception:
            return None, None  # unreadable stats: column just can't prune
    st_ = os.stat(path)
    fs = FileStats(
        file_name=file_name or os.path.basename(path),
        file_size_bytes=st_.st_size,
        row_group_count=md.num_row_groups,
        row_count=md.num_rows,
        mtime_ns=st_.st_mtime_ns,
        footer_md5=_footer_md5(path, st_.st_size),
    )
    rgs: List[RowGroupStats] = []
    for i in range(md.num_row_groups):
        rg_md = md.row_group(i)
        rg = RowGroupStats(row_group=i, row_count=rg_md.num_rows)
        for col in index_schema:
            if partition_stats and col in partition_stats:
                v = partition_stats[col]
                rg.columns[col] = (
                    (rg_md.num_rows, None, None) if v is None  # hive null
                    else (0, v, v))
                continue
            ci = name_to_idx.get(col)
            if ci is None:
                # Schema evolution: a file written BEFORE the column was
                # added reads as NULL for every row in a schema-merged
                # scan, so "column absent from this file's schema" is a
                # PROVEN all-null statistic (the same degenerate form as
                # a hive __HIVE_DEFAULT_PARTITION__ value) — not an
                # unknown. Recording it lets `new_col = x` predicates
                # prune every pre-evolution file from the catalog alone,
                # which at 100 TB is the difference between scanning
                # years of history and skipping it.
                rg.columns[col] = (rg_md.num_rows, None, None)
                continue
            st = rg_md.column(ci).statistics
            if st is None:
                rg.columns[col] = (None, None, None)
                continue
            nc = st.null_count if st.has_null_count else None
            if index_schema[col] == "decimal":
                mn, mx = (_decimal_bounds(st, dec_scale.get(col, 0))
                          if st.has_min_max else (None, None))
            else:
                mn = st.min if st.has_min_max else None
                mx = st.max if st.has_min_max else None
            if index_schema[col] == "decimal":
                # Decimal stats enter the catalog as DOUBLE bounds
                # widened one ulp outward: float conversion is
                # correctly-rounded (monotone) but a rounded-up min or
                # rounded-down max could spuriously refute a strict
                # comparison at the boundary. Widened bounds keep every
                # rewrite sound; the EXACT values (decoded from the
                # footer's unscaled-int storage — numeric stats are
                # never truncated) ride along in exact_bounds so
                # catalog-only ANSWERS (min_max / count_rows_by) need
                # no scan fallback.
                import decimal as _d
                import math
                if isinstance(mn, _d.Decimal) and isinstance(mx, _d.Decimal):
                    rg.exact_bounds[col] = (mn, mx)
                mn = None if mn is None else math.nextafter(
                    float(mn), -math.inf)
                mx = None if mx is None else math.nextafter(
                    float(mx), math.inf)
            rg.columns[col] = (nc, mn, mx)
        rgs.append(rg)
    return fs, rgs


def list_parquet_files(data_dir: str, recursive: bool = False) -> List[str]:
    """Sorted directory listing (reference main.rs:409-423 sorts entries
    by file name for deterministic index order). recursive=True walks
    hive-partitioned layouts, skipping hidden/metadata entries
    (_SUCCESS, _delta_log, .crc — the usual lakehouse convention).

    Only regular files (or symlinks to them) are listed: a directory
    named ``*.parquet``, such as Spark's ``df.write.parquet("x.parquet")``
    output, is walked in recursive mode and skipped in flat mode.
    One ``os.scandir`` per directory: names are matched as strings, and
    directory entries' types come from the listing itself, so a file
    costs no stat call. Symlinked directories are not descended into,
    and an unreadable or missing directory lists nothing."""
    out: List[str] = []

    def walk(path: str, prefix: str) -> None:
        try:
            with os.scandir(path) as it:
                entries = list(it)
        except OSError:
            return
        for e in entries:
            if e.name.startswith((".", "_")):
                continue
            if e.name.endswith(".parquet") and e.is_file():
                out.append(prefix + e.name)
            if recursive and e.is_dir(follow_symlinks=False):
                walk(e.path, f"{prefix}{e.name}/")

    root = str(Path(data_dir))   # the spelling Path.glob would return
    walk(root, "" if root == "." else root.rstrip("/") + "/")
    return sorted(out)


HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def partition_values_raw(data_dir: str, path: str) -> Dict[str, Optional[str]]:
    """Hive-style ``key=value`` path segments between data_dir and the
    file, URL-unquoted, in directory order. The null-partition sentinel
    maps to None."""
    from urllib.parse import unquote

    rel = Path(path).relative_to(data_dir)
    out: Dict[str, Optional[str]] = {}
    for seg in rel.parts[:-1]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        v = unquote(v)
        out[unquote(k)] = None if v == HIVE_NULL else v
    return out


def typed_partition_values(
    raw: Dict[str, Optional[str]], categories: Dict[str, str],
) -> Dict[str, object]:
    """Convert raw partition strings into the catalog domain of the given
    type-categories (the categories come from the SPARK-inferred schema,
    so index and reader agree on the typed domain by construction).
    Columns whose category is missing/unsupported are dropped — they
    simply never prune (the standard conservative fallback)."""
    import datetime as _dt

    out: Dict[str, object] = {}
    for k, v in raw.items():
        cat = categories.get(k)
        if cat is None:
            continue
        if v is None:
            out[k] = None
            continue
        try:
            if cat == "int":
                out[k] = int(v)
            elif cat == "float":
                out[k] = float(v)
            elif cat == "string":
                out[k] = v
            elif cat == "date":
                out[k] = _dt.date.fromisoformat(v)
            else:
                continue
        except ValueError:
            continue  # unparseable => column can't prune this file: sound
    return out


def _extract_file(item, plan) -> tuple:
    """build_index's unit of work, the same on the driver thread pool
    and on Spark executors: one file's footer stats (plus NaN counts)
    and every requested sidecar statistic, as an upsert_files item
    (fs, rgs, *payloads in STATISTICS order). ``item`` is (path,
    catalog key, partition values or None); the key need not name
    ``path`` (compaction indexes a staged rewrite under its final
    key). Extractors are looked up as module globals at call time."""
    path, name, partition_stats = item
    schema, nan_cols, sidecar_args = plan
    fs, rgs = extract_file_stats(path, schema, file_name=name,
                                 partition_stats=partition_stats)
    if nan_cols:
        nans = extract_file_nan_counts(path, nan_cols)
        for rg in rgs:
            rg.nan_counts.update(nans.get(rg.row_group, {}))
    return (fs, rgs) + tuple(
        globals()[stat.extractor](path, *sidecar_args[stat.keyword])
        if stat.keyword in sidecar_args else None for stat in STATISTICS)


def _extraction_plan(
    schema: Dict[str, str],
    arrow_schema: pa.Schema,
    partition_schema: Optional[Dict[str, str]] = None,
    bloom_columns: Optional[Sequence[str]] = None,
    bloom_fpp: float = 0.01,
    token_bloom_columns: Optional[Sequence[str]] = None,
    sum_columns: Optional[Sequence[str]] = None,
    nan_count_columns: Optional[Sequence[str]] = None,
    hist_columns: Optional[Dict[str, Tuple[int, int, int]]] = None,
    ndv_columns: Optional[Sequence[str]] = None,
    dict_columns: Optional[Sequence[str]] = None,
    dict_max_values: int = DICT_MAX_VALUES,
    topk_columns: Optional[Sequence[str]] = None,
    topk_k: int = TOPK_K,
    page_index_columns: Optional[Sequence[str]] = None,
) -> tuple:
    """The ``plan`` argument of ``_extract_file`` for an index schema
    and build_index's statistic options: (schema, NaN-count columns,
    {statistic keyword: extractor arguments}). ``arrow_schema`` types
    the token-bloom columns."""
    from .bloom import BLOOM_CATEGORIES
    bloom_schema = {
        c: cat for c, cat in schema.items()
        if bloom_columns and c in bloom_columns and cat in BLOOM_CATEGORIES
        and not (partition_schema and c in partition_schema)}
    # token blooms: over the token SET of a footer string column; the
    # base column need not be min/max-indexed (token membership is the
    # only thing the filter answers)
    if token_bloom_columns:
        tok_schema = index_schema_for(arrow_schema, token_bloom_columns)
        for c, cat in tok_schema.items():
            if cat == "string":
                bloom_schema[f"{c}{TOKEN_BLOOM_SUFFIX}"] = "string"

    # extractor arguments per requested sidecar statistic (a statistic
    # whose column list is empty is not extracted)
    sidecar_args = {
        "blooms": (bloom_schema, bloom_fpp),
        "sums": (tuple(sum_columns or ()),),
        "hists": (dict(hist_columns or {}),),
        "ndvs": (tuple(ndv_columns or ()),),
        "dicts": (tuple(dict_columns or ()), dict_max_values),
        "topks": (tuple(topk_columns or ()), topk_k),
        "pages": (tuple(page_index_columns or ()),),
    }
    return (schema, tuple(nan_count_columns or ()),
            {k: a for k, a in sidecar_args.items() if a[0]})


# the per-file fan-out rule: at or above _DISTRIBUTED_THRESHOLD items
# (with a SparkSession) the unit runs on executors, below it on a
# driver thread pool of up to _MAX_WORKERS threads
_DISTRIBUTED_THRESHOLD = 64
_MAX_WORKERS = 8


def _fan_out(unit, items: Sequence, plan, spark=None,
             distributed_threshold: Optional[int] = None) -> list:
    """``[unit(item, plan) for item in items]``, fanned out per the
    rule above: few items overlap their (latency-bound, GIL-releasing)
    Parquet I/O on driver threads, the "async" maintenance posture of
    the reference's tokio loop (index.rs:179); many items run as one
    Spark job with ``plan`` broadcast, and the results (tiny:
    O(row groups) per file) come back to the driver. ``unit`` must be
    a module-level function so executors unpickle it by reference.
    ``distributed_threshold`` overrides the item count at which the
    executors take over (compaction lowers it to 1 past the driver's
    row-group budget)."""
    if distributed_threshold is None:
        distributed_threshold = _DISTRIBUTED_THRESHOLD
    if spark is not None and len(items) >= distributed_threshold:
        plan_b = spark.sparkContext.broadcast(plan)
        return (spark.sparkContext.parallelize(items, min(len(items), 256))
                .map(lambda it, _u=unit, _b=plan_b: _u(it, _b.value))
                .collect())
    if len(items) > 1:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(
                max_workers=min(_MAX_WORKERS, len(items))) as ex:
            return list(ex.map(lambda it: unit(it, plan), items))
    return [unit(it, plan) for it in items]


def build_index(
    catalog: SqliteIndexCatalog,
    files: Iterable[str],
    index_columns: Sequence[str],
    spark=None,
    incremental: bool = False,
    bloom_columns: Optional[Sequence[str]] = None,
    bloom_fpp: float = 0.01,
    token_bloom_columns: Optional[Sequence[str]] = None,
    sum_columns: Optional[Sequence[str]] = None,
    nan_count_columns: Optional[Sequence[str]] = None,
    hist_columns: Optional[Dict[str, Tuple[int, int, int]]] = None,
    ndv_columns: Optional[Sequence[str]] = None,
    dict_columns: Optional[Sequence[str]] = None,
    dict_max_values: int = DICT_MAX_VALUES,
    topk_columns: Optional[Sequence[str]] = None,
    topk_k: int = TOPK_K,
    page_index_columns: Optional[Sequence[str]] = None,
    rel_to: Optional[str] = None,
    partition_schema: Optional[Dict[str, str]] = None,
    partition_values: Optional[Dict[str, Dict[str, object]]] = None,
) -> Dict[str, str]:
    """Index every file into the catalog; returns the index schema used.

    rel_to: catalog file_name = path relative to this dir (required for
    partitioned layouts where basenames collide across partition dirs).
    partition_schema: {partition column: type-category} merged into the
    index schema — partition columns are always indexable (their value
    IS their min and max).
    partition_values: {file path: {column: typed value}}.

    The index schema is derived from the first file's footer ("assume they
    all have the same schema", reference main.rs:228-237). Extraction
    fan-out, cheapest-first:

    - incremental=True: files whose (size, mtime_ns) already match
      their catalog row are skipped entirely (footer untouched), and
      catalog entries whose file vanished are removed — the
      steady-state refresh cost is O(changed files), not O(files).
      A same-size rewrite is re-indexed: this engine rewrites through
      os.replace, which always gives a fresh mtime. Catalog rows
      without a recorded mtime (legacy) compare size-only; force a
      full rebuild with incremental=False if files mutate in place
      with a preserved mtime.
    - the rest go through ``_fan_out``: overlapped reads on a driver
      thread pool (8 threads) below 64 files, one Spark job across
      executors at or above it (with a SparkSession); stats rows come
      back to the driver (tiny: O(row_groups)) for the transactional
      catalog write.
    """
    files = list(files)
    if not files:
        catalog.initialize({})
        return {}

    def _name(p):
        return (str(Path(p).relative_to(rel_to)) if rel_to
                else os.path.basename(p))

    first = pq.ParquetFile(files[0])
    # partition columns are requested implicitly (pruning on them is
    # free); a name collision with a footer column keeps the footer's
    # stats (hive layouts don't duplicate partition cols in the data)
    schema = index_schema_for(first.schema_arrow, index_columns)
    # Schema evolution: a requested column the FIRST file predates must
    # still be typed — probe later footers (newest-last ordering makes
    # reverse iteration find a late-added column almost immediately;
    # footer-only, no data read). Files that lack the column then index
    # it as proven all-null (see extract_file_stats), so predicates on
    # it prune the pre-evolution era from the catalog alone.
    missing = [c for c in index_columns if c not in schema]
    for p in reversed(files[1:]):
        if not missing:
            break
        schema.update(index_schema_for(pq.ParquetFile(p).schema_arrow,
                                       missing))
        missing = [c for c in missing if c not in schema]
    if partition_schema:
        for c, cat in partition_schema.items():
            schema.setdefault(c, cat)
    catalog.initialize(schema)
    plan = _extraction_plan(
        schema, first.schema_arrow, partition_schema,
        bloom_columns=bloom_columns, bloom_fpp=bloom_fpp,
        token_bloom_columns=token_bloom_columns, sum_columns=sum_columns,
        nan_count_columns=nan_count_columns, hist_columns=hist_columns,
        ndv_columns=ndv_columns, dict_columns=dict_columns,
        dict_max_values=dict_max_values, topk_columns=topk_columns,
        topk_k=topk_k, page_index_columns=page_index_columns)

    if incremental:
        # change detection is (size, mtime_ns): a same-size rewrite
        # (always an os.replace in this engine → fresh mtime) is
        # re-indexed, so a compaction whose intent marker was lost to
        # power-loss tearing still heals here — the re-index drops the
        # stale DV via the catalog's matching (size, mtime) DV-drop
        # rule. Catalog rows without a recorded mtime (legacy, or a
        # backend that never learned it) compare size-only, the old
        # convention.
        known = catalog.file_meta()
        current_names = {_name(p) for p in files}
        for stale in set(known) - current_names:
            catalog.remove_file(stale)

        def _unchanged(p):
            meta = known.get(_name(p))
            if meta is None:
                return False
            size, mt = meta
            st = os.stat(p)
            return st.st_size == size and (
                mt is None or st.st_mtime_ns == mt)

        files = [p for p in files if not _unchanged(p)]
        if not files:
            return schema

    part_values = partition_values or {}
    results = _fan_out(
        _extract_file, [(p, _name(p), part_values.get(p)) for p in files],
        plan, spark)
    # one transaction per 1000 files: per-file commits were the
    # driver-side serialization at 1M-file onboarding (~400 files/s)
    catalog.upsert_files(results)
    return schema
