"""The sidecar statistics: one description per kind, served by every
catalog backend and by the index build.

Next to the footer min/max/null stats (``row_group_statistics``) the
index keeps seven opt-in statistics per (row group, column), each in its
own table keyed ``(file_id, row_group, column_name)``.  A ``Statistic``
below records everything about one kind: its ``upsert_file`` keyword,
its SQL table and payload columns, how an upsert payload becomes stored
rows, how a stored row becomes the ``get_*`` value, and which per-file
extractor in ``sources/stats.py`` computes it.  From the ``STATISTICS``
registry the SQL catalog derives its DDL, upsert, delete and fetch
statements (the DB-API and DataFrame backends inherit them), and
``build_index`` its per-file extraction.  Adding a statistic means one
registry entry, its extractor, the build option that requests it and a
getter on ``SidecarReads``.

Payload values are stored in portable encodings (decimal strings for
values that may exceed 64 bits, comma-joined or JSON TEXT for lists),
so every backend stores and returns the same thing.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple


@dataclass(frozen=True)
class Statistic:
    keyword: str        # upsert_file keyword (and build_index result slot)
    table: str          # SQL side table
    # payload columns after (file_id, row_group, column_name) as
    # (name, SQL type); "BLOB" is rewritten to the dialect's blob type
    payload: Tuple[Tuple[str, str], ...]
    encode: Callable[[Any], tuple]   # one payload entry -> payload row
    decode: Callable[..., Any]       # payload row -> get_* value
    extractor: str      # per-file extractor in sources/stats.py
    # per-page statistic: the upsert payload is {(row_group, column):
    # [entry, ...]} and the first payload column (the page number)
    # joins the primary key; otherwise it is {row_group: {column: entry}}
    paged: bool = False

    def rows(self, payload) -> List[tuple]:
        """Upsert payload -> stored rows (row_group, column_name,
        *payload columns)."""
        if self.paged:
            return [(rg, col, *self.encode(e))
                    for (rg, col), entries in payload.items()
                    for e in entries]
        return [(rg, col, *self.encode(e))
                for rg, cols in payload.items() for col, e in cols.items()]

    @property
    def key(self) -> Tuple[str, ...]:
        return ("row_group", "column_name") + (
            (self.payload[0][0],) if self.paged else ())


def _text(v) -> Optional[str]:
    return None if v is None else str(v)


def _ints(text: str) -> List[int]:
    return [int(x) for x in text.split(",")]


def _encode_pairs(entries) -> Tuple[str, str]:
    """[(value, count), ...] -> (category, JSON). The category makes
    decoding type-faithful without consulting the index schema."""
    cat = "int" if entries and isinstance(entries[0][0], int) else "string"
    return cat, json.dumps([[v, c] for v, c in entries])


def _decode_pairs(cat: str, text: str) -> List[Tuple[Any, int]]:
    pairs = json.loads(text)
    if cat == "int":
        return [(int(v), int(c)) for v, c in pairs]
    return [(v, int(c)) for v, c in pairs]


# Bloom filter (sources/bloom.py) for equality pruning on high-
# cardinality columns where min/max cannot help; a ``col#tokens``
# column holds the filter over the column's token set.
BLOOMS = Statistic(
    "blooms", "row_group_blooms",
    (("m_bits", "INTEGER NOT NULL"), ("k_hashes", "INTEGER NOT NULL"),
     ("bits", "BLOB NOT NULL")),
    encode=lambda e: tuple(e),
    decode=lambda m, k, bits: (m, k, bytes(bits)),
    extractor="extract_file_blooms")

# Exact sum and non-null count (SUM/AVG pushdown) plus the exact sum of
# squares (VAR/STDDEV). sumsq is a decimal string: it routinely exceeds
# int64 even when every value and the sum fit. NULL = unknown (decimal
# columns, rows written before the VAR extension); 2-tuple entries
# store NULL too.
SUMS = Statistic(
    "sums", "row_group_sums",
    (("sum_value", "INTEGER NOT NULL"), ("value_count", "INTEGER NOT NULL"),
     ("sumsq_value", "TEXT")),
    encode=lambda e: (e[0], e[1], _text(e[2]) if len(e) > 2 else None),
    decode=lambda s, n, sq: (s, n, None if sq is None else int(sq)),
    extractor="extract_file_sums")

# Equi-width bin counts over a caller-fixed integer domain: quantiles
# fold from the catalog. lo/hi are decimal strings (safe for >64-bit
# domains), counts a comma-joined list.
HISTS = Statistic(
    "hists", "row_group_hists",
    (("lo", "TEXT NOT NULL"), ("hi", "TEXT NOT NULL"),
     ("nbins", "INTEGER NOT NULL"), ("counts", "TEXT NOT NULL")),
    encode=lambda e: (str(e[0]), str(e[1]), e[2],
                      ",".join(str(x) for x in e[3])),
    decode=lambda lo, hi, nb, counts: (int(lo), int(hi), int(nb),
                                       _ints(counts)),
    extractor="extract_file_hists")

# HyperLogLog registers (stats.HLL_REGS small ints, comma-joined):
# approximate COUNT DISTINCT folds by elementwise MAX.
NDVS = Statistic(
    "ndvs", "row_group_ndv",
    (("registers", "TEXT NOT NULL"),),
    encode=lambda regs: (",".join(str(x) for x in regs),),
    decode=_ints,
    extractor="extract_file_ndv")

# Exact distinct-value -> count map of a low-cardinality column (capped
# at index time), sorted by value.
DICTS = Statistic(
    "dicts", "row_group_dicts",
    (("category", "TEXT NOT NULL"), ("entries", "TEXT NOT NULL")),
    encode=_encode_pairs,
    decode=_decode_pairs,
    extractor="extract_file_dicts")

# Heavy hitters: the k most frequent values with exact counts (count-
# desc/value-asc) plus rest_rows (uncovered non-null rows) and
# kth_count — an order-free mergeable summary with [lower, upper]
# bounds.
TOPKS = Statistic(
    "topks", "row_group_topk",
    (("category", "TEXT NOT NULL"), ("entries", "TEXT NOT NULL"),
     ("rest_rows", "INTEGER NOT NULL"), ("kth_count", "INTEGER NOT NULL")),
    encode=lambda e: (*_encode_pairs(e[0]), e[1], e[2]),
    decode=lambda cat, entries, rest, kth: (
        _decode_pairs(cat, entries), int(rest), int(kth)),
    extractor="extract_file_topk")


def _encode_page(ps) -> tuple:
    # ps: page_index.PageStats; 'int' covers the int/date/timestamp
    # encoded domain, 'string' utf-8
    cat = ("string" if isinstance(ps.min_value, str)
           or isinstance(ps.max_value, str) else "int")
    return (ps.page, ps.first_row, ps.row_count, cat, _text(ps.min_value),
            _text(ps.max_value), 1 if ps.null_page else 0, ps.null_count)


def _decode_page(page, first, count, cat, mn, mx, null_page, null_count):
    if cat == "int":
        mn = None if mn is None else int(mn)
        mx = None if mx is None else int(mx)
    return (first, count, mn, mx, bool(null_page),
            None if null_count is None else int(null_count))


# Page-index tier: per-page min/max/null stats from the Parquet
# ColumnIndex/OffsetIndex. first_row/row_count are row-group-scoped;
# values compare driver-side in the page refiner, never in SQL.
PAGES = Statistic(
    "pages", "page_statistics",
    (("page", "INTEGER NOT NULL"), ("first_row", "INTEGER NOT NULL"),
     ("row_count", "INTEGER NOT NULL"), ("category", "TEXT"),
     ("min_value", "TEXT"), ("max_value", "TEXT"),
     ("null_page", "INTEGER NOT NULL"), ("null_count", "INTEGER")),
    encode=_encode_page,
    decode=_decode_page,
    extractor="extract_file_page_stats",
    paged=True)

# Order = upsert_file's keyword order = the payload slots of an
# upsert_files item (fs, rgs, *payloads).
STATISTICS: Tuple[Statistic, ...] = (
    BLOOMS, SUMS, HISTS, NDVS, DICTS, TOPKS, PAGES)


class SidecarReads:
    """The public sidecar getters, shared by every catalog backend. A
    backend supplies ``_sidecar_rows(stat, columns, file_names=None)``:
    the stored rows of those columns (of those files, in key order,
    when ``file_names`` is given) as ``(file_name, row_group,
    column_name, payload_row)``."""

    def _sidecar(self, stat: Statistic, column: str) -> Dict[Tuple[str, int], Any]:
        return {(fn, rg): stat.decode(*row)
                for fn, rg, _, row in self._sidecar_rows(stat, [column])}

    def get_blooms(self, column: str
                   ) -> Dict[Tuple[str, int], Tuple[int, int, bytes]]:
        """{(file_name, row_group): (m_bits, k, bits)} for one column:
        the column's filter for every row group in the catalog, with no
        restriction to a scan's surviving row groups."""
        return self._sidecar(BLOOMS, column)

    def get_sums(self, column: str
                 ) -> Dict[Tuple[str, int], Tuple[int, int, Optional[int]]]:
        """{(file_name, row_group): (sum, non_null_count, sumsq)} for
        one column; sumsq is None when the second moment was never
        recorded."""
        return self._sidecar(SUMS, column)

    def get_hists(self, column: str
                  ) -> Dict[Tuple[str, int], Tuple[int, int, int, List[int]]]:
        """{(file_name, row_group): (lo, hi, nbins, counts)} for one
        column."""
        return self._sidecar(HISTS, column)

    def get_ndvs(self, column: str) -> Dict[Tuple[str, int], List[int]]:
        """{(file_name, row_group): HLL registers} for one column."""
        return self._sidecar(NDVS, column)

    def get_dicts(self, column: str
                  ) -> Dict[Tuple[str, int], List[Tuple[Any, int]]]:
        """{(file_name, row_group): [(value, count), ...] sorted by
        value} for one column — only row groups whose distinct count
        fit under the index-time cap appear."""
        return self._sidecar(DICTS, column)

    def get_topk(self, column: str) -> Dict[
            Tuple[str, int], Tuple[List[Tuple[Any, int]], int, int]]:
        """{(file_name, row_group): (entries, rest_rows, kth_count)} for
        one column."""
        return self._sidecar(TOPKS, column)

    def get_page_stats(
        self, file_names: Sequence[str], columns: Sequence[str]
    ) -> Dict[Tuple[str, int, str], list]:
        """{(file_name, row_group, column): [(first_row, row_count,
        min, max, null_page, null_count) ...]} in page order, restricted
        to the given (already row-group-pruned) files and columns —
        O(surviving pages), bounded planning data. Absent keys mean "no
        page tier for this chunk" and the refiner keeps the whole row
        group."""
        out: Dict[Tuple[str, int, str], list] = {}
        names, cols = sorted(set(file_names)), sorted(set(columns))
        if names and cols:
            for fn, rg, col, row in self._sidecar_rows(PAGES, cols, names):
                out.setdefault((fn, rg, col), []).append(PAGES.decode(*row))
        return out
