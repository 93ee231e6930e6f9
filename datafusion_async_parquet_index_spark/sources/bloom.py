"""Per-row-group Bloom filters in the external catalog.

Extension beyond the reference: its min/max index is useless for
high-cardinality unordered columns — the reference itself notes that
indexing a UUID-like column by min/max "would be pointless"
(``/root/reference/sqlx-sqlite/src/main.rs:104-118``). A small Bloom
filter per (row group, column) fixes exactly that case: equality and IN
predicates can skip row groups whose filter *definitely* lacks the value
while preserving the index's over-approximation invariant — a Bloom
filter has false positives (scan a little extra) but, built over every
non-null value, no false negatives (never skip a matching row group).

Design notes for 100 TB:

- Filters live in the catalog next to the min/max stats, sized by the
  row group's distinct count at a fixed false-positive rate, typically
  a few KB per row group — catalog size stays O(files x row_groups),
  independent of data volume.
- Building reads one column's pages per row group (unavoidable — a
  Bloom filter summarizes values, not footers); it parallelizes per
  file exactly like the footer pass and happens once per file at index
  time, never at query time.
- Probing is driver-side: k bit tests per candidate row group per
  equality literal, after the stats SQL has already pruned — data-free.
  The probes are O(candidates), but fetching the filters is not:
  ``get_blooms(column)`` reads the column's filter for EVERY row group,
  so the fetch is O(row groups). At 20k files × 8 row groups on SQLite
  (4-core host) it took 459 ms with 1 KB filters and 1,223 ms with
  16 KB filters; restricted to 4 surviving files it would take 0.1 ms.

Hashing: one md5 per value, split into two 64-bit halves combined with
the standard double-hashing scheme h_i = h1 + i*h2 (Kirsch &
Mitzenmacher 2006, "Less Hashing, Same Performance"), so k probes cost
one digest. Values are canonicalized per index type-category so the
probe literal hashes identically to the build value. ``build_bloom``
sets the bits with numpy, a fixed-size chunk of digests at a time;
the bit layout is the one the per-value loop wrote, byte for byte, so
filters persisted by earlier versions keep probing.
"""

from __future__ import annotations

import hashlib
import itertools
import math
from typing import Any, Iterable, Optional, Tuple

import numpy as np

# categories bloom filters support: exact-match types. Floats are
# excluded (equality on floats is fragile and min/max already serves
# range predicates).
BLOOM_CATEGORIES = {"int", "string", "binary", "timestamp", "date"}

DEFAULT_FPP = 0.01
MIN_BITS = 64
# values hashed per step of build_bloom
_BUILD_CHUNK = 1 << 16


def canonical_bytes(category: str, v: Any) -> Optional[bytes]:
    """Stable byte form per type-category; None = value not bloomable
    (wrong type for the column => caller must NOT refine, stay sound)."""
    if v is None:
        return None
    if category == "int":
        # bool is an int subclass; reject to avoid surprising matches
        if isinstance(v, bool) or not isinstance(v, int):
            return None
        return b"i" + str(v).encode()
    if category == "string":
        if not isinstance(v, str):
            return None
        return b"s" + v.encode("utf-8")
    if category == "binary":
        if not isinstance(v, (bytes, bytearray)):
            return None
        return b"b" + bytes(v)
    if category in ("timestamp", "date"):
        # catalog.encode_value already maps datetimes/dates to ints;
        # accept the encoded integer form
        if isinstance(v, bool) or not isinstance(v, int):
            return None
        return b"t" + str(v).encode()
    return None


def bloom_params(n_values: int, fpp: float = DEFAULT_FPP) -> Tuple[int, int]:
    """(m_bits, k) for a target false-positive rate; m rounded up to a
    whole byte, k >= 1."""
    n = max(n_values, 1)
    m = max(MIN_BITS, math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _hash_pair(canon: bytes) -> Tuple[int, int]:
    d = hashlib.md5(canon).digest()
    return (int.from_bytes(d[:8], "big"),
            int.from_bytes(d[8:], "big") | 1)  # odd h2 => full coverage


def build_bloom(canon_values: Iterable[bytes], m: int, k: int) -> bytes:
    """The m-bit filter (bit ``pos`` at byte ``pos >> 3``, bit
    ``pos & 7``) with bits ``(h1 + i*h2) % m`` set for i < k. The
    positions are computed in numpy uint64 as ``(h1 % m + i*(h2 % m))
    % m``, equal to the exact sum while m*k < 2**64 (any filter that
    fits in memory). Values are hashed _BUILD_CHUNK at a time and their
    bits OR-ed straight into the m/8-byte filter, so the working set
    beyond the filter stays a few MB however large the row group."""
    out = np.zeros((m + 7) // 8, dtype=np.uint8)
    mm = np.uint64(m)
    values = iter(canon_values)
    while chunk := list(itertools.islice(values, _BUILD_CHUNK)):
        digests = b"".join(hashlib.md5(c).digest() for c in chunk)
        halves = np.frombuffer(digests, dtype=">u8").reshape(-1, 2)
        h1 = halves[:, 0] % mm
        h2 = (halves[:, 1] | np.uint64(1)) % mm
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % mm
            np.bitwise_or.at(out, pos >> np.uint64(3),
                             (np.uint64(1) << (pos & np.uint64(7)))
                             .astype(np.uint8))
    return out.tobytes()


def bloom_contains(blob: bytes, m: int, k: int, canon: bytes) -> bool:
    h1, h2 = _hash_pair(canon)
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not blob[pos >> 3] & (1 << (pos & 7)):
            return False
    return True
