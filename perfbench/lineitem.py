"""selective_scan_lineitem and ingest_dml_mix: indexed reads (and writes)
over a seeded lineitem-shaped table of 600,000 rows, written as 64 files
of 8 row groups clustered by l_shipdate.

The table is indexed with min/max on l_shipdate, l_orderkey, l_partkey
and l_shipmode, a Bloom filter on l_partkey (unclustered: min/max cannot
prune it) and a dictionary on l_shipmode (each month ships by two of
seven modes, so a row group's min/max spans modes it does not hold and
only the dictionary refutes them).  l_tax and l_discount are not indexed.

Answers come from DuckDB over the same generated rows: a static copy for
the read-only workload, and for the mixed workload a model table to which
the benchmark applies every write verb it sends.
"""

from __future__ import annotations

import datetime as dt
import os
import random

N_ROWS = 600_000
N_FILES = 64
RGS_PER_FILE = 8
INDEX_COLUMNS = ["l_shipdate", "l_orderkey", "l_partkey", "l_shipmode"]
BLOOM_COLUMNS = ["l_partkey"]
DICT_COLUMNS = ["l_shipmode"]
MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
START = dt.date(1992, 1, 2)
EPOCH_OFFSET = (START - dt.date(1970, 1, 1)).days
N_DAYS = 2520
N_PARTS = 20_000
N_ORDERS = 600_000
# the mixed workload runs on a quarter-size copy: its verbs each run
# several Spark jobs, and a run must finish its set-up and a few cycles
# of verbs within the time one run may spend
INGEST_ROWS = 150_000
INGEST_FILES = 16


def generate(rng_seed: int, n: int, day_lo: int = 0, day_hi: int = N_DAYS):
    """A pyarrow table of n lineitem-shaped rows, sorted by l_shipdate."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(rng_seed)
    days = np.sort(rng.integers(day_lo, day_hi, n))
    month = days // 30
    pick = rng.integers(0, 2, n)
    mode_idx = np.where(pick == 0, month % 7, (month * 3 + 1) % 7)
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(900, 2000, n), 2)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.where(days < 1263, "F", "O")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100, pa.float64()),
        "l_returnflag": pa.array(flags, pa.string()),
        "l_linestatus": pa.array(status, pa.string()),
        "l_shipmode": pa.array(np.array(MODES)[mode_idx], pa.string()),
        "l_shipdate": pa.array((days + EPOCH_OFFSET).astype("int32"),
                               pa.int32()).cast(pa.date32()),
    })


def write_layout(table, data_dir: str,
                 n_files: int) -> list[tuple[str, int, int]]:
    """Split the sorted table into n_files files of RGS_PER_FILE row
    groups; returns (file name, first row, row-group size) per file."""
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    per_file = -(-table.num_rows // n_files)
    rg_size = -(-per_file // RGS_PER_FILE)
    out = []
    for i in range(n_files):
        name = f"part-{i:03d}.parquet"
        pq.write_table(table.slice(i * per_file, per_file),
                       os.path.join(data_dir, name), row_group_size=rg_size)
        out.append((name, i * per_file, rg_size))
    return out


def _date(day: int) -> str:
    return f"DATE '{START + dt.timedelta(days=day)}'"


def read_predicate(kind: str, rng: random.Random) -> str:
    """WHERE clause of one read kind."""
    if kind == "clustered_point":
        return f"l_shipdate = {_date(rng.randrange(N_DAYS))}"
    if kind == "clustered_range":
        lo = rng.randrange(N_DAYS - 25)
        return f"l_shipdate >= {_date(lo)} AND l_shipdate < {_date(lo + 25)}"
    if kind == "bloom_point":
        return f"l_partkey = {rng.randrange(N_PARTS)}"
    if kind == "dict_eq":
        return f"l_shipmode = '{rng.choice(MODES)}'"
    if kind == "unindexed":
        return f"l_tax = {rng.randrange(9) / 100}"
    raise ValueError(kind)


# clustered reads are two thirds of the cycle, so the median falls inside
# their latency cluster rather than on the edge between two clusters
SELECTIVE_CYCLE = ("clustered_point", "clustered_range", "bloom_point",
                   "clustered_point", "clustered_range", "dict_eq",
                   "clustered_point", "clustered_range", "unindexed")


def selective_ops(seed: int, n: int = 45 * len(SELECTIVE_CYCLE)
                  ) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    return [(k, read_predicate(k, rng))
            for k in (SELECTIVE_CYCLE[i % len(SELECTIVE_CYCLE)]
                      for i in range(n))]


# Write verbs interleaved with reads, compaction once per cycle.  Every
# kind has a fixed shape: clustered reads, point deletes and updates each
# hit one clustered file, and the 1 % delete comes early and touches every
# file, so each position of the cycle sees the same deletion-vector state
# on every seed.  The reads also take the Bloom (l_partkey), dictionary
# (l_shipmode) and unindexed (l_tax) tiers, so every read-side layer of the
# planner is exercised here too.
INGEST_CYCLE = (
    ("append", None), ("delete_1pct", None),
    ("read_sql", "clustered_range"), ("read_sql", "bloom_point"),
    ("read_sql", "clustered_point"), ("delete_point", None),
    ("read_sql", "clustered_range"), ("count_rows", "clustered_range"),
    ("read_sql", "dict_eq"), ("update", None),
    ("read_sql", "clustered_point"), ("read_sql", "clustered_range"),
    ("read_sql", "unindexed"), ("append", None), ("compact", None),
)
WRITES = {"append", "delete_point", "delete_1pct", "update", "compact"}
WARMUP_OPS = len(INGEST_CYCLE)


def ingest_ops(seed: int, n: int = 60 * len(INGEST_CYCLE)) -> list[tuple]:
    """(kind, WHERE clause or None, batch seed) triples.  The 1 % deletes
    take distinct residues, so each one removes rows that are still live
    (a repeated residue would find nothing and leave no deletion vector)."""
    rng = random.Random(seed)
    residues = iter(rng.sample(range(100), 100))
    ops = []
    for i in range(n):
        kind, read_kind = INGEST_CYCLE[i % len(INGEST_CYCLE)]
        where = None
        if read_kind:
            where = read_predicate(read_kind, rng)
        elif kind == "delete_1pct":
            where = f"l_orderkey % 100 = {next(residues)}"
        elif kind in ("delete_point", "update"):
            # about 8 rows of one day: one clustered file
            where = (f"l_shipdate = {_date(rng.randrange(N_DAYS))} AND "
                     f"l_linenumber = {rng.randrange(1, 8)}")
        ops.append((kind, where, rng.randrange(1 << 30)))
    return ops


class _LineitemBase:
    latency_groups: dict = {}

    def _build(self, ctx, n_rows: int, n_files: int, with_rg: bool):
        import duckdb
        import pyarrow as pa

        from datafusion_async_parquet_index_spark.sources.catalog import (
            SqliteIndexCatalog)
        from datafusion_async_parquet_index_spark.sources.table import (
            IndexedParquetTable)

        src = generate(ctx.seed, n_rows)
        self.data_dir = os.path.join(ctx.workdir, "lineitem")
        files = write_layout(src, self.data_dir, n_files)
        self.db = duckdb.connect()
        if with_rg:
            f_col, rg_col = [], []
            for name, first, rg_size in files:
                n = min(src.num_rows - first, -(-src.num_rows // n_files))
                f_col += [name] * n
                rg_col += [j // rg_size for j in range(n)]
            src = src.append_column("f", pa.array(f_col)).append_column(
                "rg", pa.array(rg_col, pa.int32()))
        self.db.register("src", src)
        self.db.execute("CREATE TABLE live AS SELECT * FROM src")
        self.db.unregister("src")
        self.db_path = os.path.join(ctx.workdir, "lineitem.db")
        self.table = IndexedParquetTable(
            ctx.spark, self.data_dir, INDEX_COLUMNS,
            catalog=SqliteIndexCatalog(self.db_path),
            bloom_columns=BLOOM_COLUMNS, dict_columns=DICT_COLUMNS)

    def _count(self, where: str) -> int:
        return self.db.execute(
            f"SELECT count(*) FROM live WHERE {where}").fetchone()[0]

    def _data_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(self.data_dir, f))
                   for f in os.listdir(self.data_dir)
                   if f.endswith(".parquet"))


class SelectiveScan(_LineitemBase):
    name = "selective_scan_lineitem"
    cycle = len(SELECTIVE_CYCLE)

    def __init__(self):
        self._answers: dict[str, tuple[int, set]] = {}
        self.exact_rgs = 0
        self.scanned_rgs = 0

    def ops(self, seed: int):
        return selective_ops(seed)

    def setup(self, ctx) -> None:
        self._build(ctx, N_ROWS, N_FILES, with_rg=True)
        # the first query of each kind pays JVM class loading and JIT
        rng = random.Random(ctx.seed + 1)
        for kind in dict.fromkeys(SELECTIVE_CYCLE):
            self.table.query_sql(read_predicate(kind, rng)).count()

    def prepare(self, op):
        """Untimed: the DuckDB answer (count and the (file, row group)
        pairs holding a match) for this predicate."""
        ans = self._answers.get(op[1])
        if ans is None:
            rows = self.db.execute(
                f"SELECT f, rg, count(*) FROM live WHERE {op[1]} "
                "GROUP BY f, rg").fetchall()
            ans = self._answers[op[1]] = (sum(r[2] for r in rows),
                                          {(r[0], r[1]) for r in rows})
        return ans

    def run(self, ctx, op, ans):
        df = self.table.query_sql(op[1])
        return ctx.action(df.count), self.table.last_scan

    def check(self, op, ans, result) -> bool:
        n, dec = result
        kept = {(f, rg) for f, rgs in dec.files_scanned.items() for rg in rgs}
        self.exact_rgs += len(ans[1])
        self.scanned_rgs += len(kept)
        return n == ans[0] and ans[1] <= kept

    def verify(self, ctx, done_ops) -> int:
        return 0

    def details(self) -> dict:
        return {
            "rows": N_ROWS, "files": N_FILES, "row_groups": N_FILES * RGS_PER_FILE,
            "index_bytes_per_data_byte":
                os.path.getsize(self.db_path) / self._data_bytes(),
            "rg_precision": (self.exact_rgs / self.scanned_rgs
                             if self.scanned_rgs else None),
        }


class IngestDmlMix(_LineitemBase):
    name = "ingest_dml_mix"
    cycle = len(INGEST_CYCLE)

    latency_groups = {"read": {"read_sql", "count_rows"},
                      "write": WRITES}

    def ops(self, seed: int):
        return ingest_ops(seed)[WARMUP_OPS:]

    def setup(self, ctx) -> None:
        self._build(ctx, INGEST_ROWS, INGEST_FILES, with_rg=False)
        self._appended = 0
        # one untimed cycle: the first calls of each verb, and of each read
        # once deletion vectors exist, pay JVM class loading and JIT; its
        # results are checked like the rest
        self.warmup_bad = 0
        for op in ingest_ops(ctx.seed)[:WARMUP_OPS]:
            expected = self.prepare(op)
            self.warmup_bad += not self.check(op, expected,
                                              self.run(ctx, op, expected))

    def prepare(self, op):
        """Untimed: the model's expected answer, and for an append the new
        file (written by an outside writer; the verb is refresh())."""
        kind, where, batch_seed = op
        if kind == "append":
            import pyarrow.parquet as pq

            lo = random.Random(batch_seed).randrange(N_DAYS - 30)
            batch = generate(batch_seed, 2000, lo, lo + 30)
            self._appended += 1
            pq.write_table(batch, os.path.join(
                self.data_dir, f"append-{self._appended:05d}.parquet"),
                row_group_size=500)
            self.db.register("batch", batch)
            self.db.execute("INSERT INTO live SELECT * FROM batch")
            self.db.unregister("batch")
            return self._count("TRUE")
        if kind == "compact":
            return self._count("TRUE")
        return self._count(where)

    def run(self, ctx, op, expected):
        from datafusion_async_parquet_index_spark.plans.sql_predicate import (
            parse_predicate)

        kind, where, _ = op
        t = self.table
        if kind == "append":
            t.refresh()
            return t.count_rows()
        if kind == "read_sql":
            return ctx.action(t.query_sql(where).count)
        if kind == "count_rows":
            return t.count_rows(parse_predicate(where))
        if kind in ("delete_point", "delete_1pct"):
            return t.delete_where(parse_predicate(where))
        if kind == "update":
            return t.update_where(parse_predicate(where),
                                  {"l_quantity": "l_quantity + 1"})
        t.compact_deletes()
        return t.count_rows()

    def check(self, op, expected, result) -> bool:
        kind, where, _ = op
        if kind in ("delete_point", "delete_1pct"):
            self.db.execute(f"DELETE FROM live WHERE {where}")
        elif kind == "update":
            self.db.execute(
                f"UPDATE live SET l_quantity = l_quantity + 1 WHERE {where}")
        return result == expected

    def verify(self, ctx, done_ops) -> int:
        """Final state: total and a clustered range agree with the model."""
        where = read_predicate("clustered_range", random.Random(ctx.seed + 1))
        bad = self.warmup_bad + (self.table.count_rows() != self._count("TRUE"))
        bad += ctx.action(self.table.query_sql(where).count) != self._count(where)
        return int(bad)

    def details(self) -> dict:
        return {
            "rows_at_end": self._count("TRUE"),
            "files_at_end": sum(1 for f in os.listdir(self.data_dir)
                                if f.endswith(".parquet")),
            "index_bytes_per_data_byte":
                os.path.getsize(self.db_path) / self._data_bytes(),
        }
