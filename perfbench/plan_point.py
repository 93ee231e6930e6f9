"""plan_point_20k: predicates sent to IndexedParquetTable.plan_scan over a
20,000-file x 8-row-group sorted int64 layout (160k row-group rows), with
the R-tree on and a file-backed SQLite catalog.  Planning only: no Spark
job runs inside the measured window.

The 20,000 small Parquet files are the same for every seed: the first
run in a checkout writes them (in parallel writer processes,
``python3 -m perfbench.plan_point DIR LO HI``) under .perfbench_data/ and
later runs reuse them, so no run pays for, or is slowed by the disk's
writeback of, 20,000 file creations.  Set-up loads the files' exact
statistics through the catalog's public bulk upsert, then the table attaches incrementally: build_index runs and
finds every file unchanged.  Extracting 20,000 footers through the
distributed pass instead takes about 100 s on 4 cores, beyond what one
run may spend.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys
import time

N_FILES = 20_000
RGS_PER_FILE = 8
ROWS_PER_RG = 4
ROWS_PER_FILE = RGS_PER_FILE * ROWS_PER_RG
OP_LIST_LEN = 4_000
# fixed kind cycle: every run sends the same mix, the seed picks literals
KIND_CYCLE = ("point", "range", "point", "in10", "point", "range", "in10",
              "contradiction", "point", "range")
N_VERIFY = 1


def domain(n_files: int) -> int:
    return n_files * ROWS_PER_FILE


def make_ops(seed: int, n_files: int = N_FILES,
             n: int = OP_LIST_LEN) -> list[tuple[str, str]]:
    """The seeded op list: (kind, WHERE clause) pairs."""
    rng = random.Random(seed)
    d = domain(n_files)
    width = d // 100
    ops = []
    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        if kind == "point":
            sql = f"v = {rng.randrange(d)}"
        elif kind == "range":
            lo = rng.randrange(d - width)
            sql = f"v >= {lo} AND v <= {lo + width - 1}"
        elif kind == "in10":
            vals = sorted(rng.sample(range(d), 10))
            sql = f"v IN ({', '.join(map(str, vals))})"
        else:
            a = rng.randrange(d)
            sql = f"v > {a + d} AND v < {a}"
        ops.append((kind, sql))
    return ops


def exact_values(sql: str) -> list[int]:
    """Values of the layout matching one generated predicate (every value
    in [0, domain) is present exactly once)."""
    if sql.startswith("v = "):
        return [int(sql[4:])]
    if sql.startswith("v >= "):
        lo, hi = (int(p.split()[-1]) for p in sql.split(" AND "))
        return list(range(lo, hi + 1))
    if sql.startswith("v IN ("):
        return sorted({int(x) for x in sql[6:-1].split(",")})
    return []


def exact_row_groups(sql: str) -> set[tuple[str, int]]:
    """(file name, row group) pairs holding a match: the set any sound
    plan must keep."""
    if sql.startswith("v >= "):
        lo, hi = (int(p.split()[-1]) for p in sql.split(" AND "))
        groups = range(lo // ROWS_PER_RG, hi // ROWS_PER_RG + 1)
    else:
        groups = {v // ROWS_PER_RG for v in exact_values(sql)}
    return {(file_name(g // RGS_PER_FILE), g % RGS_PER_FILE) for g in groups}


def file_name(f: int) -> str:
    return f"f{f:06d}.parquet"


def write_range(data_dir: str, lo: int, hi: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in range(lo, hi):
        base = f * ROWS_PER_FILE
        pq.write_table(pa.table({"v": pa.array(range(base, base + ROWS_PER_FILE),
                                               type=pa.int64())}),
                       os.path.join(data_dir, file_name(f)),
                       row_group_size=ROWS_PER_RG)


def write_layout(data_dir: str, n_files: int, workers: int) -> None:
    """Write the files from `workers` child processes and wait for every
    one.  Plain subprocesses rather than a multiprocessing pool: the pool's
    resource tracker outlives the benchmark by a moment."""
    os.makedirs(data_dir, exist_ok=True)
    step = -(-n_files // workers)
    procs = []
    try:
        for lo in range(0, n_files, step):
            procs.append(subprocess.Popen(
                [sys.executable, "-m", "perfbench.plan_point", data_dir,
                 str(lo), str(min(lo + step, n_files))]))
        codes = [p.wait() for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    if any(codes):
        raise RuntimeError(f"layout writers exited with {codes}")


def cached_layout(cache_dir: str, n_files: int, workers: int) -> str:
    """The layout's directory under cache_dir, written on first use: into a
    private directory first, then renamed into place, so a run that dies
    part-way never leaves a partial layout behind."""
    final = os.path.join(cache_dir, f"plan_point_{n_files}")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            write_layout(tmp, n_files, workers)
            os.rename(tmp, final)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return final


def layout_stats(data_dir: str, n_files: int) -> list[tuple[int, int, int]]:
    """(file, size, mtime_ns) per file of the layout."""
    out = []
    for f in range(n_files):
        st = os.stat(os.path.join(data_dir, file_name(f)))
        out.append((f, st.st_size, st.st_mtime_ns))
    return out


def _catalog_items(written):
    from datafusion_async_parquet_index_spark.sources.catalog import (
        FileStats, RowGroupStats)

    for f, size, mtime_ns in written:
        base = f * ROWS_PER_FILE
        rgs = [RowGroupStats(row_group=r, row_count=ROWS_PER_RG,
                             columns={"v": (0, base + r * ROWS_PER_RG,
                                            base + (r + 1) * ROWS_PER_RG - 1)})
               for r in range(RGS_PER_FILE)]
        yield (FileStats(file_name(f), size, RGS_PER_FILE, ROWS_PER_FILE,
                         mtime_ns=mtime_ns), rgs)


class PlanPoint:
    name = "plan_point_20k"
    cycle = len(KIND_CYCLE)
    latency_groups: dict = {}

    def __init__(self, n_files: int = N_FILES):
        self.n_files = n_files
        self._parsed: dict[str, object] = {}
        self.exact_rgs = 0
        self.scanned_rgs = 0

    def ops(self, seed: int):
        return make_ops(seed, self.n_files)

    def setup(self, ctx) -> None:
        from datafusion_async_parquet_index_spark.sources.catalog import (
            SqliteIndexCatalog)
        from datafusion_async_parquet_index_spark.sources.table import (
            IndexedParquetTable)

        t0 = time.perf_counter()
        self.data_dir = cached_layout(ctx.cache_dir, self.n_files, ctx.cpus)
        written = layout_stats(self.data_dir, self.n_files)
        t1 = time.perf_counter()
        self.db_path = os.path.join(ctx.workdir, "plan_point.db")
        cat = SqliteIndexCatalog(self.db_path, rtree_columns=("v",))
        cat.initialize({"v": "int"})
        cat.upsert_files(_catalog_items(written))
        t2 = time.perf_counter()
        self.table = IndexedParquetTable(ctx.spark, self.data_dir, ["v"],
                                         catalog=cat, incremental_attach=True)
        self.setup_parts = {"layout_s": t1 - t0, "load_catalog_s": t2 - t1,
                            "attach_s": time.perf_counter() - t2}
        self.data_bytes = sum(size for _, size, _ in written)

    def prepare(self, op):
        """Untimed per-op preparation: parse each WHERE clause once."""
        from datafusion_async_parquet_index_spark.plans.sql_predicate import (
            parse_predicate)

        expr = self._parsed.get(op[1])
        if expr is None:
            expr = self._parsed[op[1]] = parse_predicate(op[1])
        return expr

    def run(self, ctx, op, expr):
        return self.table.plan_scan(expr)

    def check(self, op, expr, dec) -> bool:
        kept = {(f, rg) for f, rgs in dec.files_scanned.items() for rg in rgs}
        exact = exact_row_groups(op[1])
        self.exact_rgs += len(exact)
        self.scanned_rgs += len(kept)
        return exact <= kept

    def verify(self, ctx, done_ops) -> int:
        """Run a few measured predicates through Spark and compare the
        counted rows with the layout; returns the number of mismatches."""
        bad = 0
        picks = [op for op in done_ops if op[0] != "contradiction"][:N_VERIFY]
        for op in picks:
            df = self.table.query(self.prepare(op))
            if ctx.action(df.count) != len(exact_values(op[1])):
                bad += 1
        return bad

    def details(self) -> dict:
        return {
            "files": self.n_files,
            "setup_parts": self.setup_parts,
            "row_groups": self.n_files * RGS_PER_FILE,
            "index_bytes_per_data_byte":
                os.path.getsize(self.db_path) / self.data_bytes,
            "rg_precision": (self.exact_rgs / self.scanned_rgs
                             if self.scanned_rgs else None),
        }


if __name__ == "__main__":
    write_range(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
