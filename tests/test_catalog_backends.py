"""Backend equivalence: the SQLite catalog (SQL rendering) and the
DataFrame catalog (pyspark Column evaluation) must return IDENTICAL
pruning decisions for the same predicates over the same corpus — the
stats-space Expr is the single source of truth, the backends are just
renderers.
"""

import pytest

from datafusion_async_parquet_index_spark.plans.expr import (
    Col, InList, Lit, col,
)
from datafusion_async_parquet_index_spark.sources.catalog import (
    FileStats, RowGroupStats, SqliteIndexCatalog, survivors_by_file,
)
from datafusion_async_parquet_index_spark.sources.df_catalog import (
    DataFrameIndexCatalog,
)
from datafusion_async_parquet_index_spark.sources.demo_corpus import (
    write_demo_corpus,
)
from datafusion_async_parquet_index_spark.sources.table import (
    IndexedParquetTable,
)

PREDICATES = [
    col("value") == 150,
    (col("value") < 20) | (col("value") > 500),
    (col("value") < 20) & (col("text") == "a"),
    (col("value") > 500) & (col("text") == "a"),      # contradictory
    col("text").like("a%"),
    ~(col("value") >= 100),
    col("value").isin(5, 150, 2999),
    col("value").is_not_null(),
    (col("value") % 2 == 0) | (col("value") == 1),    # arithmetic => TRUE
]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    write_demo_corpus(str(d))
    return str(d)


def test_backends_agree(spark, corpus):
    t_sql = IndexedParquetTable(
        spark, corpus, ["value", "text"], catalog=SqliteIndexCatalog())
    t_df = IndexedParquetTable(
        spark, corpus, ["value", "text"],
        catalog=DataFrameIndexCatalog(spark))
    for pred in PREDICATES:
        d_sql = t_sql.plan_scan(pred)
        d_df = t_df.plan_scan(pred)
        assert d_sql.files_scanned == d_df.files_scanned, (
            f"backend divergence for {pred!r}: "
            f"{d_sql.files_scanned} vs {d_df.files_scanned}")


def test_df_catalog_incremental_and_persist(spark, corpus, tmp_path):
    path = str(tmp_path / "stats_table")
    cat = DataFrameIndexCatalog(spark, persist_path=path)
    t = IndexedParquetTable(spark, corpus, ["value", "text"], catalog=cat)
    d = t.plan_scan(col("value") == 150)
    assert d.file_names == ["file2.parquet"]
    # the persisted stats table is readable parquet with typed columns
    stats = spark.read.parquet(path)
    assert "value_min" in stats.columns and "text_max" in stats.columns
    assert stats.count() == 60
    # removing a file's stats drops it from decisions (incremental maintenance)
    cat.remove_file("file2.parquet")
    d2 = t.plan_scan(col("value") == 150)
    assert d2.file_names == []


def test_sqlite_catalog_survives_reopen(spark, corpus, tmp_path):
    """The REMOTE-catalog story of the reference (main.rs:89-90: the
    index 'could be stored in any database SQLx supports'): a
    file-backed SQLite catalog built by one session is reopened by a
    fresh catalog object + table without re-reading a single footer
    (size short-circuit), and every pruning decision is identical —
    including through the round-5 schema-growth DDL (NaN-count /
    exact-decimal side columns ALTER onto pre-existing tables
    idempotently)."""
    import datafusion_async_parquet_index_spark.sources.stats as stats_mod

    db = str(tmp_path / "index.db")
    t1 = IndexedParquetTable(
        spark, corpus, ["value", "text"], catalog=SqliteIndexCatalog(db))
    decisions = [t1.plan_scan(p).files_scanned for p in PREDICATES]
    t1.catalog.close()

    calls = {"n": 0}
    orig = stats_mod.extract_file_stats

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    stats_mod.extract_file_stats = counting
    try:
        # a fresh process would construct with incremental=True via
        # refresh(); constructing over the same db and refreshing must
        # not touch any footer
        cat2 = SqliteIndexCatalog(db)
        t2 = IndexedParquetTable.__new__(IndexedParquetTable)
        t2.spark = spark
        t2.data_dir = corpus
        t2.catalog = cat2
        t2.name = "reopened"
        t2.partitioned = False
        from datafusion_async_parquet_index_spark.sources.stats import (
            list_parquet_files,
        )
        t2._files = list_parquet_files(corpus)
        t2._index_columns = ["value", "text"]
        t2._schema = spark.read.parquet(t2._files[0]).schema
        t2.index_schema = {}
        t2._reset_scan_log()
        t2.refresh()  # incremental: size-matched files short-circuit
        assert calls["n"] == 0, "reopen must not re-read any footer"
        for pred, want in zip(PREDICATES, decisions):
            assert t2.plan_scan(pred).files_scanned == want, str(pred)
    finally:
        stats_mod.extract_file_stats = orig


def test_df_catalog_query_results_correct(spark, corpus):
    t = IndexedParquetTable(
        spark, corpus, ["value", "text"],
        catalog=DataFrameIndexCatalog(spark))
    rows = t.query(col("value") == 150).collect()
    assert [(r["file_name"], r["value"]) for r in rows] == [
        ("file2.parquet", 150)]


def test_metadata_only_counts(spark, corpus):
    from datafusion_async_parquet_index_spark.plans.expr import col as xc
    for cat in (SqliteIndexCatalog(), DataFrameIndexCatalog(spark)):
        t = IndexedParquetTable(spark, corpus, ["value", "text"], catalog=cat)
        # COUNT(*) answered from the catalog alone
        assert t.count_rows() == 3000
        # refuted predicate: exact 0, no parquet I/O
        assert t.count_rows((xc("value") > 500) & (xc("text") == "a")) == 0
        # upper bound = rows in surviving row groups (1 rg of 50)
        assert t.count_upper_bound(xc("value") == 150) == 50
        # fallback path agrees with a real scan
        assert t.count_rows(xc("value") == 150) == 1


def test_column_bounds_metadata_only(spark, corpus):
    for cat in (SqliteIndexCatalog(), DataFrameIndexCatalog(spark)):
        t = IndexedParquetTable(spark, corpus, ["value", "text"], catalog=cat)
        assert t.min_max("value") == (0, 2999)
        mn, mx, complete = t.catalog.column_bounds("value")
        assert (mn, mx, complete) == (0, 2999, True)
        # unindexed column falls back to a scan aggregate
        mn, mx = t.min_max("file_name")
        assert (mn, mx) == ("file1.parquet", "file3.parquet")


def test_join_key_sideways_pruning(spark, corpus):
    from pyspark.sql import functions as F
    t = IndexedParquetTable(spark, corpus, ["value", "text"])
    # small build side with keys only in file2's range
    build = spark.createDataFrame([(150, "x"), (155, "y")], ["k", "tag"])
    probe = t.query_join_pruned("value", build, "k")
    assert t.last_scan.file_names == ["file2.parquet"]
    joined = probe.join(F.broadcast(build), probe.value == build.k)
    got = sorted((r["value"], r["tag"]) for r in joined.collect())
    assert got == [(150, "x"), (155, "y")]
    # matches the unpruned join exactly
    full = t.to_df().join(F.broadcast(build), F.col("value") == F.col("k"))
    assert sorted((r["value"], r["tag"]) for r in full.collect()) == got

    # wide build side (> max_in_list distinct keys) falls back to range
    wide = spark.range(100, 180).select(F.col("id").cast("int").alias("k"))
    t.query_join_pruned("value", wide, "k", max_in_list=16)
    assert t.last_scan.file_names == ["file2.parquet"]

    # empty build side: no scan at all
    empty = spark.createDataFrame([], "k int")
    df = t.query_join_pruned("value", empty, "k")
    assert df.count() == 0 and t.last_scan.files_scanned == {}


def test_join_pruned_null_key_does_not_hide_real_keys(spark, corpus):
    """A NULL build-side key must not occupy a harvested IN-list slot:
    with max_in_list distinct non-null keys PLUS a NULL, the old
    harvest could drop a real key after the limit yet still take the
    exact IN-list path — silently losing join rows. NULLs now filter
    before the limit, so the list is complete (or the range path
    triggers)."""
    from pyspark.sql import functions as F

    t = IndexedParquetTable(spark, corpus, ["value", "text"])
    # 5 real keys + a NULL with max_in_list=4: the harvest limit (5)
    # truncates the 6 distinct values, so under the old code a NULL in
    # the kept rows left only 4 real keys — "complete-looking" but
    # missing one. With NULLs filtered first, 5 non-null keys exceed
    # the cap and the sound [min,max] range path triggers instead.
    build = spark.createDataFrame(
        [(150, "a"), (155, "b"), (160, "c"), (165, "d"), (170, "e"),
         (None, "n")],
        "k int, tag string")
    probe = t.query_join_pruned("value", build, "k", max_in_list=4)
    joined = probe.join(F.broadcast(build), probe.value == build.k)
    got = sorted(r["value"] for r in joined.collect())
    assert got == [150, 155, 160, 165, 170]


def test_unknown_column_raises_cleanly(spark, corpus):
    from pyspark.sql.utils import AnalysisException
    t = IndexedParquetTable(spark, corpus, ["value", "text"])
    # unknown column can't prune (conservative TRUE) and the residual
    # filter surfaces a clean AnalysisException from Spark
    with pytest.raises(AnalysisException):
        t.query(col("no_such_column") == 1).collect()


def test_refresh_is_incremental(spark, tmp_path, monkeypatch):
    import shutil

    from datafusion_async_parquet_index_spark.sources import stats as stats_mod
    from datafusion_async_parquet_index_spark.sources.demo_corpus import (
        write_demo_corpus,
    )

    d = str(tmp_path / "corpus")
    write_demo_corpus(d)
    t = IndexedParquetTable(spark, d, ["value", "text"])
    assert len(t.catalog.all_files()) == 3

    calls = []
    real = stats_mod.extract_file_stats
    monkeypatch.setattr(
        stats_mod, "extract_file_stats",
        lambda p, s, **kw: calls.append(p) or real(p, s, **kw))

    # no changes: refresh touches no footers
    t.refresh()
    assert calls == []
    # new file: only it is extracted
    shutil.copy(f"{d}/file1.parquet", f"{d}/file4.parquet")
    t.refresh()
    assert [c.split("/")[-1] for c in calls] == ["file4.parquet"]
    assert len(t.catalog.all_files()) == 4
    # deleted file: stats dropped, nothing re-extracted
    calls.clear()
    (tmp_path / "corpus" / "file4.parquet").unlink()
    t.refresh()
    assert calls == []
    assert len(t.catalog.all_files()) == 3


def test_rowgroups_mode_prunes_columns(spark, corpus):
    t = IndexedParquetTable(spark, corpus, ["value", "text"])
    df = t.query(col("value") == 150, columns=["file_name", "value"],
                 mode="rowgroups")
    rows = df.collect()
    assert [(r["file_name"], r["value"]) for r in rows] == [
        ("file2.parquet", 150)]
    assert df.columns == ["file_name", "value"]
    # projection without the predicate column still filters correctly
    df2 = t.query(col("value") == 150, columns=["text"], mode="rowgroups")
    assert [r["text"] for r in df2.collect()] == ["et"]


def test_distributed_build_matches_threaded(spark, tmp_path):
    """The executor-fanned footer extraction (>= distributed_threshold
    files, the 100 TB posture) must produce the identical catalog to
    the driver thread-pool path — stats, partition values, NaN counts
    and every sidecar statistic all ride the same per-file
    extraction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_async_parquet_index_spark.sources.stats import (
        build_index, list_parquet_files,
    )

    d = tmp_path / "many"
    n_files = 68  # above the default distributed_threshold of 64
    for f in range(n_files):
        sub = d / f"part={f % 4}"
        sub.mkdir(parents=True, exist_ok=True)
        ids = list(range(f * 10, f * 10 + 10))
        tbl = pa.table({
            "v": pa.array(ids, pa.int64()),
            "body": pa.array([f"alpha w{f} row{i % 3}" for i in ids],
                             pa.string()),
            "x": pa.array([float("nan") if i % 7 == 0 else i / 2
                           for i in ids], pa.float64()),
        })
        pq.write_table(tbl, str(sub / f"data-{f}.parquet"),
                       row_group_size=5, data_page_size=16,
                       write_page_index=True)
    files = list_parquet_files(str(d), recursive=True)
    assert len(files) == n_files
    pvals = {p: {"part": int(p.split("part=")[1].split("/")[0])}
             for p in files}

    def build(use_spark):
        cat = SqliteIndexCatalog()
        build_index(cat, files, ["v", "x"],
                    spark=use_spark,
                    bloom_columns=["v"], token_bloom_columns=["body"],
                    sum_columns=["v"], nan_count_columns=["x"],
                    hist_columns={"v": (0, 679, 8)},
                    ndv_columns=["v", "body"], dict_columns=["body"],
                    topk_columns=["body"], topk_k=2,
                    page_index_columns=["v"],
                    rel_to=str(d),
                    partition_schema={"part": "int"},
                    partition_values=pvals)
        return cat

    threaded = build(None)
    dist = build(spark)
    assert sorted(threaded.all_files()) == sorted(dist.all_files())
    # pruning decisions must match on stats, partition, AND bloom paths
    from datafusion_async_parquet_index_spark.plans.pruning import (
        PruningRewriter,
    )
    rw = PruningRewriter(threaded.index_schema)
    for pred in [col("v") == 555, col("part") == 2,
                 (col("part") == 1) & (col("v") > 400)]:
        sp = rw.rewrite(pred)
        assert sorted(threaded.get_files(sp)) == sorted(dist.get_files(sp))
    for c in ("v", "x", "part"):
        assert threaded.column_rg_entries_keyed(c) == \
            dist.column_rg_entries_keyed(c), c
    assert threaded.column_nan_total("x") == dist.column_nan_total("x") \
        == sum(1 for i in range(n_files * 10) if i % 7 == 0)
    names = [f for f, *_ in threaded.all_files()]
    pages = threaded.get_page_stats(names, ["v"])
    assert len(pages) == n_files * 2  # every row group has a page index
    assert pages == dist.get_page_stats(names, ["v"])
    getters = [("get_blooms", "v"), ("get_blooms", "body#tokens"),
               ("get_sums", "v"), ("get_hists", "v"), ("get_ndvs", "v"),
               ("get_ndvs", "body"), ("get_dicts", "body"),
               ("get_topk", "body")]
    for getter, c in getters:
        a = getattr(threaded, getter)(c)
        assert len(a) == n_files * 2, (getter, c)
        assert a == getattr(dist, getter)(c), (getter, c)


# -- remote-style DB-API backend (reference main.rs:89-90) -------------

import sqlite3

from datafusion_async_parquet_index_spark.sources.catalog import (
    DBAPIIndexCatalog,
)


class _FormatParamCursor:
    """Cursor shim that accepts ONLY %s placeholders — what a psycopg2/
    MySQLdb driver would see — proving the catalog really translated
    its qmark SQL rather than passing it through."""

    def __init__(self, cur):
        self._cur = cur

    def _tr(self, sql):
        assert "?" not in sql, f"qmark placeholder leaked to driver: {sql}"
        return sql.replace("%s", "?")

    def execute(self, sql, params=()):
        self._cur.execute(self._tr(sql), params)

    def executemany(self, sql, rows):
        self._cur.executemany(self._tr(sql), rows)

    def fetchall(self):
        return self._cur.fetchall()

    @property
    def description(self):
        return self._cur.description

    def close(self):
        self._cur.close()


class _FormatParamConn:
    """Fake remote-DB connection (format paramstyle, explicit cursors,
    explicit commit/rollback — the full PEP 249 surface the generic
    backend must drive) over an in-process sqlite3 engine."""

    def __init__(self):
        self._c = sqlite3.connect(":memory:", check_same_thread=False)

    def cursor(self):
        return _FormatParamCursor(self._c.cursor())

    def commit(self):
        self._c.commit()

    def rollback(self):
        self._c.rollback()

    def close(self):
        self._c.close()


def _dbapi_qmark():
    return DBAPIIndexCatalog(
        lambda: sqlite3.connect(":memory:", check_same_thread=False))


def _dbapi_format():
    return DBAPIIndexCatalog(_FormatParamConn, paramstyle="format")


def test_dbapi_backend_decision_identical(spark, corpus):
    """All four backends — in-process SQLite, stats-DataFrame, DB-API
    over qmark, DB-API over a format-paramstyle remote-style driver —
    return identical pruning decisions for every predicate."""
    tables = [
        IndexedParquetTable(spark, corpus, ["value", "text"],
                            catalog=SqliteIndexCatalog()),
        IndexedParquetTable(spark, corpus, ["value", "text"],
                            catalog=DataFrameIndexCatalog(spark)),
        IndexedParquetTable(spark, corpus, ["value", "text"],
                            catalog=_dbapi_qmark()),
        IndexedParquetTable(spark, corpus, ["value", "text"],
                            catalog=_dbapi_format()),
    ]
    for pred in PREDICATES:
        decisions = [t.plan_scan(pred).files_scanned for t in tables]
        assert all(d == decisions[0] for d in decisions), (
            f"backend divergence for {pred!r}: {decisions}")


def test_dbapi_backend_full_protocol(spark, corpus):
    """The generic backend exercises the whole catalog protocol:
    metadata-only counts, bounds, sum store (incl. second moments),
    idempotent upsert, and explicit-child-delete remove_file."""
    from datafusion_async_parquet_index_spark.plans.expr import col as xc

    t = IndexedParquetTable(spark, corpus, ["value", "text"],
                            catalog=_dbapi_format(),
                            sum_columns=["value"])
    assert t.count_rows() == 3000
    assert t.count_rows((xc("value") > 500) & (xc("text") == "a")) == 0
    assert t.min_max("value") == (0, 2999)
    assert t.sum_rows("value")[:2] == (sum(range(3000)), 3000)
    s, sq, n = t.sum_sq_rows("value", xc("value") <= 120)
    assert (s, sq, n) == (sum(range(121)),
                          sum(v * v for v in range(121)), 121)
    assert t.last_var_pushdown["partial_row_groups"] == 1
    # idempotent re-upsert: refresh with no changes keeps the catalog
    n_before = len(t.catalog.all_files())
    t.refresh()
    assert len(t.catalog.all_files()) == n_before
    # remove_file drops children without relying on FK cascade
    t.catalog.remove_file("file2.parquet")
    assert t.plan_scan(xc("value") == 150).file_names == []
    assert t.catalog.get_sums("value")  # other files' sums intact
    assert all(fn != "file2.parquet"
               for fn, _ in t.catalog.get_sums("value"))


def test_backends_expose_the_same_public_methods():
    """A reader added to or deleted from one backend but not the other
    fails here, not at a caller. The one known asymmetry: stats_df (the
    DataFrame backend's statistics frame)."""
    def public(cls):
        return {n for n in dir(cls)
                if not n.startswith("_") and callable(getattr(cls, n))}

    sqlite, frame = public(SqliteIndexCatalog), public(DataFrameIndexCatalog)
    assert sqlite - frame == set()
    assert frame - sqlite == {"stats_df"}


def test_frame_backend_is_sqlite_plus_its_lookup():
    """The DataFrame backend is one SQLite catalog with a Spark lookup:
    every write, snapshot, DV and read comes from SqliteIndexCatalog,
    so a DML or snapshot rule is written once."""
    assert issubclass(DataFrameIndexCatalog, SqliteIndexCatalog)
    own = {n for n, v in vars(DataFrameIndexCatalog).items()
           if callable(v)}
    assert own == {"__init__", "_stats_schema", "stats_df", "get_files"}


def test_dbapi_ddl_spellings_reach_driver():
    """The pk/blob DDL knobs and paramstyle translation must surface in
    the SQL the driver actually receives — recorded through a fake
    connection, no server needed (what a Postgres deployment would
    pass: BIGSERIAL/BYTEA/format)."""

    recorded = []

    class _RecCursor:
        def execute(self, sql, params=()):
            recorded.append(sql)

        def executemany(self, sql, rows):
            recorded.append(sql)

        def fetchall(self):
            # any SELECT finds a row; wide enough for the 6-column
            # prior-row lookup (file_id, row_group_count, size,
            # mtime_ns, footer_md5, row_count) while keeping [0][0] = 1
            # for the upsert's id probe
            return [(1, 1, 1, None, None, 1)]

        @property
        def description(self):
            return [("file_id",), ("file_name",)]

        def close(self):
            pass

    class _RecConn:
        def cursor(self):
            return _RecCursor()

        def commit(self):
            pass

        def rollback(self):
            pass

        def close(self):
            pass

    cat = DBAPIIndexCatalog(
        _RecConn, paramstyle="format",
        pk_autoinc="BIGSERIAL PRIMARY KEY", blob_type="BYTEA")
    cat.initialize({"v": "int", "b": "binary"})
    ddl = "\n".join(recorded)
    assert "BIGSERIAL PRIMARY KEY" in ddl
    assert "AUTOINCREMENT" not in ddl
    assert "BYTEA" in ddl and "BLOB" not in ddl
    assert "PRAGMA" not in ddl  # introspection went through LIMIT 0
    # a parameterized statement got its placeholders translated
    from datafusion_async_parquet_index_spark.sources.catalog import (
        FileStats, RowGroupStats,
    )
    cat.upsert_file(FileStats("f.parquet", 1, 1, 10),
                    [RowGroupStats(0, 10, {"v": (0, 1, 9)})])
    params_sql = [s for s in recorded if "%s" in s]
    assert params_sql, "expected format-style placeholders"
    assert all("?" not in s for s in recorded)


def test_hist_store_round_trips_on_all_backends():
    """The histogram extension must survive upsert→get on the SQLite
    and DB-API (both paramstyles) backends identically — including
    >64-bit domains (lo/hi travel as decimal-string TEXT). The
    DataFrame backend's dict mirror is exercised by
    test_df_hist_mirror below with a live session."""
    from datafusion_async_parquet_index_spark.sources.catalog import (
        FileStats, RowGroupStats, SqliteIndexCatalog,
    )

    fs = FileStats("f.parquet", 10, 2, 100)
    rgs = [RowGroupStats(row_group=0, row_count=50),
           RowGroupStats(row_group=1, row_count=50)]
    big = 2 ** 70
    hists = {0: {"v": (0, 99, 4, [10, 20, 15, 5]),
                 "w": (big, big + 99, 2, [30, 20])},
             1: {"v": (0, 99, 4, [1, 2, 3, 44])}}

    def check(cat):
        cat.initialize({"v": "int"})
        cat.upsert_file(fs, rgs, hists=hists)
        got = cat.get_hists("v")
        assert got[("f.parquet", 0)] == (0, 99, 4, [10, 20, 15, 5])
        assert got[("f.parquet", 1)] == (0, 99, 4, [1, 2, 3, 44])
        gw = cat.get_hists("w")
        assert gw[("f.parquet", 0)] == (big, big + 99, 2, [30, 20])
        assert ("f.parquet", 1) not in gw
        # re-upsert without hists clears them (idempotent replace)
        cat.upsert_file(fs, rgs)
        assert cat.get_hists("v") == {}

    check(SqliteIndexCatalog())
    check(_dbapi_qmark())
    check(_dbapi_format())


def test_ndv_store_round_trips_on_all_backends():
    """The NDV extension must survive upsert→get on the SQLite and
    DB-API (both paramstyles) backends identically; re-upsert without
    registers clears them (idempotent replace)."""
    from datafusion_async_parquet_index_spark.sources.catalog import (
        FileStats, RowGroupStats, SqliteIndexCatalog,
    )

    fs = FileStats("f.parquet", 10, 2, 100)
    rgs = [RowGroupStats(row_group=0, row_count=50),
           RowGroupStats(row_group=1, row_count=50)]
    r0 = [0] * 64
    r0[3], r0[17] = 5, 12
    r1 = [0] * 64
    r1[3] = 7
    ndvs = {0: {"v": r0, "w": [1] * 64}, 1: {"v": r1}}

    def check(cat):
        cat.initialize({"v": "int"})
        cat.upsert_file(fs, rgs, ndvs=ndvs)
        got = cat.get_ndvs("v")
        assert got[("f.parquet", 0)] == r0
        assert got[("f.parquet", 1)] == r1
        gw = cat.get_ndvs("w")
        assert gw[("f.parquet", 0)] == [1] * 64
        assert ("f.parquet", 1) not in gw
        cat.upsert_file(fs, rgs)
        assert cat.get_ndvs("v") == {}
        # removal drops the child rows too
        cat.upsert_file(fs, rgs, ndvs=ndvs)
        cat.remove_file("f.parquet")
        assert cat.get_ndvs("v") == {}

    check(SqliteIndexCatalog())
    check(_dbapi_qmark())
    check(_dbapi_format())


def _sidecar_samples():
    """One upsert payload per sidecar statistic, keyed by its
    upsert_file keyword; each spans two row groups and two columns
    (``w`` only in row group 0 or 1) so the getters' column filter and
    row-group keying are both exercised."""
    from datafusion_async_parquet_index_spark.sources.page_index import (
        PageStats,
    )

    big = 2 ** 70
    return {
        "blooms": {0: {"v": (64, 3, b"\x01\x02\x03\x04" * 2)},
                   1: {"v": (128, 2, bytes(16)),
                       "w": (64, 1, b"\xff" * 8)}},
        "sums": {0: {"v": (10, 4, 30)},
                 1: {"v": (2 ** 62, 3, 2 ** 130), "w": (-5, 2, None)}},
        "hists": {0: {"v": (0, 99, 4, [10, 20, 15, 5]),
                      "w": (big, big + 99, 2, [30, 20])},
                  1: {"v": (0, 99, 4, [1, 2, 3, 44])}},
        "ndvs": {0: {"v": [0, 5] + [0] * 60 + [12, 1], "w": [1] * 64},
                 1: {"v": [7] + [0] * 63}},
        "dicts": {0: {"v": [(1, 20), (2, 30)], "w": [("a", 7), ("b", 3)]},
                  1: {"v": [(-3, 50)]}},
        "topks": {0: {"v": ([(2, 30), (1, 20)], 0, 0),
                      "w": ([("a", 7)], 3, 7)},
                  1: {"v": ([(-3, 45)], 5, 45)}},
        "pages": {(0, "v"): [PageStats(0, 0, 25, 1, 9, False, 0),
                             PageStats(1, 25, 25, 10, 19, False, 2)],
                  (1, "v"): [PageStats(0, 0, 50, None, None, True, 50)],
                  (0, "w"): [PageStats(0, 0, 50, "a", "m", False, None)]},
    }


_SIDECAR_GETTERS = {"blooms": "get_blooms", "sums": "get_sums",
                    "hists": "get_hists", "ndvs": "get_ndvs",
                    "dicts": "get_dicts", "topks": "get_topk",
                    "pages": "get_page_stats"}


def _sidecar_read(cat, kind, column):
    if kind == "pages":
        return cat.get_page_stats(["f.parquet"], [column])
    return getattr(cat, _SIDECAR_GETTERS[kind])(column)


def _sidecar_expected(kind, payload, column):
    if kind == "pages":
        return {("f.parquet", rg, c): [
                    (p.first_row, p.row_count, p.min_value, p.max_value,
                     p.null_page, p.null_count) for p in plist]
                for (rg, c), plist in payload.items() if c == column}
    return {("f.parquet", rg): cols[column]
            for rg, cols in payload.items() if column in cols}


_SIDECAR_BACKENDS = {
    "sqlite": lambda: SqliteIndexCatalog(),
    "dbapi_qmark": lambda: _dbapi_qmark(),
    "dbapi_format": lambda: _dbapi_format(),
    # no session needed: the sidecar store is driver-side
    "df": lambda: DataFrameIndexCatalog(None),
}


@pytest.mark.parametrize("backend", sorted(_SIDECAR_BACKENDS))
@pytest.mark.parametrize("kind", sorted(_SIDECAR_GETTERS))
def test_sidecar_round_trip(kind, backend):
    """Every sidecar statistic on every backend: the public getter
    returns exactly what upsert_file stored, a re-upsert without that
    keyword clears it (leaving the other statistics in place), and
    remove_file clears it."""
    from datafusion_async_parquet_index_spark.sources.catalog import (
        FileStats, RowGroupStats,
    )

    samples = _sidecar_samples()
    other = next(k for k in sorted(samples) if k != kind)
    fs = FileStats("f.parquet", 10, 2, 100)
    rgs = [RowGroupStats(row_group=0, row_count=50),
           RowGroupStats(row_group=1, row_count=50)]
    cat = _SIDECAR_BACKENDS[backend]()
    cat.initialize({"v": "int", "w": "string"})
    cat.upsert_file(fs, rgs, **samples)
    for column in ("v", "w"):
        assert _sidecar_read(cat, kind, column) == \
            _sidecar_expected(kind, samples[kind], column), column
    cat.upsert_file(fs, rgs, **{k: v for k, v in samples.items()
                                if k != kind})
    assert _sidecar_read(cat, kind, "v") == {}
    assert _sidecar_read(cat, kind, "w") == {}
    assert _sidecar_read(cat, other, "v") == \
        _sidecar_expected(other, samples[other], "v")
    cat.upsert_file(fs, rgs, **samples)
    cat.remove_file("f.parquet")
    assert _sidecar_read(cat, kind, "v") == {}
    assert _sidecar_read(cat, kind, "w") == {}


def test_sums_table_without_sumsq_migrates(tmp_path):
    """A catalog persisted before the second-moment column keeps
    opening: initialize adds sumsq_value, and the old rows read back
    with an unknown (None) sum of squares."""
    from datafusion_async_parquet_index_spark.sources.catalog import (
        FileStats, RowGroupStats,
    )

    db = str(tmp_path / "legacy.db")
    cat = SqliteIndexCatalog(db)
    cat.initialize({"v": "int"})
    cat.upsert_file(FileStats("f.parquet", 10, 1, 50),
                    [RowGroupStats(row_group=0, row_count=50)])
    cat._exec("DROP TABLE row_group_sums")
    cat._exec("""CREATE TABLE row_group_sums (
                   file_id INTEGER NOT NULL, row_group INTEGER NOT NULL,
                   column_name TEXT NOT NULL, sum_value INTEGER NOT NULL,
                   value_count INTEGER NOT NULL,
                   PRIMARY KEY (file_id, row_group, column_name))""")
    cat._exec("INSERT INTO row_group_sums VALUES (1, 0, 'v', 45, 50)")
    cat._conn.commit()
    cat.close()
    cat = SqliteIndexCatalog(db)
    cat.initialize({"v": "int"})
    assert "sumsq_value" in cat._existing_columns("row_group_sums")
    assert cat.get_sums("v") == {("f.parquet", 0): (45, 50, None)}


def test_ndv_estimate_folds_and_degrades(tmp_path, spark):
    """Table-level NDV fold: the catalog estimate must equal the
    single-pass estimate an engine computes over the raw rows (register
    merging is associative), and coverage gaps must return None, never
    a wrong number."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_async_parquet_index_spark.sources.stats import (
        HLL_ALPHA_SCALED, HLL_REGS, hll_rho,
    )
    from datafusion_async_parquet_index_spark.sources.table import (
        IndexedParquetTable,
    )

    d = tmp_path / "ndv"
    d.mkdir()
    vals = [i % 311 for i in range(4000)]
    for part in range(2):
        chunk = vals[part * 2000:(part + 1) * 2000]
        pq.write_table(pa.table({"k": pa.array(chunk, type=pa.int64())}),
                       str(d / f"part-{part}.parquet"), row_group_size=700)
    t = IndexedParquetTable(spark, str(d), index_columns=["k"],
                            ndv_columns=["k"])
    est = t.ndv_estimate("k")
    assert est is not None
    regs = [0] * HLL_REGS
    for v in set(vals):
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        b, r = h % HLL_REGS, hll_rho(h >> 6)
        regs[b] = max(regs[b], r)
    ind = sum(1 << (55 - r) for r in regs)
    assert est == round(HLL_ALPHA_SCALED / ind, 2)
    # a column never indexed for NDV: no answer (not a wrong one)
    assert t.ndv_estimate("missing") is None
    # coverage gap: drop one file's registers via a bare re-upsert
    fs, rgs = None, None
    from datafusion_async_parquet_index_spark.sources.stats import (
        extract_file_stats,
    )
    fs, rgs = extract_file_stats(str(d / "part-0.parquet"), {"k": "int"},
                                 file_name="part-0.parquet")
    t.catalog.upsert_file(fs, rgs)
    assert t.ndv_estimate("k") is None


def test_df_hist_mirror(spark):
    """DataFrame-backend hist mirror: upsert→get→replace parity with
    the SQL backends."""
    from datafusion_async_parquet_index_spark.sources.catalog import (
        FileStats, RowGroupStats,
    )
    from datafusion_async_parquet_index_spark.sources.df_catalog import (
        DataFrameIndexCatalog,
    )

    cat = DataFrameIndexCatalog(spark)
    cat.initialize({"v": "int"})
    fs = FileStats("f.parquet", 10, 1, 50)
    rgs = [RowGroupStats(row_group=0, row_count=50)]
    cat.upsert_file(fs, rgs, hists={0: {"v": (0, 9, 2, [30, 20])}})
    assert cat.get_hists("v") == {("f.parquet", 0): (0, 9, 2, [30, 20])}
    cat.upsert_file(fs, rgs)
    assert cat.get_hists("v") == {}


def test_rtree_prefilter_decision_identical(spark, corpus):
    """With an R-tree on the numeric column, every pruning decision must
    be identical to the plain catalog's across all predicate shapes —
    the prefilter is a pure over-approximation; the exact stats SQL has
    the final word. Includes f32-widening edge values (int64 bounds
    that round in float32) and the unknown-bounds full-domain rows."""
    from datafusion_async_parquet_index_spark.plans.expr import (
        Col, InList, Lit,
    )

    t0 = IndexedParquetTable(spark, corpus, ["value", "text"])
    t1 = IndexedParquetTable(spark, corpus, ["value", "text"],
                             rtree_columns=["value"])
    assert t1.catalog._rtree_active == ["value"]
    preds = [
        Col("value") == Lit(150),
        (Col("value") >= Lit(50)) & (Col("value") < Lit(250)),
        (Col("value") > Lit(500)) & (Col("text") == Lit("a")),
        InList(Col("value"), [Lit(1), Lit(150), Lit(2999)]),
        Col("text") == Lit("a"),                      # no window at all
        (Col("value") >= Lit(100)) & (Col("value") <= Lit(50)),
        (Col("value") == Lit(150)) | (Col("value") == Lit(2999)),
        Col("value") != Lit(150),
        Col("value").is_null(),
    ]
    for p in preds:
        assert t0.plan_scan(p).files_scanned == \
            t1.plan_scan(p).files_scanned, p.to_sql()


def test_rtree_f32_widening_never_drops_boundary(spark, tmp_path):
    """int64 bounds too precise for float32: the stored interval widens
    OUTWARD, so point queries at the exact (unrepresentable) bounds
    still keep the row group."""
    import os as _os

    from datafusion_async_parquet_index_spark.plans.expr import Col, Lit

    big = (1 << 60) + 12345  # not representable in f32
    d = str(tmp_path / "rt")
    df = spark.createDataFrame(
        [(big,), (big + 7,)], "v LONG")
    tmp = d + "_t"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in sorted(_os.listdir(tmp))
                if p.endswith(".parquet"))
    _os.makedirs(d, exist_ok=True)
    _os.replace(_os.path.join(tmp, part), _os.path.join(d, "f.parquet"))
    t = IndexedParquetTable(spark, d, ["v"], rtree_columns=["v"])
    for probe in (big, big + 7):
        dec = t.plan_scan(Col("v") == Lit(probe))
        assert dec.row_groups_scanned == 1, dec.describe()
        assert t.query(Col("v") == Lit(probe)).count() == 1


def test_rtree_maintenance_tracks_refresh(spark, tmp_path):
    """refresh() after arrivals/removals keeps the rtree in lockstep:
    decisions stay identical to a plain catalog over the same state."""
    import os as _os

    from datafusion_async_parquet_index_spark.plans.expr import Col, Lit

    d = str(tmp_path / "rt_m")
    def onefile(lo, hi, name):
        df = spark.range(lo, hi).selectExpr("id AS v")
        tmp = str(tmp_path / "_t")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in sorted(_os.listdir(tmp))
                    if p.endswith(".parquet"))
        _os.makedirs(d, exist_ok=True)
        _os.replace(_os.path.join(tmp, part), _os.path.join(d, name))
    onefile(0, 100, "a.parquet")
    t = IndexedParquetTable(spark, d, ["v"], rtree_columns=["v"])
    onefile(100, 200, "b.parquet")
    t.refresh()
    dec = t.plan_scan(Col("v") == Lit(150))
    assert list(dec.files_scanned) == ["b.parquet"]
    _os.remove(_os.path.join(d, "a.parquet"))
    t.refresh()
    dec = t.plan_scan(Col("v") == Lit(50))
    assert dec.files_scanned == {}  # removed file left no rtree ghost
    assert t.query(None).count() == 100


def test_rtree_timestamp_column(spark, tmp_path):
    """rtree windows on a TIMESTAMP column: literals encode through the
    same typed domain as the stats columns, decisions stay identical to
    the plain catalog."""
    import datetime as _dt
    import os as _os

    from datafusion_async_parquet_index_spark.plans.expr import Col, Lit

    d = str(tmp_path / "rt_ts")
    df = spark.sql(
        "SELECT id AS k, timestamp'2024-01-01 00:00:00' "
        "+ make_interval(0, 0, 0, 0, 0, CAST(id AS INT), 0) AS ts "
        "FROM range(0, 120)")
    tmp = str(tmp_path / "_t")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in sorted(_os.listdir(tmp))
                if p.endswith(".parquet"))
    _os.makedirs(d, exist_ok=True)
    _os.replace(_os.path.join(tmp, part), _os.path.join(d, "f.parquet"))
    t0 = IndexedParquetTable(spark, d, ["ts"])
    t1 = IndexedParquetTable(spark, d, ["ts"], rtree_columns=["ts"])
    assert t1.catalog._rtree_active == ["ts"]
    a = _dt.datetime(2024, 1, 1, 0, 30)
    b = _dt.datetime(2024, 1, 1, 1, 0)
    pred = (Col("ts") >= Lit(a)) & (Col("ts") <= Lit(b))
    assert t1._rtree_window(pred) is not None  # typed literals encoded
    assert t0.plan_scan(pred).files_scanned == \
        t1.plan_scan(pred).files_scanned
    assert t1.query(pred).count() == t0.query(pred).count() == 31


def test_rtree_f32_overflow_band_never_drops(spark, tmp_path):
    """Float values in the f32-overflow band (|v| > ~3.4e38 can't even
    pack; 3.0e38-3.4e38 is representable but beyond a naive sentinel
    clamp): stored intervals saturate OUTWARD, so the row group always
    stays a candidate, and query literals beyond f32 max must not
    crash the planner."""
    import os as _os

    from datafusion_async_parquet_index_spark.plans.expr import Col, Lit

    d = str(tmp_path / "rt_f32")
    df = spark.createDataFrame(
        [(1.5e38,), (3.2e38,), (-3.3e38,)], "v DOUBLE")
    tmp = str(tmp_path / "_t")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in sorted(_os.listdir(tmp))
                if p.endswith(".parquet"))
    _os.makedirs(d, exist_ok=True)
    _os.replace(_os.path.join(tmp, part), _os.path.join(d, "f.parquet"))
    t0 = IndexedParquetTable(spark, d, ["v"])
    t1 = IndexedParquetTable(spark, d, ["v"], rtree_columns=["v"])
    for probe in (3.2e38, -3.3e38, 1.5e38, 5e38, -1e39):
        p = Col("v") == Lit(probe)
        assert t0.plan_scan(p).files_scanned == \
            t1.plan_scan(p).files_scanned, probe
    assert t1.query(Col("v") == Lit(3.2e38)).count() == 1
    rng = (Col("v") >= Lit(3.1e38)) & (Col("v") <= Lit(3.4e38))
    assert t1.query(rng).count() == 1


def test_dv_protocol_identical_across_backends(spark, corpus):
    """Deletion vectors behave identically on all four backends: same
    delete counts, same live COUNT/SUM arithmetic (pure catalog, zero
    boundary row groups), same post-delete query results, same refusal
    contract, same era-correct as-of serving."""
    from datafusion_async_parquet_index_spark.plans.expr import col as xc

    results = []
    for make in (lambda: SqliteIndexCatalog(),
                 lambda: DataFrameIndexCatalog(spark),
                 _dbapi_qmark, _dbapi_format):
        t = IndexedParquetTable(spark, corpus, ["value", "text"],
                                catalog=make(), sum_columns=["value"])
        snap = t.snapshot()
        ndel = t.delete_where((xc("value") % 10) == 7)
        n = t.count_rows()
        s, nn = t.sum_rows("value")
        assert t.last_sum_pushdown["partial_row_groups"] == 0
        rows = sorted(r["value"] for r in
                      t.query((xc("value") >= 140)
                              & (xc("value") <= 160)).collect())
        with pytest.raises(ValueError, match="deletion vectors"):
            t.min_max("value")
        # the pre-delete snapshot serves the pre-delete era exactly
        assert t.count_rows(as_of=snap) == n + ndel
        assert t.delete_where((xc("value") % 10) == 7) == 0
        results.append((ndel, n, s, nn, rows))
    assert all(r == results[0] for r in results), results
    ndel, n, s, _, rows = results[0]
    assert ndel == 300 and n == 2700
    assert s == sum(v for v in range(3000) if v % 10 != 7)
    assert rows == [v for v in range(140, 161) if v % 10 != 7]


def test_round8_dml_surface_identical_across_backends(spark, tmp_path):
    """update_where + read_changes (round 8) behave identically over
    the SQLite, DataFrame, and DB-API catalog backends: same update
    counts, same live aggregates, same change-feed breakdown."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from datafusion_async_parquet_index_spark.plans.expr import col as xc

    def corpus_at(d):
        os.makedirs(d)
        df = spark.range(1_000).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 13 % 500).cast("long").alias("v"))
        tmp = d + "_t"
        df.coalesce(1).write.mode("overwrite").option(
            "parquet.block.size", str(1 << 14)).parquet(tmp)
        part = next(p for p in sorted(os.listdir(tmp))
                    if p.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), os.path.join(d, "a.parquet"))
        shutil.rmtree(tmp)
        return d

    results = []
    for name, cat in (
            ("sqlite", SqliteIndexCatalog()),
            ("df", DataFrameIndexCatalog(spark)),
            ("dbapi", _dbapi_qmark())):
        d = corpus_at(str(tmp_path / f"dml_{name}"))
        t = IndexedParquetTable(spark, d, ["k", "v"],
                                sum_columns=["v"], catalog=cat)
        s0 = t.snapshot()
        n_upd = t.update_where((xc("v") % 7) == 0, {"v": "v + 10000"})
        s1 = t.snapshot()
        feed = {(r["_change_type"], ): r["n"] for r in
                t.read_changes(s0, s1).groupBy("_change_type").count()
                .withColumnRenamed("count", "n").collect()}
        s, nn = t.sum_rows("v")
        results.append((name, n_upd, t.count_rows(), s, nn,
                        feed.get(("insert",)), feed.get(("delete",))))
    base = results[0][1:]
    for name, *rest in results[1:]:
        assert tuple(rest) == base, (results[0], (name, *rest))
    assert base[0] > 0 and base[4] == base[5] == base[0]


def test_snapshot_manifest_parity_all_four_backends(spark, corpus):
    """Round 10: the content-aware snapshot manifest
    (snapshot_manifest / file_identity — size, mtime_ns, footer_md5)
    must agree across in-process SQLite, stats-DataFrame, and both
    DB-API paramstyles, and survive an expire of earlier snapshots."""
    cats = {
        "sqlite": SqliteIndexCatalog(),
        "df": DataFrameIndexCatalog(spark),
        "dbapi_qmark": _dbapi_qmark(),
        "dbapi_format": _dbapi_format(),
    }
    manifests, identities = {}, {}
    for name, cat in cats.items():
        t = IndexedParquetTable(spark, corpus, ["value", "text"],
                                catalog=cat)
        t.snapshot()                      # an earlier era to expire
        sid = t.snapshot()
        t.expire_snapshots(keep_last=1)
        manifests[name] = t.catalog.snapshot_manifest(sid)
        identities[name] = t.catalog.file_identity()
    base = manifests["sqlite"]
    assert all(m == base for m in manifests.values()), manifests
    assert all(i == identities["sqlite"] for i in identities.values())
    for _name, (size, mt, md5) in base.items():
        assert size > 0 and mt is not None and md5 is not None


# -- lookup result shape (every backend) --------------------------------

# files of four 100-wide row groups over a sorted int column, inserted out
# of name order so file ids do not follow names; b's row group 2 carries
# no bounds, so its R-tree entry spans the whole domain
_SHAPE_FILES = ("d.parquet", "b.parquet", "a.parquet", "c.parquet")
_SHAPE_ALL = [(n, [0, 1, 2, 3]) for n in sorted(_SHAPE_FILES)]
_SHAPE_CASES = [
    # IN-list inside one row group: each of a's and b's row groups is
    # found by all three stabs, and the UNION returns it once
    (InList(Col("v"), [Lit(5), Lit(17), Lit(42)]),
     [(5, 5), (17, 17), (42, 42)],
     [("a.parquet", [0]), ("b.parquet", [2])]),
    # closed range envelope across a file boundary
    ((Col("v") >= Lit(150)) & (Col("v") <= Lit(650)), [(150, 650)],
     [("a.parquet", [1, 2, 3]), ("b.parquet", [0, 1, 2])]),
    # a point in c: the bound-less row group survives beside it
    (Col("v") == Lit(950), [(950, 950)],
     [("b.parquet", [2]), ("c.parquet", [1])]),
    # prunes nothing
    (Col("v").is_null() | Col("v").is_not_null(), None, _SHAPE_ALL),
]


def _shape_catalog(cat):
    cat.initialize({"v": "int"})
    for name in _SHAPE_FILES:
        base = "abcd".index(name[0]) * 400
        rgs = [RowGroupStats(row_group=rg, row_count=100,
                             columns={"v": (0, base + rg * 100,
                                            base + rg * 100 + 99)})
               for rg in range(4)]
        if name == "b.parquet":
            rgs[2].columns["v"] = (None, None, None)
        cat.upsert_file(FileStats(name, 1000, 4, 400), rgs[::-1])
    return cat


def test_lookup_shape_across_backends(spark):
    """get_files returns [(file, ascending row groups)] sorted by file
    name with each (file, row group) once, on every backend and with
    the R-tree stabs on or off; uniqueness rests on the row-group
    primary key and the UNION of the stabs, ordering on the driver."""
    from datafusion_async_parquet_index_spark.plans.pruning import (
        PruningRewriter,
    )

    cats = {
        "sqlite": SqliteIndexCatalog(),
        "sqlite_rtree": SqliteIndexCatalog(rtree_columns=("v",)),
        "dbapi_qmark": _dbapi_qmark(),
        "dbapi_format": _dbapi_format(),
        "df": DataFrameIndexCatalog(spark),
    }
    for cat in cats.values():
        _shape_catalog(cat)
    assert cats["sqlite_rtree"]._rtree_active == ["v"]
    rewrite = PruningRewriter({"v": "int"}).rewrite
    for pred, windows, want in _SHAPE_CASES:
        prefilter = ("v", windows) if windows else None
        for name, cat in cats.items():
            got = cat.get_files(rewrite(pred), prefilter=prefilter)
            pairs = [(f, rg) for f, rgs in got for rg in rgs]
            assert len(pairs) == len(set(pairs)), (name, pred.to_sql(), got)
            assert [f for f, _ in got] == sorted({f for f, _ in got})
            assert all(rgs == sorted(rgs) and rgs for _, rgs in got)
            assert got == want, (name, pred.to_sql(), got)


def test_survivors_by_file_orders_any_input():
    rows = [("b", 3), ("a", 1), ("b", 0), ("c", 2), ("a", 0), ("b", 1)]
    assert survivors_by_file(rows) == [
        ("a", [0, 1]), ("b", [0, 1, 3]), ("c", [2])]
    assert survivors_by_file([]) == []
