"""Shared helpers for the pipeline operators.

``read_table`` is the single entry point every operator and query uses to
load a testdata parquet table, and it must work in a *vanilla*
SparkSession (the driver's correctness harness builds its own session
without our ``session.py`` factory).  The one wrinkle is
``events.parquet``'s ``ts`` column, whose surfaced type depends on both
the file and the session: naive-MICROS parquet (the current testdata)
reads as TIMESTAMP_NTZ by default or TIMESTAMP_LTZ with NTZ inference
disabled, while TIMESTAMP(NANOS) parquet (earlier testdata generations)
raises ``PARQUET_TYPE_ILLEGAL`` unless
``spark.sql.legacy.parquet.nanosAsLong=true`` turns it into a BIGINT.
``read_table`` keeps the nanos conf-retry (plus a last-resort pyarrow
cast, driver-side and local-harness-only) so nanos files still load;
consumers must NOT assume a concrete ``ts`` type — they go through
``operators.events._ts_seconds``, which dispatches on the actual dtype.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# Runtime SQL confs the operators assume.  All are cheap, idempotent,
# and safe at any scale; ensure_tuned() applies them so the operators
# behave in *foreign* sessions (the driver's harness) exactly as in our
# session factory.  The cached-plan conf matters most: without it AQE
# cannot coalesce partitions under a .cache(), so every tiny shuffle in
# the dedup/similarity operators runs at the session's full shuffle
# width (200 tasks on a vanilla session for a few-hundred-row edge set —
# measured 3-5x wall-clock on the dedup suite).
_TUNING_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # InjectRuntimeFilter explores every join x filter-side candidate,
    # recomputing size-in-bytes stats on FRESH plan instances (no
    # memoization) — on the LSH band/candidate self-join plans this was
    # measured as minutes of driver CPU inside BigInteger.multiply
    # (jstack: canBroadcastBySize -> visitJoin x55), flaky with AQE
    # replan order. Bloom runtime filters can't help these joins anyway:
    # the join keys are computed (md5 bands, signatures), never scan
    # columns, so there is no pushdown target.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
    "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled": "false",
}


def ensure_tuned(spark: SparkSession) -> None:
    for k, v in _TUNING_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # conf unknown/immutable on this build — keep going


def pure_plan(name: str, fn):
    """Memoize a query function's BUILT DataFrame per (session, corpus)
    under ``memoized(spark, "pure_plan", (name, sf_dir), ...)`` — plan
    reuse only, never a result cache: the returned DataFrame is lazy,
    so every sink/action still computes from the parquet inputs.

    Constructing a query's DataFrame costs 0.1-1 s of driver py4j round
    trips per call (measured across the suite), paid again on every
    warm re-entry although the plan is identical; a serving system
    compiles its query templates once.  Only queries RUNTIME-AUDITED as
    pure plan builders are wrapped (no Spark actions, no driver-side
    data construction, no table mutation on warm re-entry — see the
    allowlist in __spark_entry__), so a memo hit changes nothing about
    what executes.  clear_caches() drops these entries with every other
    session artifact, so the bench's cold pass and any fresh process
    still price plan construction."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        return memoized(spark, "pure_plan", (name, sf_dir),
                        lambda: fn(spark, sf_dir))
    return wrapped


def fuse_batches(*stages):
    """Compose Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]
    transformers into ONE mapInPandas function.  A synthesize stage
    chained into its consumer as two mapInPandas operators ships the
    heavy payload column Python->JVM->Python between them (two extra
    Arrow (de)serializations of the biggest column in the plan, plus a
    second worker hop); composing the generators keeps the payload
    inside a single Python worker (guide §4.1) with no change to what
    is computed."""
    def run(batches):
        for stage in stages:
            batches = stage(batches)
        return batches
    return run


def consume_media(media: DataFrame, consume, schema) -> DataFrame:
    """Run ``consume`` (an Iterator[pd.DataFrame] transformer) over a
    synthesized media DataFrame.  When the media carries a fusion hook
    (``_graft_parts = (spread, make)``, attached by the synthesize_*
    functions), the synthesis and consumer stages run FUSED in one
    mapInPandas so the payload bytes never round-trip through the JVM;
    otherwise this degrades to a plain chained mapInPandas."""
    parts = getattr(media, "_graft_parts", None)
    if parts is not None:
        spread, make = parts
        return spread.mapInPandas(fuse_batches(make, consume),
                                  schema=schema)
    return media.mapInPandas(consume, schema=schema)


def spread_for_compute(
    df: DataFrame,
    min_parts: int | None = None,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """Repartition a byte-light but CPU-heavy input so per-row compute
    parallelizes across all cores.

    Parquet can't split below a row group, so a small single-row-group
    file scans as ONE partition and pins an entire md5/shingle or
    vector pipeline to one core (measured 21.6s -> <2s on the MinHash
    signatures at sf0.1).  At 100 TB the scan already carries far more
    partitions than cores and this is a no-op — the guard makes the
    shuffle strictly a small-input fixup, never a cost at scale.

    ``bytes_per_task`` switches to size-based task sizing (the
    ``spark.sql.files.maxPartitionBytes`` convention) for stages whose
    cost tracks *bytes*, not rows: each Python task carries fixed
    worker/Arrow round-trip overhead (~15 ms measured locally), so
    fanning a 1 MB input to 32 mapInPandas tasks costs more than the
    compute it buys (measured 0.51 s -> 0.28 s on the multimodal
    extractor at sf0.1).  The target is estimated from optimizer plan
    stats; unknown/absurd estimates fall back to full parallelism
    (the conservative direction for CPU-heavy work)."""
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    merge_to = None
    if min_parts is not None:
        target = min_parts
    elif bytes_per_task:
        est = _plan_size_estimate(df)
        if est is not None:
            # size-based task count, NOT capped by core count: a large
            # input must keep (or get) ceil(bytes / bytes_per_task)
            # tasks — capping at parallelism would merge a multi-TB
            # scan into per-core mega-tasks. Only the repartition-UP
            # direction caps at parallelism (shuffling a big input
            # wider than the core count buys nothing).
            merge_to = max(1, -(-est // bytes_per_task))
            target = min(parallelism, merge_to)
        else:
            # unknown/absurd estimate: full parallelism for the up
            # direction, and never merge (we cannot prove it's small)
            target = parallelism
    else:
        target = parallelism
    current = df.rdd.getNumPartitions()
    if current < target:
        return df.repartition(target)
    if merge_to is not None and current > merge_to:
        # byte-sized tasks: merge underfilled partitions (shuffle-free)
        # so each Python task amortizes its fixed worker/Arrow overhead
        return df.coalesce(merge_to)
    return df


def _plan_size_estimate(df: DataFrame) -> int | None:
    """Optimizer sizeInBytes for ``df``, or None when stats are missing
    or degenerate (Spark uses Long.Max-ish defaults for unknowns, and
    join-heavy plans can overflow into absurd BigIntegers)."""
    try:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None
    if est <= 0 or est > (1 << 50):
        return None
    return est


# The session artifact store: every session-scoped derived artifact —
# built plans, indexed fixture tables, DML gates, corpus caches — lives
# here, keyed by a WEAK session reference and then (namespace, key).
# Keys are values (sf_dir, table, parameters), never object ids, and
# the session itself must NOT appear in them: that is what the outer
# map is for.  Each session's entry is ``(memos, caches)``: the memo
# dicts by namespace, and the DataFrames ``track_cache`` persisted for
# that session.  Operators return lazy DataFrames, so they cannot
# unpersist their own intermediates — the consumer calls clear_caches()
# once results are materialized (bench cold mode does; the driver's
# per-query processes exit anyway).
#
# Weak keying alone cannot free anything: the values (cached
# DataFrames, IndexedParquetTable objects) strongly reference their
# session, so the key stays reachable through its own entry.
# _session_store therefore also PRUNES the entries of stopped sessions
# on every access — that drops the value->session chain, so a process
# cycling sessions does not accumulate dead plans or cache handles.
_SESSION_STORES: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary())


def _session_stopped(s: SparkSession) -> bool:
    try:
        return bool(s._sc._jsc.sc().isStopped())
    except Exception:
        return True  # dead gateway / stopped context


def _session_store(spark: SparkSession) -> tuple:
    for s in list(_SESSION_STORES.keys()):
        if s is not spark and _session_stopped(s):
            _SESSION_STORES.pop(s, None)
    store = _SESSION_STORES.get(spark)
    if store is None:
        store = _SESSION_STORES[spark] = ({}, [])
    return store


def session_memo(spark: SparkSession, namespace: str) -> dict:
    """The (session, namespace) memo dict behind ``memoized`` — for
    reading an entry back; build entries through ``memoized``."""
    return _session_store(spark)[0].setdefault(namespace, {})


def memoized(spark: SparkSession, namespace: str, key, build):
    """The one get-or-build for session-scoped artifacts: the value
    stored under (session, namespace, key), else ``build()``'s result,
    stored first.  A build that raises stores nothing, so the next
    call builds again.  Also the once-per-session gate for DML
    fixtures: the build runs the mutation and returns what later
    calls need (or True).  clear_caches() drops every entry."""
    memo = session_memo(spark, namespace)
    if key not in memo:
        memo[key] = build()
    return memo[key]


def track_cache(df: DataFrame) -> DataFrame:
    """cache() a DataFrame and register it with its session's store,
    so clear_caches() (or the session stopping) releases it."""
    df = df.cache()
    _session_store(df.sparkSession)[1].append(df)
    return df


def track_cache_eager(df: DataFrame) -> DataFrame:
    """track_cache + immediate materialization (one noop-sink job).

    For LAYERED corpus artifacts referenced from several branches of
    one consumer plan (sigs below bands AND the estimate join, shingle
    sets below both verify legs, the hashed-shingle pass below all of
    them): a merely-*marked* cache is populated per partition as it is
    first scanned, so when a single cold job's branches hit the same
    unmaterialized InMemoryRelation each branch recomputes the
    upstream plan — thread dumps of a cold dedup_minhash_quality
    showed its 13-17 s first execution pinned on 1-2 RUNNABLE threads
    inside NullableColumnBuilder.appendFrom (cache population riding a
    2-partition consumer stage) vs ~2 s with pre-materialized inputs.
    The materializing action must be a DISTINCT CONSUMER plan over the
    cached frame — ``df.filter(lit(True))`` through the noop sink —
    not ``df.count()`` or a direct noop of ``df`` itself: under AQE
    cached plans (canChangeCachedPlanOutputPartitioning=true) an
    action on the exact cached DataFrame executes the child plan
    without storing the buffers for shuffle-bearing plans (verified
    via getRDDStorageInfo: the pair-list cache stayed unlisted after
    both, then registered and populated from the filter variant, after
    which the consumer exec dropped 12-15 s -> 2.8 s). Still
    session-scoped compute: the builder runs inside the first caller's
    measured window and clear_caches() drops the data, so cold passes
    re-pay it."""
    sc = df.sparkSession.sparkContext
    try:
        # an IDENTICAL plan may already sit in the cache manager (two
        # operators deriving the same artifact shape) — its buffers are
        # then reused and no NEW storage entry can register, which is
        # success, not failure. Must be probed BEFORE our own cache().
        already = (df.sparkSession._jsparkSession.sharedState()
                   .cacheManager().lookupCachedData(df._jdf).isDefined())
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    except Exception:
        before = None
    df = track_cache(df)
    df.filter(F.lit(True)).write.mode("overwrite").format("noop").save()
    # the filter(lit(True)) populate depends on UNDOCUMENTED cache-
    # manager behavior under AQE cached plans (a distinct consumer plan
    # stores the buffers; count()/self-noop verifiably did not) — a
    # Spark version bump could silently revert to per-branch recompute,
    # a pure perf regression no correctness test would catch. Verify
    # the cache actually REGISTERED new populated blocks and fail loud
    # if not (ADVICE r14 #3). Zero-partition frames (empty literal
    # relations) legitimately store nothing and are exempt.
    if before is not None:
        try:
            infos = sc._jsc.sc().getRDDStorageInfo()
            newly = [i for i in infos
                     if i.id() not in before and i.numCachedPartitions() > 0]
            registered = bool(newly)
            # .rdd costs a plan conversion — only pay it on failure
            n_parts = 1 if registered else df.rdd.getNumPartitions()
        except Exception:
            return df  # introspection unavailable — keep the old posture
        if not registered and not already and n_parts > 0:
            raise RuntimeError(
                "track_cache_eager: materializing noop write did not "
                "register any cached partitions — the AQE cached-plan "
                "populate trick has stopped working on this Spark "
                "build; layered corpus caches would silently recompute "
                "per consumer branch (see util.track_cache_eager)")
        # WIDTH FIXUP (r15, measured at sf1): AQE coalesces the
        # artifact-building shuffle by its (often badly wrong) size
        # estimate, so a big cache can land in a handful of partitions
        # — the 22.8M-row sf1 pair list cached as 2 partitions x
        # 155 MB, serializing every downstream consumer onto 2 cores
        # (~7 s map-only execs). When the POPULATED cache is large but
        # narrower than the core count, re-cache it repartitioned: one
        # in-memory reshuffle per corpus buys full-width consumers. At
        # real scale the artifact already carries >= parallelism
        # partitions and this is a no-op — strictly a small-cluster /
        # bench-scale fixup like spread_for_compute.
        if registered:
            info = max(newly, key=lambda i: i.memSize())
            parallelism = sc.defaultParallelism
            parts = info.numCachedPartitions()
            if (parts < parallelism
                    and info.memSize() > 64 * (1 << 20)
                    and info.memSize() // max(parts, 1) > 32 * (1 << 20)):
                wide = track_cache(df.repartition(parallelism))
                # populate the wide copy FROM the narrow cache, then
                # drop the narrow one
                wide.filter(F.lit(True)).write.mode(
                    "overwrite").format("noop").save()
                df.unpersist()
                df = wide
    return df


def clear_caches() -> None:
    """The one lifecycle call for session artifacts: drop every memo
    entry of every live session and unpersist every DataFrame
    track_cache registered.  Persisted layouts on disk (artifact_dir)
    survive: they are keyed by their source's identity, not by the
    session."""
    for memos, caches in list(_SESSION_STORES.values()):
        memos.clear()
        while caches:
            df = caches.pop()
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped


def artifact_dir(name: str, src_file: str, params: str) -> str:
    """Deterministic persisted-artifact directory for a derived store
    (signature store, IVF layout, query layouts, ...):
    ``<tempfile.gettempdir()>/<name>_<uid>/<fingerprint>``, where the
    fingerprint hashes the source file's (path, size, mtime) plus the
    build parameters, so a regenerated corpus or retuned parameter set
    gets a fresh store instead of silently reusing a stale one.  Shared
    by every on-disk store so the fingerprint recipe cannot drift
    between them; ``TMPDIR`` is the one setting that moves them all.

    The directory is published only through ``ensure_complete``, so it
    exists only when complete.  The fingerprint carries a fixed
    ``staged`` tag: a directory an earlier in-place writer may have
    left half-written sits under another name and is never reused."""
    import hashlib
    import tempfile

    # uid-scoped (like Spark's own scratch dirs): a shared /tmp name
    # would collide across users — one user's 0755 dir blocks another's
    # writes, and a predictable path invites pre-creation
    uid = getattr(os, "getuid", lambda: "u")()
    base = os.path.join(tempfile.gettempdir(), f"{name}_{uid}")
    st = os.stat(src_file)
    fp = hashlib.md5(
        f"{os.path.abspath(src_file)}|{st.st_size}|{int(st.st_mtime)}"
        f"|{params}|staged".encode()).hexdigest()[:12]
    return os.path.join(base, fp)


def ensure_complete(d: str, writer) -> str:
    """The one publish rule for every persisted derived artifact
    (signature store, IVF layouts, query layouts, replay feeds): ``d``
    exists only when complete.  If ``d`` exists it is returned at once.
    Otherwise ``writer(stage)`` fills a fresh private staging directory
    beside ``d`` (same filesystem) and one ``os.rename(stage, d)``
    publishes it — the staged-write-then-rename ordering of the DML
    crash contract.  A process that loses the rename to another process
    discards its stage and returns the winner's ``d``; a crash mid-write
    leaves only a staging directory, never a partial ``d``."""
    import shutil
    import tempfile

    if os.path.exists(d):
        return d
    parent = os.path.dirname(d)
    os.makedirs(parent, exist_ok=True)
    stage = tempfile.mkdtemp(dir=parent,
                             prefix=os.path.basename(d) + ".stage-")
    try:
        writer(stage)
        try:
            os.rename(stage, d)
        except OSError:
            if not os.path.isdir(d):
                raise  # not a lost race: nothing was published
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return d


def ensure_epoch_nanos(df: DataFrame, colname: str = "ts") -> DataFrame:
    """Normalize a timestamp-ish column to BIGINT epoch nanos — the
    contract of the streaming module's EVENT_SCHEMA (a queue feed
    delivers integer event times; the parquet testdata delivers
    TIMESTAMP_NTZ).  Dispatches on the actual dtype exactly like
    operators.events._ts_seconds so the value is independent of the
    session timezone for BOTH timestamp flavors: NTZ uses naive
    timestampdiff arithmetic; LTZ uses unix_micros, which is
    instant-based (a cast ltz->ntz would shift by the session offset).
    No-op when already long."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[colname].dataType
    if isinstance(dt, LongType):
        return df
    if isinstance(dt, TimestampNTZType):
        us = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
            f"{colname})")
    else:  # TIMESTAMP_LTZ
        us = F.unix_micros(F.col(colname))
    return df.withColumn(colname, (us * F.lit(1000)).cast("long"))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Memoized per session: spark.read.parquet re-reads footers for
    # schema inference on every call (~100 ms driver-side), which
    # dominated plan-build time for the cheap operators. DataFrames are
    # immutable so handing back the same object is safe; the testdata
    # dirs are static for a session's lifetime.
    return memoized(spark, "read_table", (sf_dir, name),
                    lambda: _read_table_uncached(spark, sf_dir, name))


def _read_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_tuned(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # AnalysisException on nanos timestamps
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
    try:
        spark.conf.set(_NANOS_CONF, "true")
        return spark.read.parquet(path)
    except Exception:
        return _read_nanos_via_arrow(spark, path)


def _read_nanos_via_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Fallback for sessions where the nanosAsLong conf cannot be set:
    read with pyarrow, cast ns-timestamps to int64 (same nanos-BIGINT
    surface as the conf path), and ship the table as an Arrow local
    relation.  Driver-side — local harness escape hatch only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    cols, fields = [], []
    for field, column in zip(tbl.schema, tbl.columns):
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            column = column.cast(pa.int64())
            field = pa.field(field.name, pa.int64())
        cols.append(column)
        fields.append(field)
    fixed = pa.table(cols, schema=pa.schema(fields))
    return local_frame(spark, fixed)
