"""Approximate-nearest-neighbor similarity search over the
``embeddings`` table (``embedding: array<float>``).

Two paths, per the standard scale ladder:

- ``sim_bruteforce_topk``: exact cosine top-k, query side broadcast
  against a full scan of the corpus. O(Q x N x d) — the correctness
  baseline, and perfectly scalable when Q is small (the broadcast makes
  it a map-only pass over the corpus, no shuffle of the big side).
- ``sim_lsh_topk``: random-hyperplane LSH — deterministic pseudo-random
  planes derived from the shared hash60 primitive, sign-bit bucket key,
  candidates restricted to same-bucket vectors, exact cosine re-rank
  inside the bucket. The scale path: at 100 TB the bucket join replaces
  the full corpus scan per query. Recall < 1 by design (approximate) —
  oracle-checked against the same formula in SQL, not against the exact
  top-k.

Both computations are fully deterministic and reproduced exactly by the
DuckDB oracle (same plane hashes, same tie-breaks: sort by rounded
cosine desc, then vec_id asc).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dot_double, l2_norm, py_hash60
from .util import memoized, read_table, spread_for_compute, track_cache

TOPK = 5
N_QUERIES_MOD = 100   # vec_id % 100 == 0 => query set (5 at sf0.01)
N_PLANES = 8          # LSH hyperplanes => 256 buckets
IVF_CENTROID_MOD = 50  # vec_id % 50 == 1 => centroid set (IVF coarse quantizer)


# The shared vector-store artifacts (normalized vectors, LSH bucket
# table, IVF assignments, plans) are session artifacts under namespace
# "sim_corpus", keyed (sf_dir, artifact, params...) — at 100 TB each of
# these is a persisted table next to the corpus, written once per
# rebuild; in-session they are computed once and cached, same stand-in
# posture as the dedup signature store. Cleared by util.clear_caches().


def _corpus_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm): the corpus with its L2 norms
    precomputed — every sim_* entry point derives its query and
    candidate sides from this one cached scan."""
    def build():
        emb = spread_for_compute(read_table(spark, sf_dir, "embeddings"))
        from .util import track_cache_eager
        return track_cache_eager(emb.select(
            "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")))

    return memoized(spark, "sim_corpus", (sf_dir, "vectors"), build)


def _pair_cosine(qe: str, ce: str, qn: str, cn: str) -> F.Column:
    """dot(qe,ce) / (qn*cn) with the norms precomputed per side — one
    array aggregation per pair instead of three. Numerically identical
    to cosine_similarity (same element order, same double math)."""
    return dot_double(F.col(qe), F.col(ce)) / (F.col(qn) * F.col(cn))


def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query vector. Tie-break on vec_id after
    rounding to 6 decimals keeps rank deterministic across engines."""
    vec = _corpus_vectors(spark, sf_dir)
    q = vec.filter(F.col("vec_id") % N_QUERIES_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"))
    c = vec.select(F.col("vec_id").alias("cand_id"),
                   F.col("embedding").alias("ce"),
                   F.col("nrm").alias("cn"))
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    scored = pairs.select("query_id", "cand_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


SIM_BRUTEFORCE_SQL = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id % {N_QUERIES_MOD} = 0
    ), c AS (
        SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce FROM embeddings
    ), scored AS (
        SELECT query_id, cand_id,
               ROUND(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6) AS cosine
        FROM c JOIN q ON query_id != cand_id
    )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
        FROM scored) t
    WHERE rank <= {TOPK}
"""


# -- LSH-bucketed variant ---------------------------------------------------
# plane p, dim d weight: (hash60('p|d') % 2001 - 1000) / 1000  in [-1, 1]
#
# The weights depend only on (plane, dim), so they are folded driver-side
# (py_hash60 == hash60 == the oracle's md5 formula, verified by test) into
# literal arrays: the per-row cost drops from N_PLANES*dim md5 calls to
# N_PLANES zip_with/sum passes.


def _plane_weights(p: int, dim: int) -> list:
    return [(py_hash60(f"{p}|{d}") % 2001 - 1000) / 1000.0 for d in range(dim)]


def _bucket_key(e_col, dim: int):
    """Sign-bit bucket key over N_PLANES deterministic hyperplanes.
    dot_p = sum_d e[d] * w(p, d); bit p = dot_p >= 0."""
    ed = F.transform(e_col, lambda x: x.cast("double"))
    bits = []
    for p in range(N_PLANES):
        w = F.array(*[F.lit(x) for x in _plane_weights(p, dim)])
        dot = F.aggregate(F.zip_with(ed, w, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return sum(bits).cast("int")


def plane_sign_bits(weights):
    """Batch-kernel core shared by the LSH key builders: returns
    bits(emat) mapping an (n, dim) float64 matrix to the (n, P) sign
    bits of the P hyperplanes in ``weights``. The dot product runs as
    elementwise products + np.cumsum along the last axis, which
    reproduces the JVM aggregate(zip_with(...)) LEFT-TO-RIGHT float
    accumulation bit-exactly (cumsum emits every prefix, so its
    association order is pinned to sequential; the expression form
    seeds with 0.0 + p0 which only differs from p0 at -0.0, where the
    >= 0 sign decision agrees anyway). Parity with the expression twin
    is pinned on the full corpus by tests/test_lsh_kernel_parity.py."""
    import numpy as np

    W = np.asarray(weights, dtype=np.float64)

    def bits(emat):
        out = np.empty((emat.shape[0], W.shape[0]), dtype=bool)
        # chunk so the (chunk, P, dim) product tensor stays small even
        # for wide Arrow batches
        for lo in range(0, emat.shape[0], 2048):
            chunk = emat[lo:lo + 2048]
            prods = chunk[:, None, :] * W[None, :, :]
            out[lo:lo + 2048] = np.cumsum(prods, axis=2)[:, :, -1] >= 0
        return out

    return bits


def _embedding_dim(emb: DataFrame) -> int:
    """Fixed model dimension; read from one row (footer-cheap probe)."""
    row = emb.select(F.size("embedding").alias("d")).head()
    return int(row["d"]) if row else 0


def _corpus_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, bucket, nrm): the corpus LSH bucket table —
    the N_PLANES sign-bit aggregations are the dominant per-vector
    cost, paid once per corpus instead of per query. Deliberately
    stays the JVM expression: with only N_PLANES=4 hyperplanes the
    tree is small, and the plane_sign_bits kernel variant measured
    SLOWER cold (1.4 -> 2.5 s at sf0.1 — the Python round trip costs
    more than four interpreted dots save). The kernel pays off at the
    24-plane shape (dedup.embedding_lsh_pairs)."""
    def build():
        vec = _corpus_vectors(spark, sf_dir)
        dim = _embedding_dim(vec)
        from .util import track_cache_eager
        # eager: the topk plan reads this from the query AND candidate
        # legs; unmaterialized caches recompute per branch
        return track_cache_eager(vec.select(
            "vec_id", "embedding",
            _bucket_key(F.col("embedding"), dim).alias("bucket"),
            F.col("nrm")))

    return memoized(spark, "sim_corpus", (sf_dir, "lsh_buckets"), build)


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: candidates share the query's LSH bucket; exact cosine
    re-rank within the bucket. The bucket equi-join is the only shuffle
    and it moves (bucket, vec) pairs — at scale, bucket the corpus once
    (write bucketed) and this becomes a co-located join. The bucket
    table is that posture in-session: computed once per corpus,
    cached, shared across calls."""
    bucketed = _corpus_lsh_buckets(spark, sf_dir)
    q = bucketed.filter(F.col("vec_id") % N_QUERIES_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"), F.col("nrm").alias("qn"))
    c = bucketed.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
        F.col("bucket").alias("cb"), F.col("nrm").alias("cn"))
    pairs = c.join(F.broadcast(q), (F.col("qb") == F.col("cb"))
                   & (F.col("query_id") != F.col("cand_id")))
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    scored = pairs.select("query_id", "cand_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


RANGE_COS = 0.1   # cosine radius for the range-search operator


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) search — the OTHER standard vector-search query
    type next to top-k: every candidate within cosine >= RANGE_COS of
    each query, with an exact-cosine threshold instead of a rank cut.
    This is the query shape near-duplicate REMOVAL actually issues
    ("everything within radius of this item"), where top-k would
    truncate large duplicate clusters arbitrarily. Candidates come
    from the query's NPROBE nearest IVF cells (the same multi-probe
    assignment sim_ivf_nprobe_topk uses — cell-mates are
    direction-close, which is what a cosine radius selects for; the
    single-key LSH bucket table is too selective for radius work at
    practical plane counts). Never all-pairs; recall < 1 by design and
    the oracle replicates the same cell pipeline, so the check is
    exact. Output carries the per-query match count so result sizes
    are auditable per query."""
    vec = _corpus_vectors(spark, sf_dir)
    cells = _corpus_ivf_cells(spark, sf_dir, NPROBE)
    assigned = vec.join(cells.filter(F.col("probe_rank") == 1)
                        .select("vec_id", "cell"), "vec_id")
    q = (vec.join(cells.select("vec_id", "cell"), "vec_id")
         .filter(F.col("vec_id") % N_QUERIES_MOD == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qe"), F.col("nrm").alias("qn"),
                 F.col("cell").alias("qc")))
    c = assigned.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"), F.col("cell").alias("cc"))
    pairs = c.join(F.broadcast(q), (F.col("qc") == F.col("cc"))
                   & (F.col("query_id") != F.col("cand_id")))
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    within = (pairs.select("query_id", "cand_id", cos.alias("cosine"))
              .filter(F.col("cosine") >= RANGE_COS))
    w = Window.partitionBy("query_id")
    return (within
            .withColumn("n_within", F.count(F.lit(1)).over(w)
                        .cast("bigint"))
            .select("query_id", "cand_id", "cosine", "n_within"))


def _range_search_sql() -> str:
    return f"""
    WITH n AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cent_id, e AS ce, nrm AS cn
        FROM n WHERE vec_id % {IVF_CENTROID_MOD} = 1
    ), assign_scored AS (
        SELECT n.vec_id, cent_id,
               ROUND(list_dot_product(e, ce) / (nrm * cn), 6) AS cos
        FROM n CROSS JOIN cent
    ), cells AS (
        SELECT vec_id, cent_id AS cell, rn AS probe_rank FROM (
            SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id ASC) AS rn
            FROM assign_scored) t
        WHERE rn <= {NPROBE}
    ), q AS (
        SELECT n.vec_id AS query_id, e AS qe, nrm AS qn, cell AS qc
        FROM n JOIN cells ON cells.vec_id = n.vec_id
        WHERE n.vec_id % {N_QUERIES_MOD} = 0
    ), c AS (
        SELECT n.vec_id AS cand_id, e AS ce, nrm AS cn, cell AS cc
        FROM n JOIN cells ON cells.vec_id = n.vec_id
                         AND cells.probe_rank = 1
    ), within AS (
        SELECT query_id, cand_id,
               ROUND(list_dot_product(qe, ce) / (qn * cn), 6) AS cosine
        FROM c JOIN q ON qc = cc AND query_id != cand_id
    ), filtered AS (
        SELECT * FROM within WHERE cosine >= {RANGE_COS}
    )
    SELECT query_id, cand_id, cosine,
           CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT)
               AS n_within
    FROM filtered
    """


# -- IVF-bucketed variant ---------------------------------------------------
# Coarse quantizer: vectors with vec_id % IVF_CENTROID_MOD == 1 act as the
# "trained" centroid set (deterministic stand-in for k-means — at 100 TB the
# centroids come from an offline training job and are broadcast the same
# way). Every vector is assigned to its nearest centroid by rounded cosine;
# a query probes only its own cell (nprobe=1) and re-ranks exactly inside.


def _ivf_cells(emb: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest centroid by rounded cosine, ties to the
    lower centroid id — defined as rank 1 of _ivf_cells_topn so the
    single-probe assignment and the multi-probe probe list can never
    disagree on what 'nearest' means."""
    return _ivf_cells_topn(emb, 1).select("vec_id", "cell")


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: assign every vector to its nearest broadcast
    centroid, probe the query's cell only, exact cosine re-rank inside
    the cell. Recall < 1 by design; deterministic and oracle-checked
    against the same assignment formula in SQL."""
    vec = _corpus_vectors(spark, sf_dir)
    cells = _corpus_ivf_cells(spark, sf_dir, 1).select("vec_id", "cell")
    assigned = vec.join(cells, "vec_id")
    q = assigned.filter(F.col("vec_id") % N_QUERIES_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"), F.col("cell").alias("qc"))
    c = assigned.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"), F.col("cell").alias("cc"))
    pairs = c.join(F.broadcast(q), (F.col("qc") == F.col("cc"))
                   & (F.col("query_id") != F.col("cand_id")))
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    scored = pairs.select("query_id", "cand_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


NPROBE = 2  # cells probed per query in the multi-probe variant


def _corpus_ivf_cells(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Memoized + cached (vec_id, cell, probe_rank) assignment table for
    the corpus — the centroid-assignment pass is paid once per corpus
    per n, shared by the single- and multi-probe entry points."""
    def build():
        from .util import track_cache_eager
        return track_cache_eager(
            _ivf_cells_topn(_corpus_vectors(spark, sf_dir), n))

    return memoized(spark, "sim_corpus", (sf_dir, "ivf_cells", n), build)


def _ivf_cells_topn(emb: DataFrame, n: int) -> DataFrame:
    """(vec_id, cell, probe_rank): each vector's n nearest centroids
    (rank 1 = the assignment cell). Same broadcast + map-only shape as
    _ivf_cells; the window ranks a (vectors x centroids) score list
    that never leaves the map side before the per-vector top-n."""
    cent = emb.filter(F.col("vec_id") % IVF_CENTROID_MOD == 1).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_e"),
        l2_norm(F.col("embedding")).alias("cent_n"))
    vec = emb.select("vec_id", F.col("embedding").alias("e"),
                     l2_norm(F.col("embedding")).alias("vn"))
    cos = F.round(dot_double(F.col("e"), F.col("cent_e"))
                  / (F.col("vn") * F.col("cent_n")), 6)
    scored = vec.join(F.broadcast(cent), F.lit(True)).select(
        "vec_id", cos.alias("cos"), "cent_id")
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cent_id"))
    return (scored.withColumn("probe_rank", F.row_number().over(w))
            .filter(F.col("probe_rank") <= n)
            .select("vec_id", F.col("cent_id").alias("cell"), "probe_rank"))


def sim_ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-probe (nprobe=2): the corpus keeps its
    single-cell assignment, but each query probes its 2 nearest cells —
    the standard recall knob that recovers most of what single-probe
    loses for queries near a cell boundary, at ~2x probe cost and zero
    extra corpus work. Each (query, candidate) pair still meets at most
    once (a candidate lives in ONE cell; the query's probe cells are
    distinct), so no dedup pass is needed before the re-rank."""
    vec = _corpus_vectors(spark, sf_dir)
    cells = _corpus_ivf_cells(spark, sf_dir, NPROBE)
    assigned = vec.join(cells.filter(F.col("probe_rank") == 1), "vec_id")
    q = (vec.join(cells, "vec_id")
         .filter(F.col("vec_id") % N_QUERIES_MOD == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qe"), F.col("nrm").alias("qn"),
                 F.col("cell").alias("qc")))
    c = assigned.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"), F.col("cell").alias("cc"))
    pairs = c.join(F.broadcast(q), (F.col("qc") == F.col("cc"))
                   & (F.col("query_id") != F.col("cand_id")))
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    scored = pairs.select("query_id", "cand_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


SIM_IVF_NPROBE_SQL = f"""
    WITH n AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cent_id, e AS ce, nrm AS cn
        FROM n WHERE vec_id % {IVF_CENTROID_MOD} = 1
    ), assign_scored AS (
        SELECT n.vec_id, cent_id,
               ROUND(list_dot_product(e, ce) / (nrm * cn), 6) AS cos
        FROM n CROSS JOIN cent
    ), cells AS (
        SELECT vec_id, cent_id AS cell, rn AS probe_rank FROM (
            SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id ASC) AS rn
            FROM assign_scored) t
        WHERE rn <= {NPROBE}
    ), q AS (
        SELECT n.vec_id AS query_id, e AS qe, nrm AS qn, cell AS qc
        FROM n JOIN cells ON cells.vec_id = n.vec_id
        WHERE n.vec_id % {N_QUERIES_MOD} = 0
    ), c AS (
        SELECT n.vec_id AS cand_id, e AS ce, nrm AS cn, cell AS cc
        FROM n JOIN cells ON cells.vec_id = n.vec_id
                         AND cells.probe_rank = 1
    ), scored AS (
        SELECT query_id, cand_id,
               ROUND(list_dot_product(qe, ce) / (qn * cn), 6) AS cosine
        FROM c JOIN q ON qc = cc AND query_id != cand_id
    )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
        FROM scored) t
    WHERE rank <= {TOPK}
"""


SIM_IVF_SQL = f"""
    WITH n AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cent_id, e AS ce, nrm AS cn
        FROM n WHERE vec_id % {IVF_CENTROID_MOD} = 1
    ), assign_scored AS (
        SELECT n.vec_id, cent_id,
               ROUND(list_dot_product(e, ce) / (nrm * cn), 6) AS cos
        FROM n CROSS JOIN cent
    ), cells AS (
        SELECT vec_id, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id ASC) AS rn
            FROM assign_scored) t
        WHERE rn = 1
    ), q AS (
        SELECT n.vec_id AS query_id, e AS qe, nrm AS qn, cell AS qc
        FROM n JOIN cells ON cells.vec_id = n.vec_id
        WHERE n.vec_id % {N_QUERIES_MOD} = 0
    ), c AS (
        SELECT n.vec_id AS cand_id, e AS ce, nrm AS cn, cell AS cc
        FROM n JOIN cells ON cells.vec_id = n.vec_id
    ), scored AS (
        SELECT query_id, cand_id,
               ROUND(list_dot_product(qe, ce) / (qn * cn), 6) AS cosine
        FROM c JOIN q ON qc = cc AND query_id != cand_id
    )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
        FROM scored) t
    WHERE rank <= {TOPK}
"""


def _lsh_sql() -> str:
    from ..functions import sql_hash60
    # dot_p = list_sum([e[i] * w(p, i-1) for i in 1..len]) (1-indexed lists)
    terms = []
    for p in range(N_PLANES):
        h = sql_hash60(f"'{p}|' || (i - 1)::VARCHAR")
        w_expr = f"(({h} % 2001 - 1000) / 1000.0)"
        dot = (f"list_sum([e[i] * {w_expr} "
               f"for i in range(1, len(e) + 1)])")
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
        WITH b AS (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   CAST(({bucket}) AS INT) AS bucket
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, e AS qe, bucket AS qb
            FROM b WHERE vec_id % {N_QUERIES_MOD} = 0
        ), c AS (
            SELECT vec_id AS cand_id, e AS ce, bucket AS cb FROM b
        ), scored AS (
            SELECT query_id, cand_id,
                   ROUND(list_dot_product(qe, ce)
                         / (sqrt(list_dot_product(qe, qe))
                            * sqrt(list_dot_product(ce, ce))), 6) AS cosine
            FROM c JOIN q ON qb = cb AND query_id != cand_id
        )
        SELECT query_id, cand_id, cosine, rank FROM (
            SELECT query_id, cand_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
            FROM scored) t
        WHERE rank <= {TOPK}
    """


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid in long format (label, dim, centroid_v, n):
    posexplode -> two-phase avg per (label, dim). Long format IS the
    scalable shape — no collect_list, no driver-side vectors; the
    shuffle carries one partial sum per (label, dim, partition)."""
    emb = read_table(spark, sf_dir, "embeddings")
    long = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    return (
        long.groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"),
             F.count(F.lit(1)).alias("n"))
        .select("label", F.col("dim").cast("int").alias("dim"),
                "centroid_v", "n")
    )


EMB_CENTROIDS_SQL = """
    WITH l AS (
        SELECT label,
               unnest(range(1, len(embedding) + 1)) AS i,
               embedding AS e
        FROM embeddings
    )
    SELECT label, CAST(i - 1 AS INT) AS dim,
           ROUND(AVG(e[i]::DOUBLE), 6) AS centroid_v,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM l GROUP BY label, i
"""


KMEANS_K = 8  # deterministic seeds: the K lowest vec_ids


def emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) iteration, fully deterministic — the
    iterative-ML primitive a curation pipeline runs to cluster a corpus
    by embedding: seeds are the K lowest vec_ids, every vector is
    assigned to the argmin squared-L2 seed (ties broken by seed id; the
    distance is a sequential-order double fold over dims, identical in
    both engines), and the new centroids are returned in long format as
    exact integer sums — (cluster, dim, n_members, sum_comp_bp) with
    components scaled to basis points, so there is no float
    accumulation-order hazard; the reader divides to get the mean.
    Plan shape: broadcast the K seeds against the corpus (K rows — the
    classic Lloyd map side), one row_number window per vector, then the
    posexplode aggregate emb_label_centroids already uses. At 100 TB:
    one broadcast + two hash exchanges (vec_id window, (cluster, dim)
    agg), never a vector collect."""
    emb = read_table(spark, sf_dir, "embeddings")
    seeds = (emb.orderBy("vec_id").limit(KMEANS_K)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("ce")))
    # The coalesce must sit INSIDE zip_with, on each element: zip_with
    # pads the SHORTER array with NULLs, so a per-array pre-coalesce
    # would still yield a NULL squared-diff on ragged lengths, the fold
    # would return NULL dist, and orderBy NULLS FIRST would silently
    # assign the vector to the lowest cid. With the element-level
    # coalesce a missing dim on EITHER side contributes the other
    # side's squared value — the same semantic the oracle pins by
    # iterating range(1, greatest(len(e), len(ce)) + 1) with both
    # out-of-range subscripts coalesced to 0 (DuckDB returns NULL for
    # out-of-range list subscripts). NULL elements inside the arrays
    # coalesce to 0 identically on both engines.
    def _sqdiff(x, y):
        d = (F.coalesce(x.cast("double"), F.lit(0.0))
             - F.coalesce(y.cast("double"), F.lit(0.0)))
        return d * d  # d*d, not pow(d,2): bit-identical to the oracle's *

    dist = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("ce"), _sqdiff),
        F.lit(0.0), lambda acc, x: acc + x)
    cand = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "embedding", "cid", dist.alias("dist"))
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    assigned = (cand.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1))
    longf = assigned.select(
        "cid", F.posexplode("embedding").alias("dim", "v"))
    return (
        longf.groupBy("cid", "dim")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.sum(F.round(F.col("v").cast("double") * 10000).cast("long"))
             .alias("sum_comp_bp"))
        .select(F.col("cid").alias("cluster"),
                F.col("dim").cast("int").alias("dim"),
                "n_members", "sum_comp_bp")
    )


EMB_KMEANS_SQL = f"""
    WITH seeds AS (
        SELECT vec_id AS cid, embedding AS ce
        FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K}
    ), d AS (
        -- range over the LONGER of the two arrays (out-of-range list
        -- subscripts are NULL, coalesced to 0) — the exact twin of the
        -- Spark side's zip_with padding + element-level coalesce, so
        -- ragged dimensionality degrades identically in both engines
        SELECT e.vec_id, e.embedding, s.cid,
               list_sum(list_transform(
                   range(1, GREATEST(len(e.embedding), len(s.ce)) + 1),
                   i -> (COALESCE(CAST(e.embedding[i] AS DOUBLE), 0)
                         - COALESCE(CAST(s.ce[i] AS DOUBLE), 0))
                        * (COALESCE(CAST(e.embedding[i] AS DOUBLE), 0)
                           - COALESCE(CAST(s.ce[i] AS DOUBLE), 0)))) AS dist
        FROM embeddings e CROSS JOIN seeds s
    ), a AS (
        SELECT vec_id, embedding, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d
    ), x AS (
        SELECT cid,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS v
        FROM a WHERE rn = 1
    )
    SELECT cid AS cluster, CAST(dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT))
                AS BIGINT) AS sum_comp_bp
    FROM x GROUP BY cid, dim
"""


def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search — the vector-DB feature ANN
    papers skip and production queries always need ("nearest neighbors
    WHERE label = X"): exact cosine top-k restricted to candidates
    sharing the query's label, the correctness baseline every filtered-
    ANN approximation is judged against. The filter joins BEFORE
    scoring (label equality rides the broadcast-join condition), so
    the scored candidate set shrinks by the label selectivity — the
    cheap-filter-first rule; at 100 TB the scale path is the same
    query over the label-partitioned physical layout (partition
    pruning serves the filter for free, exactly like write_ivf_layout
    serves cells) or an IVF probe with over-fetch + post-filter.
    Deterministic: 6-decimal rounding + vec_id tie-break, as all
    sim_* rows."""
    emb = spread_for_compute(read_table(spark, sf_dir, "embeddings"))
    vec = emb.select("vec_id", "embedding", "label",
                     l2_norm(F.col("embedding")).alias("nrm"))
    q = vec.filter(F.col("vec_id") % N_QUERIES_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"), F.col("label").alias("qlabel"))
    c = vec.select(F.col("vec_id").alias("cand_id"),
                   F.col("embedding").alias("ce"),
                   F.col("nrm").alias("cn"), F.col("label").alias("clabel"))
    pairs = c.join(F.broadcast(q),
                   (F.col("query_id") != F.col("cand_id"))
                   & (F.col("qlabel") == F.col("clabel")))
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    scored = pairs.select("query_id", "cand_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


SIM_FILTERED_SQL = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
               label AS qlabel
        FROM embeddings WHERE vec_id % {N_QUERIES_MOD} = 0
    ), c AS (
        SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce,
               label AS clabel
        FROM embeddings
    ), scored AS (
        SELECT query_id, cand_id,
               ROUND(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6) AS cosine
        FROM c JOIN q ON query_id != cand_id AND qlabel = clabel
    )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
        FROM scored) t
    WHERE rank <= {TOPK}
"""


PCA_SCALE = 10_000


def emb_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PCA power-iteration step, fully deterministic — the other
    iterative-ML primitive (next to emb_kmeans_step) a curation
    pipeline runs over embeddings, e.g. to find the dominant drift
    direction of a corpus snapshot: with the fixed all-ones start
    vector, each vector's projection is a sequential double fold
    (identical in both engines), and the updated direction
    v1[d] = Σ_i proj_i · x_i[d] is accumulated as exact integer basis
    points (per-row contribution floored to bp, then integer-summed)
    so no cross-row float accumulation order can smear the result —
    the same fixed-point posture as emb_kmeans_step's centroid sums.
    Power iteration is scale-invariant, so the caller normalizes the
    returned direction; subsequent steps pass it back in. Plan:
    map-only projection, one posexplode, one (dim)-keyed aggregate —
    at 100 TB one hash exchange of |dims| partial sums per partition,
    never a vector collect."""
    emb = read_table(spark, sf_dir, "embeddings")
    proj = F.aggregate(
        F.transform(F.col("embedding"),
                    lambda x: F.coalesce(x.cast("double"), F.lit(0.0))),
        F.lit(0.0), lambda acc, x: acc + x)
    pe = emb.select(proj.alias("proj"),
                    F.posexplode("embedding").alias("dim", "v"))
    contrib = F.floor(
        F.col("proj") * F.coalesce(F.col("v").cast("double"), F.lit(0.0))
        * F.lit(PCA_SCALE)).cast("long")
    return (
        pe.select(F.col("dim").cast("long").alias("dim"),
                  contrib.alias("c"))
        .groupBy("dim")
        .agg(F.sum("c").alias("sum_contrib_bp"),
             F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )


EMB_PCA_SQL = f"""
    WITH p AS (
        SELECT embedding,
               list_sum(list_transform(embedding,
                   x -> COALESCE(CAST(x AS DOUBLE), 0))) AS proj
        FROM embeddings
    ), e AS (
        SELECT proj,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS v
        FROM p
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(SUM(CAST(floor(proj * COALESCE(CAST(v AS DOUBLE), 0)
                                * {PCA_SCALE}) AS BIGINT)) AS BIGINT)
               AS sum_contrib_bp,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM e GROUP BY dim
"""


def write_ivf_layout(emb: DataFrame, out_dir: str) -> None:
    """Physical IVF layout: every vector written under its nearest-cell
    directory (``cell=<id>/``) via partitionBy, with the centroid set
    saved under ``_meta/`` (underscore-prefixed, so partition discovery
    ignores it). This is the stats-index idea applied to vectors: the
    directory structure IS the coarse quantizer, and an ANN probe scans
    only the probed cells' files — at 100 TB a 1/n_cells fraction of the
    corpus per probe, enforced by Spark's partition pruning rather than
    a post-scan filter."""
    cells = _ivf_cells(emb)
    cent = emb.filter(F.col("vec_id") % IVF_CENTROID_MOD == 1)
    (emb.join(cells, "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(out_dir))
    cent.write.mode("overwrite").parquet(out_dir + "/_meta/centroids")


# filled by ivf_layout_topk per call: {probed_cells, total_cells,
# nprobe} — the partition-pruning observability the sf1 scale checks
# record (scripts/sf1_ann_check.py)
LAST_LAYOUT_PROBE: dict = {}


def ivf_layout_topk(
    spark: SparkSession, layout_dir: str, nprobe: int = 1, k: int = TOPK,
) -> DataFrame:
    """ANN top-k over a ``write_ivf_layout`` directory. The query set
    (same ``vec_id % N_QUERIES_MOD`` rule as the other sim_* operators)
    is assigned to its ``nprobe`` nearest cells from the tiny broadcast
    centroid table, and the corpus scan carries a partition filter
    ``cell IN (<probed>)`` — check .explain() for PartitionFilters: only
    the probed directories are listed/read. With nprobe=1 the result is
    row-identical to sim_ivf_topk (same centroids, same tie-breaks);
    higher nprobe trades scan fraction for recall."""
    emb = spark.read.parquet(layout_dir)
    cent = spark.read.parquet(layout_dir + "/_meta/centroids").select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_e"),
        l2_norm(F.col("embedding")).alias("cent_n"))
    q = emb.filter(F.col("vec_id") % N_QUERIES_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"))
    qcos = F.round(dot_double(F.col("qe"), F.col("cent_e"))
                   / (F.col("qn") * F.col("cent_n")), 6)
    qcells = (
        q.join(F.broadcast(cent), F.lit(True))
        .select("query_id", "qe", "qn", qcos.alias("cos"), "cent_id")
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cos"), F.asc("cent_id"))))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qe", "qn", F.col("cent_id").alias("probe_cell"))
    )
    # driver-side cell list (#queries x nprobe ids, tiny) -> partition
    # filter literal, so the scan prunes DIRECTORIES, not rows
    probed = sorted({r.probe_cell for r in qcells.select("probe_cell")
                     .distinct().collect()})
    # observability for the scale checks (scripts/sf1_ann_check.py):
    # how many cell directories the probe actually opens
    LAST_LAYOUT_PROBE.clear()
    LAST_LAYOUT_PROBE.update({
        "probed_cells": len(probed),
        "total_cells": cent.count(), "nprobe": nprobe})
    c = emb.filter(F.col("cell").isin(probed)).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
        l2_norm(F.col("embedding")).alias("cn"), F.col("cell").alias("cc"))
    pairs = c.join(F.broadcast(qcells),
                   (F.col("probe_cell") == F.col("cc"))
                   & (F.col("query_id") != F.col("cand_id")))
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    scored = (pairs.select("query_id", "cand_id", cos.alias("cosine"))
              .distinct())  # a candidate can appear via several probes
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


def ivf_layout_dir(sf_dir: str) -> str:
    """Deterministic layout location for a corpus, keyed by the
    embeddings file's identity (util.artifact_dir — one fingerprint
    recipe shared with the dedup signature store)."""
    import os

    from .util import artifact_dir

    return artifact_dir(
        "spark_graft_ivf_layout", os.path.join(sf_dir, "embeddings.parquet"),
        f"mod={IVF_CENTROID_MOD}")


def sim_ivf_layout_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sim_ivf_topk`` served from the PHYSICAL cell-partitioned
    layout: vectors live under ``cell=<id>/`` directories (written once
    per corpus rebuild, here lazily on first use) and the probe scan
    carries a partition filter, so Spark prunes DIRECTORIES instead of
    filtering rows — at 100 TB the probe reads 1/n_cells of the corpus.
    nprobe=1 is row-identical to the logical sim_ivf_topk (same
    centroids, same tie-breaks), so it shares that oracle."""
    from .util import ensure_complete

    layout = ivf_layout_dir(sf_dir)

    def build():
        ensure_complete(
            layout,
            lambda d: write_ivf_layout(
                read_table(spark, sf_dir, "embeddings"), d))
        return ivf_layout_topk(spark, layout, nprobe=1)

    # memoize the probe plan too: building it collects the probed cell
    # list driver-side, which repeat calls need not redo
    return memoized(spark, "ivf_layout", layout, build)


# -- Scalar-quantized (int8) ANN with exact re-rank -------------------------

SQ_LEVELS = 127      # symmetric int8 range
SQ_CAND_FACTOR = 4   # approx-stage candidate pool = TOPK * factor


def _sq_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm, qv): the corpus with int8-quantized
    vectors — qv[d] = floor(e[d] * 127 / maxabs + 0.5) under the global
    max-|x| scale.  At 100 TB the quantized table is the persisted
    compact index (16 of every 64 bytes per dim move through the approx
    stage); here it is built once per (session, corpus) and cached,
    like the other vector-store artifacts."""
    def build():
        vec = _corpus_vectors(spark, sf_dir)
        maxabs = vec.agg(F.max(F.array_max(F.transform(
            F.col("embedding"),
            lambda x: F.abs(x.cast("double"))))).alias("mx"))
        qv = F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                x.cast("double") * SQ_LEVELS / F.col("mx") + 0.5
            ).cast("long"))
        from .util import track_cache_eager
        # eager: consumed by the query AND candidate legs of the SQ/PQ
        # plans; unmaterialized caches recompute per branch
        return track_cache_eager(
            vec.crossJoin(F.broadcast(maxabs))
            .select("vec_id", "embedding", "nrm", qv.alias("qv")))

    return memoized(spark, "sim_corpus", (sf_dir, "sq"), build)


def sim_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN: the approx stage ranks candidates by the
    INTEGER dot product of int8-quantized vectors (exact cross-engine —
    no float accumulation-order hazard), keeps TOPK*SQ_CAND_FACTOR per
    query, and only those survivors pay the exact double-cosine re-rank.
    The standard memory/recall trade of SQ indexes (FAISS SQ8): the
    approx pass touches 8-bit codes instead of 32-bit floats, and the
    expensive math runs on a constant-size candidate set per query."""
    vec = _sq_corpus(spark, sf_dir)
    q = vec.filter(F.col("vec_id") % N_QUERIES_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"), F.col("qv").alias("qq"))
    c = vec.select(F.col("vec_id").alias("cand_id"),
                   F.col("embedding").alias("ce"), F.col("nrm").alias("cn"),
                   F.col("qv").alias("cq"))
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
    score = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cand_id"))
    cands = (
        pairs.select("query_id", "cand_id", "qe", "ce", "qn", "cn",
                     score.alias("score"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= TOPK * SQ_CAND_FACTOR)
    )
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id"))
    return (
        cands.select("query_id", "cand_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


SIM_SQ_SQL = f"""
    WITH m AS (
        SELECT MAX(list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x)))) AS mx
        FROM embeddings
    ), b AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x * {SQ_LEVELS} / mx + 0.5)
                                        AS BIGINT)) AS qv
        FROM embeddings CROSS JOIN m
    ), q AS (
        SELECT vec_id AS query_id, e AS qe, qv AS qq
        FROM b WHERE vec_id % {N_QUERIES_MOD} = 0
    ), c AS (
        SELECT vec_id AS cand_id, e AS ce, qv AS cq FROM b
    ), ap AS (
        SELECT query_id, cand_id, qe, ce,
               CAST(list_dot_product(qq::DOUBLE[], cq::DOUBLE[]) AS BIGINT)
                   AS score
        FROM c JOIN q ON query_id != cand_id
    ), cands AS (
        SELECT query_id, cand_id, qe, ce FROM (
            SELECT query_id, cand_id, qe, ce,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, cand_id ASC) AS arank
            FROM ap) t
        WHERE arank <= {TOPK * SQ_CAND_FACTOR}
    ), scored AS (
        SELECT query_id, cand_id,
               ROUND(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6) AS cosine
        FROM cands
    )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
        FROM scored) t
    WHERE rank <= {TOPK}
"""


# -- product quantization ---------------------------------------------------

PQ_M = 4             # subspaces (64-dim corpus => 16 dims each)
PQ_K = 16            # codewords per subspace (seeds = K lowest vec_ids)
PQ_CAND_FACTOR = 4   # approx-stage pool = TOPK * factor


def _pq_corpus(spark: SparkSession, sf_dir: str):
    """((vec_id, embedding, nrm, qv, codes), codebook): the corpus
    PQ-encoded over the INTEGER (SQ-quantized) domain so every stage of
    the approx math is exact cross-engine. Codebook[m][j] = subspace-m
    slice of the j-th seed's quantized vector, seeds being the PQ_K
    lowest vec_ids — fully deterministic, no training loop. The seed
    collect is K rows (bounded, like the probed-cell list); the
    codebook then folds into literal arrays so encoding is pure column
    expressions. codes[m] = argmin_j ||sub(qv,m) - cb[m][j]||^2 with
    ties to the lowest j via array_min over (dist, j) structs. At
    100 TB the encoded table is the persisted compact index: M bytes
    of code replace the subvector in the approx stage (FAISS IVFPQ's
    storage story); here it is built once per (session, corpus)."""
    def build():
        import numpy as np
        from pyspark.sql.types import (
            ArrayType, IntegerType, StructField, StructType,
        )

        sq = _sq_corpus(spark, sf_dir)
        dim = _embedding_dim(sq)
        sd = dim // PQ_M
        seeds = [r["qv"] for r in
                 sq.orderBy("vec_id").limit(PQ_K).select("qv").collect()]
        cb = [[[int(v) for v in s[m * sd:(m + 1) * sd]] for s in seeds]
              for m in range(PQ_M)]
        # ENCODING runs as one numpy kernel (guide §4.2): the previous
        # pure-expression form built PQ_M x PQ_K aggregate/zip_with
        # struct trees over ~1k codebook literals — ~3 s of driver
        # analysis + interpreted evaluation per cold build at sf0.1 —
        # where the same argmin_j ||sub(qv,m) - cb[m][j]||^2 is a
        # three-line integer broadcast in numpy (~0.3 s). Tie-to-
        # lowest-j matches np.argmin's first-minimum rule exactly;
        # all arithmetic is int64 on SQ-quantized values (no floats),
        # so codes are bit-identical (tests/test_pq_kernel_parity.py
        # pins the verbatim old expression). Non-code columns pass
        # through untouched.
        cb_np = np.asarray(cb, dtype=np.int64)  # (M, K, sd)
        out_schema = StructType(list(sq.schema.fields) + [
            StructField("codes", ArrayType(IntegerType()))])

        def _encode(batches):
            import numpy as np
            for pdf in batches:
                n = len(pdf)
                if n:
                    qv = np.stack([np.asarray(v, dtype=np.int64)
                                   for v in pdf["qv"]])
                    codes = np.empty((n, PQ_M), dtype=np.int32)
                    for m in range(PQ_M):
                        sub = qv[:, m * sd:(m + 1) * sd]
                        diff = sub[:, None, :] - cb_np[m][None, :, :]
                        codes[:, m] = np.argmin(
                            (diff * diff).sum(axis=2), axis=1)
                    pdf = pdf.copy()
                    pdf["codes"] = list(codes)
                else:
                    pdf = pdf.copy()
                    pdf["codes"] = []
                yield pdf

        from .util import track_cache_eager
        df = track_cache_eager(sq.mapInPandas(_encode, schema=out_schema))
        return df, cb

    return memoized(spark, "sim_corpus", (sf_dir, "pq"), build)


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the FAISS PQ/ADC shape): candidates
    carry only their M sub-space codes; the approx stage scores each
    (query, candidate) by asymmetric distance computation — the INTEGER
    dot product of the query's quantized subvector against the
    candidate's reconstructed codeword, summed over subspaces — keeps
    TOPK*PQ_CAND_FACTOR per query, and only that constant-size pool
    pays the exact double-cosine re-rank. All approx math is integer,
    so candidate selection is bit-deterministic cross-engine; at scale
    the approx pass reads M small ints per candidate instead of the
    full vector — a deeper compression point than SQ8 on the same
    memory/recall curve.

    The built plan is memoized per (session, corpus): the ADC stage's
    literal codebook tree (PQ_M x PQ_K x subdim F.lit nodes) costs
    ~0.9 s of pure driver-side construction+analysis per build —
    measured as the dominant share of this operator's warm time — and
    the plan is deterministic for a corpus, so rebuilding it per call
    bought nothing."""
    def build():
        return _pq_topk_plan(spark, sf_dir)

    return memoized(spark, "sim_corpus", (sf_dir, "pq_topk_plan"), build)


def _pq_topk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec, cb = _pq_corpus(spark, sf_dir)
    dim = _embedding_dim(vec)
    sd = dim // PQ_M
    q = vec.filter(F.col("vec_id") % N_QUERIES_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"), F.col("qv").alias("qq"))
    c = vec.select(F.col("vec_id").alias("cand_id"),
                   F.col("embedding").alias("ce"), F.col("nrm").alias("cn"),
                   F.col("codes"))
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
    score = None
    for m in range(PQ_M):
        qsub = F.slice(F.col("qq"), m * sd + 1, sd)
        cbm = F.array(*[F.array(*[F.lit(v) for v in cb[m][j]])
                        for j in range(PQ_K)])
        cvec = F.element_at(cbm, F.element_at(F.col("codes"), m + 1) + 1)
        term = F.aggregate(
            F.zip_with(qsub, cvec, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        score = term if score is None else score + term
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cand_id"))
    cands = (
        pairs.select("query_id", "cand_id", "qe", "ce", "qn", "cn",
                     score.alias("score"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= TOPK * PQ_CAND_FACTOR)
    )
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id"))
    return (
        cands.select("query_id", "cand_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ composition — the FAISS IVFPQ shape, and the actual
    100 TB ANN answer: the coarse quantizer prunes the candidate set to
    the query's NPROBE nearest cells BEFORE any scoring happens (flat
    PQ scans every candidate's codes; here the ADC join's right side is
    only the probed cells' vectors), then the integer ADC stage ranks
    those candidates by compressed codes alone, and only the
    TOPK*PQ_CAND_FACTOR pool pays the exact double-cosine re-rank.
    Composes the pieces that already exist separately: the multi-probe
    cell assignment of sim_ivf_nprobe_topk and the codebook/ADC math of
    sim_pq_topk (bit-identical integer scoring, so candidate selection
    stays deterministic cross-engine). At scale the probed-cell
    restriction is what turns ANN cost from O(N) codes per query into
    O(N * nprobe / n_cells) — see also sim_ivf_layout_topk, where the
    same cell structure becomes physical partition pruning.

    Plan memoized per (session, corpus) like sim_pq_topk — the ADC
    literal codebook tree dominates warm time otherwise."""
    def build():
        return _ivfpq_topk_plan(spark, sf_dir)

    return memoized(
        spark, "sim_corpus", (sf_dir, "ivfpq_topk_plan"), build)


def _ivfpq_topk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec, cb = _pq_corpus(spark, sf_dir)
    dim = _embedding_dim(vec)
    sd = dim // PQ_M
    cells = _corpus_ivf_cells(spark, sf_dir, NPROBE)
    q = (vec.join(cells.select("vec_id", "cell"), "vec_id")
         .filter(F.col("vec_id") % N_QUERIES_MOD == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qe"), F.col("nrm").alias("qn"),
                 F.col("qv").alias("qq"), F.col("cell").alias("qc")))
    c = (vec.join(cells.filter(F.col("probe_rank") == 1)
                  .select("vec_id", "cell"), "vec_id")
         .select(F.col("vec_id").alias("cand_id"),
                 F.col("embedding").alias("ce"), F.col("nrm").alias("cn"),
                 F.col("codes"), F.col("cell").alias("cc")))
    pairs = c.join(F.broadcast(q), (F.col("qc") == F.col("cc"))
                   & (F.col("query_id") != F.col("cand_id")))
    score = None
    for m in range(PQ_M):
        qsub = F.slice(F.col("qq"), m * sd + 1, sd)
        cbm = F.array(*[F.array(*[F.lit(v) for v in cb[m][j]])
                        for j in range(PQ_K)])
        cvec = F.element_at(cbm, F.element_at(F.col("codes"), m + 1) + 1)
        term = F.aggregate(
            F.zip_with(qsub, cvec, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        score = term if score is None else score + term
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cand_id"))
    cands = (
        pairs.select("query_id", "cand_id", "qe", "ce", "qn", "cn",
                     score.alias("score"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= TOPK * PQ_CAND_FACTOR)
    )
    cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id"))
    return (
        cands.select("query_id", "cand_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


def _ivfpq_sql(dim: int = 64) -> str:
    """Oracle twin of sim_ivfpq_topk: the IVF multi-probe cell CTEs of
    SIM_IVF_NPROBE_SQL composed with the PQ codebook/ADC CTEs of
    _pq_sql — ADC scoring restricted to probed cells."""
    sd = dim // PQ_M
    return f"""
    WITH m AS (
        SELECT MAX(list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x)))) AS mx
        FROM embeddings
    ), b AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x * {SQ_LEVELS} / mx + 0.5)
                                        AS BIGINT)) AS qv
        FROM embeddings CROSS JOIN m
    ), cent AS (
        SELECT vec_id AS cent_id, e AS cent_e, nrm AS cent_n
        FROM b WHERE vec_id % {IVF_CENTROID_MOD} = 1
    ), assign_scored AS (
        SELECT b.vec_id, cent_id,
               ROUND(list_dot_product(e, cent_e) / (nrm * cent_n), 6) AS cos
        FROM b CROSS JOIN cent
    ), cells AS (
        SELECT vec_id, cent_id AS cell, rn AS probe_rank FROM (
            SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cent_id ASC) AS rn
            FROM assign_scored) t
        WHERE rn <= {NPROBE}
    ), seeds AS (
        SELECT qv, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
        FROM b ORDER BY vec_id LIMIT {PQ_K}
    ), cb AS (
        SELECT mi, j, list_slice(qv, mi * {sd} + 1, (mi + 1) * {sd}) AS cvec
        FROM seeds CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS mi) sub
    ), encdist AS (
        SELECT b.vec_id, cb.mi, cb.j,
               CAST(list_sum(list_transform(
                   range(1, {sd} + 1),
                   i -> (list_slice(b.qv, cb.mi * {sd} + 1,
                                    (cb.mi + 1) * {sd})[i] - cb.cvec[i])
                        * (list_slice(b.qv, cb.mi * {sd} + 1,
                                      (cb.mi + 1) * {sd})[i] - cb.cvec[i])))
                    AS BIGINT) AS d
        FROM b CROSS JOIN cb
    ), codes AS (
        SELECT vec_id, mi, j AS code FROM (
            SELECT vec_id, mi, j,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, mi
                                      ORDER BY d, j) AS rn
            FROM encdist) t
        WHERE rn = 1
    ), q AS (
        SELECT b.vec_id AS query_id, e AS qe, qv AS qq, cell AS qc
        FROM b JOIN cells ON cells.vec_id = b.vec_id
        WHERE b.vec_id % {N_QUERIES_MOD} = 0
    ), cand_cells AS (
        SELECT vec_id, cell AS cc FROM cells WHERE probe_rank = 1
    ), adc AS (
        SELECT q.query_id, co.vec_id AS cand_id,
               CAST(SUM(list_dot_product(
                   list_slice(q.qq, co.mi * {sd} + 1,
                              (co.mi + 1) * {sd})::DOUBLE[],
                   cb.cvec::DOUBLE[])) AS BIGINT) AS score
        FROM q
        JOIN cand_cells cc ON cc.cc = q.qc AND q.query_id != cc.vec_id
        JOIN codes co ON co.vec_id = cc.vec_id
        JOIN cb ON cb.mi = co.mi AND cb.j = co.code
        GROUP BY q.query_id, co.vec_id
    ), cands AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, cand_id ASC)
                       AS arank
            FROM adc) t
        WHERE arank <= {TOPK * PQ_CAND_FACTOR}
    ), scored AS (
        SELECT ca.query_id, ca.cand_id,
               ROUND(list_dot_product(qb.e, cbv.e)
                     / (qb.nrm * cbv.nrm), 6) AS cosine
        FROM cands ca
        JOIN b qb ON qb.vec_id = ca.query_id
        JOIN b cbv ON cbv.vec_id = ca.cand_id
    )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
        FROM scored) t
    WHERE rank <= {TOPK}
    """


def write_ivfpq_layout(spark: SparkSession, sf_dir: str,
                       out_dir: str) -> None:
    """The FAISS IVFPQ file layout on a lakehouse: per vector only its
    M PQ codes, written under its nearest-cell directory
    (``cell=<id>/``). An ANN probe then composes THREE prunings: the
    directory structure is the coarse quantizer (partition pruning),
    the codes column is the only column the approx stage reads (column
    pruning: M small ints instead of the full vector), and the exact
    re-rank fetches full vectors for just the bounded pool."""
    vec, _ = _pq_corpus(spark, sf_dir)
    cells = _corpus_ivf_cells(spark, sf_dir, 1).select("vec_id", "cell")
    (vec.select("vec_id", "codes").join(cells, "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(out_dir))


def sim_ivfpq_layout_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sim_ivfpq_topk`` served from the PHYSICAL code layout
    (write_ivfpq_layout): the approx ADC stage scans ONLY the probed
    ``cell=`` directories and ONLY their codes column — at 100 TB that
    is nprobe/n_cells of the corpus times M bytes per vector, with the
    full vectors touched just for the TOPK*PQ_CAND_FACTOR re-rank pool
    (a broadcast-sized join back to the vector store). Same centroids,
    codebooks, integer ADC, and tie-breaks as the logical operator, so
    the result is row-identical and shares its oracle."""
    import os

    from .util import artifact_dir, ensure_complete

    layout = artifact_dir(
        "spark_graft_ivfpq_layout",
        os.path.join(sf_dir, "embeddings.parquet"),
        f"mod={IVF_CENTROID_MOD}_m{PQ_M}k{PQ_K}")

    def build():
        ensure_complete(layout,
                        lambda d: write_ivfpq_layout(spark, sf_dir, d))
        vec, cb = _pq_corpus(spark, sf_dir)
        dim = _embedding_dim(vec)
        sd = dim // PQ_M
        cells = _corpus_ivf_cells(spark, sf_dir, NPROBE)
        q = (vec.join(cells.select("vec_id", "cell"), "vec_id")
             .filter(F.col("vec_id") % N_QUERIES_MOD == 0)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("qe"), F.col("nrm").alias("qn"),
                     F.col("qv").alias("qq"), F.col("cell").alias("qc")))
        # driver-side probed-cell list (queries x nprobe ids, tiny) ->
        # partition filter literal: the codes scan prunes DIRECTORIES
        probed = sorted({r["qc"] for r in q.select("qc").distinct().collect()})
        LAST_LAYOUT_PROBE.clear()
        LAST_LAYOUT_PROBE.update({
            "probed_cells": len(probed),
            "total_cells": cells.select("cell").distinct().count(),
            "nprobe": NPROBE})
        codes_df = (spark.read.parquet(layout)
                    .filter(F.col("cell").isin(probed))
                    .select(F.col("vec_id").alias("cand_id"), "codes",
                            F.col("cell").alias("cc")))
        pairs = codes_df.join(F.broadcast(q), (F.col("qc") == F.col("cc"))
                              & (F.col("query_id") != F.col("cand_id")))
        score = None
        for m in range(PQ_M):
            qsub = F.slice(F.col("qq"), m * sd + 1, sd)
            cbm = F.array(*[F.array(*[F.lit(v) for v in cb[m][j]])
                            for j in range(PQ_K)])
            cvec = F.element_at(cbm, F.element_at(F.col("codes"), m + 1) + 1)
            term = F.aggregate(
                F.zip_with(qsub, cvec, lambda x, y: x * y),
                F.lit(0).cast("long"), lambda acc, x: acc + x)
            score = term if score is None else score + term
        wa = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("cand_id"))
        pool = (
            pairs.select("query_id", "cand_id", "qe", "qn",
                         score.alias("score"))
            .withColumn("arank", F.row_number().over(wa))
            .filter(F.col("arank") <= TOPK * PQ_CAND_FACTOR)
        )
        corpus = _corpus_vectors(spark, sf_dir).select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
            F.col("nrm").alias("cn"))
        rerank = corpus.join(F.broadcast(pool), "cand_id")
        cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("cand_id"))
        out = (
            rerank.select("query_id", "cand_id", cos.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "cand_id", "cosine",
                    F.col("rank").cast("int").alias("rank"))
        )
        return out

    return memoized(spark, "ivfpq_layout", layout, build)


def _pq_sql(dim: int = 64) -> str:
    """Oracle twin: derives the same maxabs scale, seed codebook,
    integer encodings, ADC scores, pool, and exact re-rank in SQL."""
    sd = dim // PQ_M
    return f"""
    WITH m AS (
        SELECT MAX(list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x)))) AS mx
        FROM embeddings
    ), b AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x * {SQ_LEVELS} / mx + 0.5)
                                        AS BIGINT)) AS qv
        FROM embeddings CROSS JOIN m
    ), seeds AS (
        SELECT qv, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
        FROM b ORDER BY vec_id LIMIT {PQ_K}
    ), cb AS (
        SELECT mi, j, list_slice(qv, mi * {sd} + 1, (mi + 1) * {sd}) AS cvec
        FROM seeds CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS mi) sub
    ), encdist AS (
        SELECT b.vec_id, cb.mi, cb.j,
               CAST(list_sum(list_transform(
                   range(1, {sd} + 1),
                   i -> (list_slice(b.qv, cb.mi * {sd} + 1,
                                    (cb.mi + 1) * {sd})[i] - cb.cvec[i])
                        * (list_slice(b.qv, cb.mi * {sd} + 1,
                                      (cb.mi + 1) * {sd})[i] - cb.cvec[i])))
                    AS BIGINT) AS d
        FROM b CROSS JOIN cb
    ), codes AS (
        SELECT vec_id, mi, j AS code FROM (
            SELECT vec_id, mi, j,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, mi
                                      ORDER BY d, j) AS rn
            FROM encdist) t
        WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, e AS qe, qv AS qq
        FROM b WHERE vec_id % {N_QUERIES_MOD} = 0
    ), c AS (
        SELECT vec_id AS cand_id, e AS ce FROM b
    ), adc AS (
        SELECT q.query_id, co.vec_id AS cand_id,
               CAST(SUM(list_dot_product(
                   list_slice(q.qq, co.mi * {sd} + 1,
                              (co.mi + 1) * {sd})::DOUBLE[],
                   cb.cvec::DOUBLE[])) AS BIGINT) AS score
        FROM q JOIN codes co ON q.query_id != co.vec_id
        JOIN cb ON cb.mi = co.mi AND cb.j = co.code
        GROUP BY q.query_id, co.vec_id
    ), cands AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, cand_id ASC)
                       AS arank
            FROM adc) t
        WHERE arank <= {TOPK * PQ_CAND_FACTOR}
    ), scored AS (
        SELECT ca.query_id, ca.cand_id,
               ROUND(list_dot_product(q.qe, c.ce)
                     / (sqrt(list_dot_product(q.qe, q.qe))
                        * sqrt(list_dot_product(c.ce, c.ce))), 6) AS cosine
        FROM cands ca
        JOIN q ON q.query_id = ca.query_id
        JOIN c ON c.cand_id = ca.cand_id
    )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
        FROM scored) t
    WHERE rank <= {TOPK}
    """


# -- ANN recall audit -------------------------------------------------------


def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit for the approximate methods against the exact
    brute-force top-k — the number an ANN deployment actually monitors.
    Composes the existing operators, with the exact top-k id set cached
    per (session, corpus) since all three method joins and the total
    read it: per method, hits = |approx ∩ exact|, total = |exact|,
    recall rounded to 4.  The joins are top-k-sized (queries × k rows),
    trivially broadcastable at any corpus scale."""
    # cache the exact top-k: it feeds the total AND all three method
    # joins — uncached, the all-pairs brute-force scan would re-run
    # once per consumer (the corpus memos cover only the vector
    # artifacts, not this window's output)
    def build():
        exact = memoized(
            spark, "sim_corpus", (sf_dir, "exact_topk_ids"),
            lambda: track_cache(
                sim_bruteforce_topk(spark, sf_dir)
                .select("query_id", "cand_id")))
        tot = exact.agg(F.count(F.lit(1)).alias("total"))
        out = None
        for method, fn in (("lsh", sim_lsh_topk), ("ivf", sim_ivf_topk),
                           ("sq", sim_sq_topk)):
            hits = (fn(spark, sf_dir).select("query_id", "cand_id")
                    .join(exact, ["query_id", "cand_id"])
                    .agg(F.count(F.lit(1)).alias("hits"))
                    .crossJoin(F.broadcast(tot))
                    .select(F.lit(method).alias("method"),
                            F.col("hits").cast("bigint").alias("hits"),
                            F.col("total").cast("bigint").alias("total"),
                            F.round(F.col("hits") / F.col("total"), 4)
                            .alias("recall")))
            out = hits if out is None else out.unionAll(hits)
        return out

    # the composed 4-method plan is deterministic per corpus — memoize
    # its construction like the PQ plans (driver-side build dominates)
    return memoized(
        spark, "sim_corpus", (sf_dir, "recall_report_plan"), build)


def _recall_sql() -> str:
    return f"""
        WITH exact AS MATERIALIZED (
            SELECT query_id, cand_id FROM ({SIM_BRUTEFORCE_SQL}) t
        ), lsh AS (
            SELECT query_id, cand_id FROM ({_lsh_sql()}) t
        ), ivf AS (
            SELECT query_id, cand_id FROM ({SIM_IVF_SQL}) t
        ), sq AS (
            SELECT query_id, cand_id FROM ({SIM_SQ_SQL}) t
        ), tot AS (
            SELECT COUNT(*) AS total FROM exact
        ), hl AS (
            SELECT COUNT(*) AS h FROM lsh JOIN exact USING (query_id, cand_id)
        ), hi AS (
            SELECT COUNT(*) AS h FROM ivf JOIN exact USING (query_id, cand_id)
        ), hs AS (
            SELECT COUNT(*) AS h FROM sq JOIN exact USING (query_id, cand_id)
        )
        SELECT 'lsh' AS method, CAST(h AS BIGINT) AS hits,
               CAST(total AS BIGINT) AS total,
               ROUND(CAST(h AS DOUBLE) / total, 4) AS recall
        FROM hl CROSS JOIN tot
        UNION ALL
        SELECT 'ivf', CAST(h AS BIGINT), CAST(total AS BIGINT),
               ROUND(CAST(h AS DOUBLE) / total, 4)
        FROM hi CROSS JOIN tot
        UNION ALL
        SELECT 'sq', CAST(h AS BIGINT), CAST(total AS BIGINT),
               ROUND(CAST(h AS DOUBLE) / total, 4)
        FROM hs CROSS JOIN tot
    """


# -- hybrid (text + vector) retrieval with reciprocal-rank fusion -----------

RRF_K = 60        # the standard RRF constant (Cormack et al., SIGIR 2009)
RRF_POOL = 20     # per-modality candidate pool depth
HYBRID_TOPK = 5   # fused results returned per query


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID search — BM25-family lexical retrieval fused with vector
    similarity by reciprocal-rank fusion (RRF, Cormack et al. 2009:
    score = Σ 1/(k + rank)), the default ranking recipe of production
    hybrid search engines. Query-by-example over the joint id space
    (doc_id == vec_id): each query document retrieves two top-POOL
    candidate lists —

    - lexical: idf-weighted distinct-token overlap, computed through a
      SIGNATURE-FACTORIZED inverted-index join with a MaxScore-style
      cutoff (Turtle & Flood 1995's "score once per equivalence class,
      prune classes that cannot reach the pool" idea, lifted from
      terms to whole term-set signatures): candidates are grouped by
      their distinct-term-set ∩ query-vocabulary signature — every
      candidate sharing a signature has IDENTICAL scores against every
      query, so scoring runs once per (query, signature) instead of
      once per (query, candidate) pair, then a signature-level cutoff
      keeps only signatures whose strictly-higher-scored classes hold
      fewer than POOL(+1 self-slack) docs before expanding back to
      candidates. EXACT by construction — the expansion carries the
      true integer score and every boundary tie survives the cutoff —
      so the oracle stays the plain full-join definition and the
      driver's hash comparison is the proof. The shuffle key is the
      term / the signature, never a doc pair; per-(query, cand) scores
      are exact INTEGER sums of basis-point idfs so no float
      accumulation order can smear ranks. On this corpus (tiny
      shared vocabulary — per-term WAND has no discriminative terms to
      skip) the 50k sf1 docs collapse to ~3.9k signatures, cutting the
      448M-pair inverted-index join ~13×; on a real heavy-tailed
      corpus the signature collapse is smaller but the join itself is
      cheaper, and the worst case degrades to the original cost plus
      one groupBy;
    - vector: exact cosine, the 5-query broadcast map-only pass
      sim_bruteforce_topk pins.

    RRF then needs only the two rank columns (full outer join on the
    candidate pair, absent list ⇒ no contribution), so modalities with
    incomparable score scales fuse without calibration — the reason RRF
    won out in practice. Deterministic end to end: integer lexical
    scores, 6dp-rounded cosines, vec_id tie-breaks at every window, and
    the fused score is one small-integer-reciprocal sum rounded to 6dp
    — the DuckDB oracle rebuilds both lists and the fusion exactly."""
    from ..functions import sql_tokens, tokens  # noqa: F401 (sql twin)

    # Whole-plan memo (the _corpus_features pattern: plan reuse only,
    # never a result cache — the noop sink still executes the full
    # pipeline on every call).  Building this ~250-operator DataFrame
    # costs ~1 s of driver py4j round trips per call (measured: build
    # 0.8-1.1 s vs planning 0.1 s); a serving system constructs the
    # query template once.  Cleared by util.clear_caches, so the cold
    # pass still prices construction.
    def build():
        vec = _corpus_vectors(spark, sf_dir)
        q = vec.filter(F.col("vec_id") % N_QUERIES_MOD == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"))
        c = vec.select(F.col("vec_id").alias("cand_id"),
                       F.col("embedding").alias("ce"),
                       F.col("nrm").alias("cn"))
        cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
        wv = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("cand_id"))
        vec_ranks = (
            c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
            .select("query_id", "cand_id", cos.alias("cosine"))
            .withColumn("vrank", F.row_number().over(wv))
            .filter(F.col("vrank") <= RRF_POOL)
            .select("query_id", "cand_id", "vrank"))

        docs = read_table(spark, sf_dir, "documents")
        terms = memoized(
            spark, "sim_corpus", (sf_dir, "doc_terms"),
            lambda: track_cache(docs.select(
                "doc_id",
                F.explode(F.array_distinct(tokens(F.col("text"))))
                .alias("term"))))
        # the query side (Q docs' terms + their idf weights) is TINY — join
        # it to the per-term stats first, then BROADCAST it against the
        # corpus terms: the big side never shuffles (map-side inverted-index
        # probe) and the partial aggregation combines (query, cand) scores
        # before the only real exchange.  Cached per corpus (queries ×
        # query-vocab rows): it is a loop-invariant artifact whose df
        # aggregation and doc count otherwise re-run inside every call's
        # plan — at 100 TB it is the persisted query-weights sidecar.
        def _build_qti():
            dfreq = terms.groupBy("term").agg(
                F.count(F.lit(1)).alias("df"))
            n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
            idf_bp = F.round(F.log(F.col("n_docs") / F.col("df"))
                             * 10000).cast("long")
            return track_cache(
                terms.filter(F.col("doc_id") % N_QUERIES_MOD == 0)
                .select(F.col("doc_id").alias("query_id"), "term")
                .join(dfreq, "term").crossJoin(n)
                .select("query_id", "term", idf_bp.alias("idf_bp")))
        qti = memoized(
            spark, "sim_corpus", (sf_dir, "hybrid_qti"), _build_qti)
        ct = terms.select(F.col("doc_id").alias("cand_id"), "term")
        # -- signature factorization: candidates sharing the same
        # distinct-term-set ∩ query-vocabulary have IDENTICAL lexical
        # scores vs every query — score once per (query, signature), not
        # per (query, candidate). Terms outside every query contribute 0
        # to every score, so the ∩ V_Q restriction loses nothing and
        # maximizes the collapse.
        vq = qti.select("term").distinct()
        # candidates keyed by a DENSE INTEGER signature id (row_number
        # over the sorted distinct signatures — a tiny dim, deterministic,
        # collision-free, unlike a hash): the fan-out join and its groupBy
        # shuffle ~8-byte ids instead of ~150-byte signature strings
        def _build_csig():
            raw = (ct.join(F.broadcast(vq), "term")
                   .groupBy("cand_id")
                   .agg(F.concat_ws(" ",
                                    F.sort_array(F.collect_set("term")))
                        .alias("sig")))
            ids = (raw.select("sig").distinct()
                   .withColumn("sig_id", F.row_number().over(
                       Window.orderBy("sig"))))
            return track_cache(raw.join(F.broadcast(ids), "sig")
                               .select("cand_id", "sig_id", "sig"))
        csig = memoized(
            spark, "sim_corpus", (sf_dir, "hybrid_csig"), _build_csig)
        # sig_docs feeds BOTH the postings explode and the cutoff's
        # broadcast — cached, the aggregation runs once per corpus instead
        # of twice per call
        sig_docs = memoized(
            spark, "sim_corpus", (sf_dir, "hybrid_sigdocs"),
            lambda: track_cache(csig.groupBy("sig_id", "sig").agg(
                F.count(F.lit(1)).alias("n_sig_docs"))))
        # the signature postings are TINY (sigs × terms) but the join
        # below fans out to Σ_t qf(t)·sdf(t) rows — repartition first so
        # AQE's small-input coalescing can't serialize the explosive
        # probe into one task
        parts = spark.sparkContext.defaultParallelism
        sig_terms = (sig_docs.select("sig_id", "sig")
                     .select("sig_id", F.explode(F.split("sig", " "))
                             .alias("term"))
                     .repartition(parts, "sig_id"))
        overlap_sig = (sig_terms.join(F.broadcast(qti), "term")
                       .groupBy("query_id", "sig_id")
                       .agg(F.sum("idf_bp").alias("score_bp")))
        # -- MaxScore-style cutoff at the signature level: the final rank
        # orders by (score desc, cand_id asc), so a signature can reach
        # the top POOL only if the strictly-higher-scored signatures hold
        # fewer than POOL docs; the +1 slack covers the query's own doc
        # (excluded only after expansion). Boundary TIES all survive —
        # the strict-inequality frame never counts equal scores — so the
        # expansion ranks exactly as the unfactorized join would.
        w_cum = (Window.partitionBy("query_id").orderBy(F.desc("score_bp"))
                 .rangeBetween(Window.unboundedPreceding, -1))
        kept = (overlap_sig.join(F.broadcast(sig_docs.select(
                    "sig_id", "n_sig_docs")), "sig_id")
                .withColumn("higher_docs",
                            F.coalesce(F.sum("n_sig_docs").over(w_cum),
                                       F.lit(0)))
                .filter(F.col("higher_docs") < RRF_POOL + 1)
                .select("query_id", "sig_id", "score_bp"))
        # expansion: kept is O(queries × surviving sigs) — broadcast it so
        # the candidate table never shuffles
        overlap = (csig.join(F.broadcast(kept), "sig_id")
                   .filter(F.col("query_id") != F.col("cand_id"))
                   .select("query_id", "cand_id", "score_bp"))
        wt = Window.partitionBy("query_id").orderBy(
            F.desc("score_bp"), F.asc("cand_id"))
        text_ranks = (overlap.withColumn("trank", F.row_number().over(wt))
                      .filter(F.col("trank") <= RRF_POOL)
                      .select("query_id", "cand_id", "trank"))

        contrib = (F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vrank")),
                              F.lit(0.0))
                   + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("trank")),
                                F.lit(0.0)))
        # RRF fusion as UNION + one groupBy instead of a full-outer join:
        # each leg holds at most one row per (query_id, cand_id), so
        # max(vrank)/max(trank) over the union reproduces the join's
        # null-padded row exactly (absent leg => null => coalesce 0.0, the
        # same IEEE double sum). The join shuffled BOTH rank legs by
        # (query_id, cand_id) and sorted them for a SortMergeJoin FullOuter
        # (2 exchanges + 2 sorts + merge); the union aggregates in ONE
        # exchange with map-side partial aggregation (guide §2.4).
        legs = (vec_ranks.select(
                    "query_id", "cand_id", "vrank",
                    F.lit(None).cast("int").alias("trank"))
                .unionByName(text_ranks.select(
                    "query_id", "cand_id",
                    F.lit(None).cast("int").alias("vrank"), "trank")))
        fused = (legs.groupBy("query_id", "cand_id")
                 .agg(F.max("vrank").alias("vrank"),
                      F.max("trank").alias("trank"))
                 .select("query_id", "cand_id",
                         F.round(contrib, 6).alias("rrf")))
        wf = Window.partitionBy("query_id").orderBy(
            F.desc("rrf"), F.asc("cand_id"))
        out = (fused.withColumn("rank", F.row_number().over(wf))
               .filter(F.col("rank") <= HYBRID_TOPK)
               .select("query_id", "cand_id", "rrf",
                       F.col("rank").cast("int").alias("rank")))
        return out

    return memoized(spark, "hybrid_plan", sf_dir, build)


def _hybrid_sql() -> str:
    from ..functions import sql_tokens

    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id % {N_QUERIES_MOD} = 0
    ), c AS (
        SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce FROM embeddings
    ), vscored AS (
        SELECT query_id, cand_id,
               ROUND(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6) AS cosine
        FROM c JOIN q ON query_id != cand_id
    ), vranks AS (
        SELECT query_id, cand_id, vrank FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, cand_id ASC)
                       AS vrank
            FROM vscored) t
        WHERE vrank <= {RRF_POOL}
    ), terms AS (
        SELECT doc_id, unnest(list_distinct({sql_tokens('text')})) AS term
        FROM documents
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM terms GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), overlap AS (
        SELECT qt.doc_id AS query_id, ct.doc_id AS cand_id,
               SUM(CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 10000)
                        AS BIGINT)) AS score_bp
        FROM terms qt
        JOIN terms ct ON qt.term = ct.term AND qt.doc_id != ct.doc_id
        JOIN dfreq ON dfreq.term = qt.term
        CROSS JOIN n
        WHERE qt.doc_id % {N_QUERIES_MOD} = 0
        GROUP BY 1, 2
    ), tranks AS (
        SELECT query_id, cand_id, trank FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score_bp DESC, cand_id ASC)
                       AS trank
            FROM overlap) t
        WHERE trank <= {RRF_POOL}
    ), fused AS (
        SELECT query_id, cand_id,
               ROUND(COALESCE(1.0::DOUBLE / ({RRF_K} + vrank), 0)
                     + COALESCE(1.0::DOUBLE / ({RRF_K} + trank), 0), 6)
                   AS rrf
        FROM vranks FULL OUTER JOIN tranks USING (query_id, cand_id)
    )
    SELECT query_id, cand_id, rrf, rank FROM (
        SELECT query_id, cand_id, rrf,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, cand_id ASC)
                    AS INT) AS rank
        FROM fused) t
    WHERE rank <= {HYBRID_TOPK}
"""


SIMILARITY_QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sim_bruteforce_topk": sim_bruteforce_topk,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_range_search": sim_range_search,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_nprobe_topk": sim_ivf_nprobe_topk,
    "sim_ivf_layout_topk": sim_ivf_layout_topk,
    "sim_sq_topk": sim_sq_topk,
    "sim_pq_topk": sim_pq_topk,
    "sim_ivfpq_topk": sim_ivfpq_topk,
    "sim_ivfpq_layout_topk": sim_ivfpq_layout_topk,
    "sim_recall_report": sim_recall_report,
    "emb_label_centroids": emb_label_centroids,
    "emb_kmeans_step": emb_kmeans_step,
    "emb_pca_power_step": emb_pca_power_step,
    "sim_filtered_topk": sim_filtered_topk,
    "sim_hybrid_rrf": sim_hybrid_rrf,
}

def sim_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR SEARCH OVER THE LIVE CORPUS UNDER DML — the ANN × DML
    composition a curated training store needs: vectors are served
    through the indexed table (deletion vectors applied on the read),
    a retraction deletes every ``vec_id % 9 = 4`` row, and the exact
    cosine top-k runs over the LIVE candidates only — a deleted vector
    can never surface as a neighbor, with zero index rebuild and zero
    file rewrites. The candidate scan is the same pruned, DV-filtered
    read every other surface uses, so at 100 TB the composition is
    'retract tonight, search the live corpus immediately'; the IVF/PQ
    variants compose identically (their candidate sets are reads of
    this table). Deterministic: 6-decimal rounding + vec_id tie-break,
    as all sim_* rows; the oracle recomputes over the flat table with
    the delete predicate negated."""
    import os
    import tempfile

    from ..plans.expr import col as xcol
    from ..sources.layout import write_one_file
    from ..sources.table import IndexedParquetTable

    def table():
        d = tempfile.mkdtemp(prefix="spark_graft_simlive_")
        emb = read_table(spark, sf_dir, "embeddings")
        for i in range(2):
            write_one_file(emb.filter(F.col("vec_id") % 2 == i)
                           .orderBy("vec_id"),
                           os.path.join(d, f"half{i}.parquet"))
        t = IndexedParquetTable(spark, d, ["vec_id"])
        t.delete_where((xcol("vec_id") % 9) == 4)
        return t

    t = memoized(spark, "sim_live_table", sf_dir, table)

    def plan():
        live = spread_for_compute(t.query(None))
        vec = live.select("vec_id", "embedding",
                          l2_norm(F.col("embedding")).alias("nrm"))
        # queries are the standard sim_* query set, drawn from the FULL
        # corpus (a retracted document may still be somebody's query);
        # candidates are live-only. Filter FIRST: the old shape
        # repartitioned the whole corpus scan and then kept ~1% of it —
        # the query side is a broadcast build, it needs no compute spread
        # (guide §2.3: project/filter before the exchange; here the
        # exchange disappears entirely).
        q = (read_table(spark, sf_dir, "embeddings")
             .filter(F.col("vec_id") % N_QUERIES_MOD == 0)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("qe"),
                     l2_norm(F.col("embedding")).alias("qn")))
        c = vec.select(F.col("vec_id").alias("cand_id"),
                       F.col("embedding").alias("ce"),
                       F.col("nrm").alias("cn"))
        pairs = c.join(F.broadcast(q),
                       F.col("query_id") != F.col("cand_id"))
        cos = F.round(_pair_cosine("qe", "ce", "qn", "cn"), 6)
        scored = pairs.select("query_id", "cand_id", cos.alias("cosine"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("cand_id"))
        out = (scored.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= TOPK)
               .select("query_id", "cand_id", "cosine",
                       F.col("rank").cast("int").alias("rank")))
        return out

    # post-gate plan memo (the q97/q99/q102 posture): after the
    # retraction gate, a warm re-entry only rebuilds an identical lazy
    # plan — plan_scan + two .rdd partition probes, ~0.6 s of driver
    # py4j per call. clear_caches re-prices construction.
    return memoized(spark, "sim_live_plan", sf_dir, plan)


SIMILARITY_QUERIES["sim_topk_live"] = sim_topk_live

SIM_TOPK_LIVE_SQL = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id % {N_QUERIES_MOD} = 0
    ), c AS (
        SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce
        FROM embeddings WHERE vec_id % 9 <> 4
    ), scored AS (
        SELECT query_id, cand_id,
               ROUND(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 6) AS cosine
        FROM c JOIN q ON query_id != cand_id
    )
    SELECT query_id, cand_id, cosine, rank FROM (
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id ASC) AS INT) AS rank
        FROM scored) t
    WHERE rank <= {TOPK}
"""


SIMILARITY_ORACLE: Dict[str, str] = {
    "sim_bruteforce_topk": SIM_BRUTEFORCE_SQL,
    "sim_lsh_topk": _lsh_sql(),
    "sim_range_search": _range_search_sql(),
    "sim_ivf_topk": SIM_IVF_SQL,
    "sim_ivf_nprobe_topk": SIM_IVF_NPROBE_SQL,
    # row-identical to sim_ivf_topk at nprobe=1 by construction — the
    # oracle equality is exactly the physical-layout round-trip check
    "sim_ivf_layout_topk": SIM_IVF_SQL,
    "sim_sq_topk": SIM_SQ_SQL,
    "sim_pq_topk": _pq_sql(),
    "sim_ivfpq_topk": _ivfpq_sql(),
    # row-identical to sim_ivfpq_topk by construction (same centroids,
    # codebooks, ADC, tie-breaks) — the oracle equality IS the
    # physical-layout round-trip check, like sim_ivf_layout_topk's
    "sim_ivfpq_layout_topk": _ivfpq_sql(),
    "sim_recall_report": _recall_sql(),
    "emb_label_centroids": EMB_CENTROIDS_SQL,
    "emb_kmeans_step": EMB_KMEANS_SQL,
    "emb_pca_power_step": EMB_PCA_SQL,
    "sim_filtered_topk": SIM_FILTERED_SQL,
    "sim_hybrid_rrf": _hybrid_sql(),
    "sim_topk_live": SIM_TOPK_LIVE_SQL,
}
