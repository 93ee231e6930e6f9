"""Behavioral tests for the pipeline operators on constructed data —
near-dups must be found, non-dups must not, multimodal plumbing must
carry real batches. (The oracle harness checks engine-vs-DuckDB parity;
these check the semantics are the intended ones.)
"""

import pytest
from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark.operators.dedup import (
    cosine_pairs, minhash_pairs, ngram_jaccard_pairs, simhash_signatures,
)
from datafusion_async_parquet_index_spark.operators.multimodal import (
    decode_image_stub, extract_features, frame_sample, synthesize_media,
)

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun light")
NEAR = BASE.replace("afternoon", "evening")
OTHER = ("completely different content about distributed query engines "
         "and columnar storage formats with vectorized execution kernels")


@pytest.fixture(scope="module")
def trio(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER)], ["doc_id", "text"])


def test_minhash_finds_near_dup_not_unrelated(trio):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in minhash_pairs(trio).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_ranks_near_dup_above_unrelated(trio):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(trio, threshold=0.0).collect()}
    assert pairs[(1, 2)] > 0.8
    assert pairs.get((1, 3), 0.0) < 0.2


def test_simhash_hamming_distance(trio):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(trio).collect()}
    near = bin(sigs[1] ^ sigs[2]).count("1")
    far = bin(sigs[1] ^ sigs[3]).count("1")
    assert near < far
    assert near <= 12  # one-word change flips few bits of 60


def test_cosine_pairs_identical_and_orthogonal(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0]),
         (4, [0.9999, 0.01, 0.0])],
        ["vec_id", "embedding"])
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in cosine_pairs(df, 0.95).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs
    assert (1, 3) not in pairs


def test_exact_dedup_keeps_min_id(spark, tmp_path):
    df = spark.createDataFrame(
        [(10, "same"), (7, "same"), (3, "unique")], ["doc_id", "text"])
    out = (df.groupBy(F.md5("text").alias("h"))
           .agg(F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("cnt")))
    rows = {r.keep: r.cnt for r in out.collect()}
    assert rows == {7: 2, 3: 1}


# -- multimodal -------------------------------------------------------------

def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"bytes", "image/png")


def test_decode_stub_deterministic():
    a = decode_image_stub(b"x" * 100, "video/mp4", fake_decode=True)
    b = decode_image_stub(b"x" * 100, "video/mp4", fake_decode=True)
    assert a == b
    assert a["n_frames"] > 1


def test_extract_features_mapinpandas(spark, sf_dir):
    media = synthesize_media(spark, sf_dir)
    feats = extract_features(media)
    rows = feats.limit(5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.byte_len > 0
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        assert len(r.feature) == 8
        assert sum(r.feature) == min(r.byte_len, 256)


def test_resize_media_mapinpandas(spark, sf_dir):
    """Resize plumbing: integer fit-within-box dims match the fake
    decode's width/height, and the stand-in payload is truncated or
    zero-padded to exactly out_w*out_h bytes."""
    from datafusion_async_parquet_index_spark.operators.multimodal import (
        RESIZE_BOX, resize_media,
    )
    media = synthesize_media(spark, sf_dir)
    lens = {r.doc_id: r.byte_len for r in media.limit(50).collect()}
    rows = resize_media(media).filter(
        F.col("doc_id").isin(*lens.keys())).collect()
    assert len(rows) == len(lens)
    bw, bh = RESIZE_BOX
    for r in rows:
        n = lens[r.doc_id]
        w, h = 16 + n % 64, 16 + (n // 64) % 64
        assert r.out_w == max(1, min(bw, w * bh // h))
        assert r.out_h == max(1, min(bh, h * bw // w))
        assert len(r.payload) == r.out_w * r.out_h


def test_frame_sample_counts(spark, sf_dir):
    media = synthesize_media(spark, sf_dir)
    frames = frame_sample(media, every_n_bytes=100)
    got = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    lens = {r.doc_id: r.byte_len for r in media.collect()}
    for r in got:
        assert r.n == lens[r.doc_id] // 100 + 1


def test_py_hash60_matches_spark_and_duckdb(spark):
    """py_hash60 (driver-side constant folding, e.g. LSH plane weights)
    must agree with the Spark hash60 expression and the DuckDB SQL
    rendering for the same inputs."""
    import duckdb

    from datafusion_async_parquet_index_spark.functions import (
        hash60, py_hash60, sql_hash60,
    )

    inputs = ["0|0", "7|63", "a", "", "hello world", "3|17"]
    df = spark.createDataFrame([(s,) for s in inputs], ["s"])
    spark_vals = [r["h"] for r in
                  df.select(hash60(F.col("s")).alias("h")).collect()]
    py_vals = [py_hash60(s) for s in inputs]
    duck_vals = [
        duckdb.sql(f"SELECT {sql_hash60(repr(s))} AS h").fetchone()[0]
        for s in inputs
    ]
    assert spark_vals == py_vals == duck_vals


def test_asof_join_semantics(spark):
    """q20's union+window as-of must pick the latest click <= purchase
    ts per user, inclusive on ties, highest event_id among equal ts."""
    import datetime as dt

    rows = [
        # user 1: clicks at t1, t3; purchases at t2, t3 (tie), t0 (none before)
        (10, dt.datetime(2024, 1, 1, 0, 0, 0), 1, "click", 0.0, ""),
        (11, dt.datetime(2024, 1, 1, 0, 2, 0), 1, "click", 0.0, ""),
        (12, dt.datetime(2024, 1, 1, 0, 2, 0), 1, "click", 0.0, ""),  # equal ts
        (20, dt.datetime(2024, 1, 1, 0, 1, 0), 1, "purchase", 1.0, ""),
        (21, dt.datetime(2024, 1, 1, 0, 2, 0), 1, "purchase", 1.0, ""),
        (22, dt.datetime(2023, 12, 31, 0, 0, 0), 1, "purchase", 1.0, ""),
        # user 2: no clicks
        (30, dt.datetime(2024, 1, 1, 0, 0, 0), 2, "purchase", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"])
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/events.parquet")
        from datafusion_async_parquet_index_spark.queries import q20_asof_join

        out = {r["purchase_id"]: r["last_click_id"]
               for r in q20_asof_join(spark, d).collect()}
    assert out == {20: 10, 21: 12, 22: None, 30: None}


def test_cms_point_estimate_upper_bounds_truth(spark, sf_dir):
    """Count-min invariant: for every key, min over rows of its cell is
    >= the true count (never under); py_hash60 locates the cells exactly
    like the distributed builder."""
    from datafusion_async_parquet_index_spark.functions import py_hash60
    from datafusion_async_parquet_index_spark.operators.events import (
        CMS_DEPTH, CMS_WIDTH, ev_cms_user_counts,
    )
    cells = {(r.sketch_row, r.sketch_col): r.cnt
             for r in ev_cms_user_counts(spark, sf_dir).collect()}
    truth = {r.user_id: r.cnt for r in
             spark.read.parquet(f"{sf_dir}/events.parquet")
             .groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
             .collect()}
    for user, true_cnt in list(truth.items())[:200]:
        est = min(
            cells.get((r, py_hash60(f"{r}|{user}") % CMS_WIDTH), 0)
            for r in range(CMS_DEPTH))
        assert est >= true_cnt, (user, est, true_cnt)


def test_connected_components_paths_agree(spark):
    """The union-find fast path and the distributed label-propagation
    loop are interchangeable: same (doc_id, cluster_id) fixpoint."""
    from datafusion_async_parquet_index_spark.operators.dedup import (
        connected_components,
    )
    # two chains, one triangle, one isolated edge — exercises chains
    # (diameter > 1), cycles, and singleton components
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21),
             (21, 22), (22, 20), (30, 31)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    fast = sorted(map(tuple, connected_components(pairs).collect()))
    slow = sorted(map(tuple, connected_components(
        pairs, small_edge_cutoff=0).collect()))
    assert fast == slow
    assert fast == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
                    (12, 10), (20, 20), (21, 20), (22, 20), (30, 30),
                    (31, 30)]


def test_embedding_lsh_finds_planted_near_dups(spark):
    """Multi-table hyperplane LSH must recover planted near-identical
    vectors (cosine ~1 collides in EVERY table), and every returned
    pair must satisfy the exact-cosine verification threshold — i.e.
    LSH pairs are a SUBSET of the all-pairs result at the same
    threshold, never a superset."""
    import random

    from datafusion_async_parquet_index_spark.operators.dedup import (
        EMB_NEAR_COS, cosine_pairs, embedding_lsh_pairs,
    )
    rng = random.Random(7)
    rows = []
    for vid in range(40):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(16)]))
    # plant three exact clones of existing vectors
    for clone_id, src in [(100, 3), (101, 17), (102, 29)]:
        rows.append((clone_id, list(rows[src][1])))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r.vec_a, r.vec_b) for r in embedding_lsh_pairs(emb).collect()}
    exact = {(r.vec_a, r.vec_b)
             for r in cosine_pairs(emb, threshold=EMB_NEAR_COS).collect()}
    assert {(3, 100), (17, 101), (29, 102)} <= got
    assert got <= exact


def test_incremental_agrees_with_full_pair_list(spark, sf_dir):
    """dedup_incremental == the cross (new x corpus) restriction of the
    full MinHash pair list at the same threshold: the batch-vs-corpus
    probe must not invent or lose pairs relative to full-corpus LSH."""
    from datafusion_async_parquet_index_spark.operators.dedup import (
        NEW_BATCH_MOD, dedup_incremental, dedup_minhash_lsh,
    )
    inc = {(r.new_id, r.corpus_id): r.est_jaccard
           for r in dedup_incremental(spark, str(sf_dir)).collect()}
    full = {}
    for r in dedup_minhash_lsh(spark, str(sf_dir)).collect():
        a_new = r.doc_a % NEW_BATCH_MOD == 0
        b_new = r.doc_b % NEW_BATCH_MOD == 0
        if a_new and not b_new:
            full[(r.doc_a, r.doc_b)] = r.est_jaccard
        elif b_new and not a_new:
            full[(r.doc_b, r.doc_a)] = r.est_jaccard
    assert inc == full and len(inc) > 0


def test_incremental_persisted_store_roundtrip(spark, sf_dir, tmp_path, monkeypatch):
    """The parquet-backed signature store must reproduce the in-memory
    incremental result exactly, and the store layout must be the
    documented two-table form (signatures + band-partitioned bands)."""
    import os
    import tempfile

    from datafusion_async_parquet_index_spark.operators.dedup import (
        dedup_incremental, dedup_incremental_persisted,
        signature_store_dir,
    )
    # an isolated store: every persisted artifact lives under the
    # temp root
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    mem = {(r.new_id, r.corpus_id): r.est_jaccard
           for r in dedup_incremental(spark, str(sf_dir)).collect()}
    per = {(r.new_id, r.corpus_id): r.est_jaccard
           for r in dedup_incremental_persisted(spark, str(sf_dir)).collect()}
    assert per == mem and len(per) > 0
    store = signature_store_dir(str(sf_dir))
    assert os.path.exists(os.path.join(store, "signatures", "_SUCCESS"))
    assert os.path.exists(os.path.join(store, "bands", "_SUCCESS"))
    # band table is partitioned by band_idx (directory-per-band layout)
    assert any(d.startswith("band_idx=")
               for d in os.listdir(os.path.join(store, "bands")))
    # second call reads the store instead of rewriting it
    before = os.path.getmtime(os.path.join(store, "signatures", "_SUCCESS"))
    dedup_incremental_persisted(spark, str(sf_dir)).count()
    assert os.path.getmtime(
        os.path.join(store, "signatures", "_SUCCESS")) == before


def test_range_join_banding_matches_theta_join(spark, sf_dir):
    """The banded equi-join form of the ±1-day interval self-join must
    equal the naive theta join exactly (same per-order neighbor
    counts)."""
    from pyspark.sql import functions as F

    from datafusion_async_parquet_index_spark.queries import q33_range_join

    got = {r.o_orderkey: r.n_nearby
           for r in q33_range_join(spark, str(sf_dir)).collect()}
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select("o_orderkey", F.to_date("o_orderdate").alias("d")))
    a = o.select(F.col("o_orderkey").alias("ak"), F.col("d").alias("ad"))
    b = o.select(F.col("o_orderkey").alias("bk"), F.col("d").alias("bd"))
    naive = (a.join(b, (F.abs(F.datediff(F.col("ad"), F.col("bd"))) <= 1)
                    & (F.col("ak") != F.col("bk")))
             .groupBy("ak").agg(F.count(F.lit(1)).alias("n")))
    want = {r.ak: r.n for r in naive.collect()}
    assert got == want and len(got) > 0


def test_containment_finds_embedded_quote(spark):
    """A short document fully contained in a long one must score
    containment ~1.0 even though its Jaccard is small — the directional
    metric's whole reason to exist."""
    from datafusion_async_parquet_index_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs,
    )
    quote = "the quick brown fox jumps over the lazy dog"
    long_doc = ("completely unrelated preamble text here. " * 20
                + quote + " trailing content that goes on and on. " * 20)
    docs = spark.createDataFrame(
        [(1, long_doc), (2, quote), (3, "nothing in common at all zzz")],
        ["doc_id", "text"])
    cont = {(r.doc_a, r.doc_b): r.containment
            for r in containment_pairs(docs).collect()}
    assert (1, 2) in cont and cont[(1, 2)] >= 0.9
    assert not any(3 in p for p in cont)
    jac = {(r.doc_a, r.doc_b): r.jaccard
           for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert jac.get((1, 2), 0) < 0.5  # Jaccard misses what containment sees


def test_ivf_nprobe_recall_dominates_single_probe(spark):
    """nprobe=2 must never lose recall vs nprobe=1 (its probe set is a
    superset), and both are measured against the brute-force truth."""
    import os

    from datafusion_async_parquet_index_spark.operators.similarity import (
        sim_bruteforce_topk, sim_ivf_nprobe_topk, sim_ivf_topk,
    )
    from tests.conftest import TESTDATA

    # 500 vectors, 5 queries, 10 centroids (sf0.01, sibling of the
    # configured TESTDATA dir so SPARK_GRAFT_TESTDATA relocation works)
    sf = os.path.join(os.path.dirname(TESTDATA.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"companion sf0.01 dir not found at {sf}")
    truth = {(r.query_id, r.cand_id)
             for r in sim_bruteforce_topk(spark, sf).collect()}
    ivf1 = {(r.query_id, r.cand_id)
            for r in sim_ivf_topk(spark, sf).collect()}
    ivf2 = {(r.query_id, r.cand_id)
            for r in sim_ivf_nprobe_topk(spark, sf).collect()}
    assert len(ivf2 & truth) >= len(ivf1 & truth)
    assert len(ivf2) > 0


def test_ivfpq_prunes_candidates_and_keeps_recall(spark):
    """The IVFPQ composition's scale claim, asserted: (a) the ADC stage
    scores ONLY probed-cell candidates — strictly fewer rows than the
    flat-PQ whole-corpus scan; (b) cell pruning costs little recall vs flat
    PQ on the same codebooks (bounded drop, both measured against the
    brute-force truth)."""
    import os

    from pyspark.sql import functions as F

    from datafusion_async_parquet_index_spark.operators.similarity import (
        _corpus_ivf_cells, _corpus_vectors, N_QUERIES_MOD, NPROBE,
        sim_bruteforce_topk, sim_ivfpq_topk, sim_pq_topk,
    )
    from tests.conftest import TESTDATA

    sf = os.path.join(os.path.dirname(TESTDATA.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip(f"companion sf0.01 dir not found at {sf}")

    # (a) candidate-count accounting: sum over queries of |probed cells'
    # members| must be < queries x corpus (what flat PQ scores)
    vec = _corpus_vectors(spark, sf)
    n_corpus = vec.count()
    n_queries = vec.filter(F.col("vec_id") % N_QUERIES_MOD == 0).count()
    cells = _corpus_ivf_cells(spark, sf, NPROBE)
    members = (cells.filter(F.col("probe_rank") == 1)
               .groupBy("cell").agg(F.count(F.lit(1)).alias("n")))
    probed = (cells.filter(F.col("vec_id") % N_QUERIES_MOD == 0)
              .join(members, "cell")
              .agg(F.sum("n").alias("total")).head()["total"])
    assert probed < n_queries * n_corpus, (
        "IVF cell pruning must shrink the ADC candidate set")

    # (b) recall: ivfpq loses at most 2 of the flat-PQ hits here
    truth = {(r.query_id, r.cand_id)
             for r in sim_bruteforce_topk(spark, sf).collect()}
    flat = {(r.query_id, r.cand_id)
            for r in sim_pq_topk(spark, sf).collect()}
    ivfpq = {(r.query_id, r.cand_id)
             for r in sim_ivfpq_topk(spark, sf).collect()}
    assert len(ivfpq) == len(flat)
    assert len(ivfpq & truth) >= len(flat & truth) - 2


def test_semantic_dedup_pairs_only_within_clusters(spark, sf_dir):
    """Every (kept, dup) pair must share a cluster, anchors must be the
    LOWEST qualifying cluster-mate (keep-first policy), and every
    reported cosine must clear the threshold; a duplicate id never
    appears as its own anchor."""
    from datafusion_async_parquet_index_spark.operators.dedup import (
        SEMDEDUP_TAU, dedup_semantic,
    )

    rows = dedup_semantic(spark, sf_dir).collect()
    assert rows, "corpus must yield at least one semantic near-dup"
    for r in rows:
        assert r.cosine >= SEMDEDUP_TAU
        assert r.kept_id < r.dup_id  # keep-first by id
    dups = {r.dup_id for r in rows}
    # one row per duplicate (the anchor window collapsed multiplicity)
    assert len(dups) == len(rows)
    # anchor minimality: an anchor that is ITSELF a duplicate must have
    # been marked against a strictly lower anchor — the greedy-by-id
    # chain always terminates at a kept (non-dup) document
    by_dup = {r.dup_id: r.kept_id for r in rows}
    for r in rows:
        if r.kept_id in by_dup:
            assert by_dup[r.kept_id] < r.kept_id


def test_hybrid_rrf_fuses_both_modalities(spark, sf_dir):
    """RRF sanity: scores bounded by 2/(k+1); a candidate at vector
    rank 1 AND text rank 1 would hit the bound; every fused row's score
    must be reproducible from SOME (vrank, trank) pair in [1, POOL] ∪
    {absent}; exactly HYBRID_TOPK rows per query with ranks 1..K."""
    from datafusion_async_parquet_index_spark.operators.similarity import (
        HYBRID_TOPK, RRF_K, RRF_POOL, sim_hybrid_rrf,
    )

    rows = sim_hybrid_rrf(spark, sf_dir).collect()
    assert rows
    per_q = {}
    valid = {round(a + b, 6)
             for a in [0.0] + [1.0 / (RRF_K + r) for r in range(1, RRF_POOL + 1)]
             for b in [0.0] + [1.0 / (RRF_K + r) for r in range(1, RRF_POOL + 1)]}
    for r in rows:
        assert 0 < r.rrf <= round(2.0 / (RRF_K + 1), 6)
        assert r.rrf in valid, r
        assert r.cand_id != r.query_id
        per_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, HYBRID_TOPK + 1)), (q, ranks)


def test_kmv_overlap_estimator_accuracy(spark):
    """KMV estimate sanity on a constructed corpus with KNOWN overlap:
    A = 2000 unique + 1000 shared distinct texts, B = 1000 unique +
    the same 1000 shared (Jaccard 0.25) — the k=64 sketches estimate
    |A∪B| = 4000 within 30% and |A∩B| = 1000 within 70% (the
    intersection estimator's deterministic-for-this-corpus draw has
    ~25% relative SD at J=0.25, k=64), and the exact column is
    exactly 1000."""
    import tempfile

    from pyspark.sql import functions as F

    from datafusion_async_parquet_index_spark.operators.dedup import (
        dedup_overlap_kmv,
    )

    d = tempfile.mkdtemp(prefix="kmv_overlap_")
    # doc_id % 2 == 0 -> A; % 3 == 0 -> B; %6==0 rows carry the SHARED
    # texts. Distinct text per (set, slot) via explicit labels.
    rows = spark.range(6_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 6 == 0,
               F.concat(F.lit("shared "), (F.col("id") / 6)
                        .cast("int").cast("string")))
        .when(F.col("id") % 2 == 0,
              F.concat(F.lit("only-a "), F.col("id").cast("string")))
        .when(F.col("id") % 3 == 0,
              F.concat(F.lit("only-b "), F.col("id").cast("string")))
        .otherwise(F.concat(F.lit("rest "), F.col("id").cast("string")))
        .alias("text"))
    rows.coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    r = dedup_overlap_kmv(spark, d).head()
    # 1000 multiples of 6 in [0, 6000), each with a distinct id//6
    # label -> exactly 1000 distinct shared texts
    assert r["inter_exact"] == 1000
    assert (r["n_a"], r["n_b"]) == (3000, 2000)
    union_true = r["n_a"] + r["n_b"] - 1000
    assert abs(r["union_est"] - union_true) < 0.30 * union_true
    assert abs(r["inter_est"] - 1000) < 0.70 * 1000
