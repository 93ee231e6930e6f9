"""Factorized ≡ direct equivalence for the adaptive duplicate-group
paths (minhash_pairs banding, verified_pairs exact-Jaccard,
dedup_semantic cosine pairs). The driver corpora at sf0.001–0.1 have
NO duplicate collapse, so the gate sweeps exercise only the direct
branch — these tests force BOTH branches over the same inputs (a
clique-heavy synthetic corpus and the real sf0.001 tables) and assert
identical rows, keeping the sf1-only factorized path from being
test-invisible."""

import os

import pytest
from pyspark.sql import functions as F

from datafusion_async_parquet_index_spark.operators import dedup as D


@pytest.fixture(scope="module")
def clique_docs(spark):
    """30 distinct texts x 10 exact copies + 50 unique tail docs:
    text collapse ~5.6, well past DUP_FACTOR_MIN."""
    words = ["spark", "line", "batch", "sort", "filter", "join",
             "scan", "group", "value", "table", "hash", "query"]
    rows = []
    doc_id = 0
    for u in range(30):
        text = " ".join(words[(u * 7 + i * 3) % len(words)]
                        for i in range(30 + u % 7))
        for _ in range(10):
            rows.append((doc_id, text))
            doc_id += 1
    for u in range(50):
        text = " ".join(words[(u * 5 + i) % len(words)]
                        for i in range(25 + u % 9)) + f" tail{u}"
        rows.append((doc_id, text))
        doc_id += 1
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_pairs_factorized_equals_direct(spark, clique_docs):
    direct = D.minhash_pairs(clique_docs, threshold=0.25, collapse=1.0)
    fact = D.minhash_pairs(clique_docs, threshold=0.25, collapse=10.0)
    a, b = _rows(direct), _rows(fact)
    assert a == b
    assert len(a) >= 30 * 45   # every clique contributes all its pairs


def test_verified_pairs_factorized_equals_direct(spark, clique_docs):
    cand = D.minhash_pairs(clique_docs, threshold=0.25)
    direct = D.verified_pairs(
        clique_docs, jaccard_threshold=0.3, cand=cand, collapse=1.0)
    fact = D.verified_pairs(
        clique_docs, jaccard_threshold=0.3, cand=cand, collapse=10.0)
    a, b = _rows(direct), _rows(fact)
    assert a == b
    # clique pairs verify at exact Jaccard 1.0
    ones = [r for r in a if r[2] == 1.0]
    assert len(ones) >= 30 * 45


def test_auto_collapse_probe_picks_factorized(spark, clique_docs):
    """Without a hint, the docs-based probe must MEASURE the clique
    collapse (so a probe regression to 'always direct' actually fails
    here) and still produce the same pairs."""
    measured = D._payload_collapse(clique_docs, F.col("text"))
    assert measured >= D.DUP_FACTOR_MIN, measured   # ~350/80 ≈ 4.4
    # a duplicate-free corpus must measure ~1 (the direct side)
    uniq = clique_docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" u"),
                 F.col("doc_id").cast("string")).alias("text"))
    assert D._payload_collapse(uniq, F.col("text")) == 1.0
    auto = D.minhash_pairs(clique_docs, threshold=0.25)
    direct = D.minhash_pairs(clique_docs, threshold=0.25, collapse=1.0)
    assert _rows(auto) == _rows(direct)


def test_semantic_factorized_equals_direct_on_corpus(spark,
                                                     monkeypatch):
    """Force BOTH dedup_semantic branches over the same sf0.001 corpus
    (singleton groups are a degenerate but valid factorization) and
    compare. Clears the session memos so each run re-reads the forced
    statistic."""
    from datafusion_async_parquet_index_spark.operators.util import (
        clear_caches,
    )
    sf = "/root/testdata/sf0.001"
    key = D._collapse_key(sf, "emb")
    outs = {}
    for name, forced in (("direct", 1.0), ("fact", 10.0)):
        monkeypatch.setitem(D._COLLAPSE_STATS, key, forced)
        clear_caches()
        outs[name] = _rows(D.dedup_semantic(spark, sf))
    clear_caches()
    assert outs["direct"] == outs["fact"]
    assert outs["direct"]   # non-empty: the corpus has near-dups


def test_minhash_factorized_on_corpus(spark, monkeypatch):
    """Force the factorized banding over the real sf0.001 documents
    (singleton groups) and compare with the direct branch."""
    from datafusion_async_parquet_index_spark.operators.util import (
        clear_caches,
    )
    sf = "/root/testdata/sf0.001"
    key = D._collapse_key(sf, "text")
    outs = {}
    for name, forced in (("direct", 1.0), ("fact", 10.0)):
        monkeypatch.setitem(D._COLLAPSE_STATS, key, forced)
        clear_caches()
        outs[name] = _rows(D.corpus_minhash_pairs(spark, sf, 0.25))
    clear_caches()
    assert outs["direct"] == outs["fact"]
    assert outs["direct"]


def test_collapse_stat_rederived_on_corpus_regeneration(spark, tmp_path):
    """ADVICE r9: a corpus regenerated IN PLACE at the same path must
    re-derive the collapse statistic — the cache is keyed by the table
    file's (size, mtime_ns) content identity, not path alone."""
    import shutil

    d = str(tmp_path / "regen")
    os.makedirs(d)
    dup = spark.createDataFrame(
        [(i, "same payload") for i in range(40)], "doc_id LONG, text STRING")
    dup.coalesce(1).write.mode("overwrite").parquet(d + "_tmp")
    part = next(f for f in sorted(os.listdir(d + "_tmp"))
                if f.endswith(".parquet"))
    os.replace(os.path.join(d + "_tmp", part),
               os.path.join(d, "documents.parquet"))
    shutil.rmtree(d + "_tmp")
    assert D._corpus_collapse(spark, d, "text") == 40.0
    # regenerate in place: all-distinct now
    uniq = spark.createDataFrame(
        [(i, f"payload {i}") for i in range(40)], "doc_id LONG, text STRING")
    uniq.coalesce(1).write.mode("overwrite").parquet(d + "_tmp")
    part = next(f for f in sorted(os.listdir(d + "_tmp"))
                if f.endswith(".parquet"))
    os.replace(os.path.join(d + "_tmp", part),
               os.path.join(d, "documents.parquet"))
    shutil.rmtree(d + "_tmp")
    assert D._corpus_collapse(spark, d, "text") == 1.0


def test_cluster_stats_all_unique_corpus(spark, tmp_path):
    """A corpus without a single near-duplicate pair has no clusters:
    the audit histogram is the one size-1 row holding every document
    with nothing removable — counts, never NULLs."""
    import shutil

    d = str(tmp_path / "uniq")
    os.makedirs(d)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{k}" for k in range(30))) for i in range(40)],
        "doc_id LONG, text STRING")
    docs.coalesce(1).write.mode("overwrite").parquet(d + "_tmp")
    part = next(f for f in sorted(os.listdir(d + "_tmp"))
                if f.endswith(".parquet"))
    os.replace(os.path.join(d + "_tmp", part),
               os.path.join(d, "documents.parquet"))
    shutil.rmtree(d + "_tmp")
    rows = D.dedup_cluster_stats(spark, d).collect()
    assert [tuple(r) for r in rows] == [(1, 40, 40, 0)]
