"""Corpus-curation operators: PII scrubbing, data-mixture rebalancing,
and exact-substring (word n-gram) duplication coverage.

These are the pipeline passes a training-data curation run applies
*between* raw ingest and tokenization — complementing ``text.py``'s
per-document metrics and ``dedup.py``'s whole-document dedup family:

- ``text_pii_scrub``: regex detection + redaction accounting for
  email / IPv4 / phone patterns.  The synthetic corpus contains no
  natural PII, so deterministic PII spans are derived from ``doc_id``
  (same posture as ``multimodal.synthesize_media``'s payloads: inputs
  still come from the driver's tables, the derivation is replayed
  exactly by the oracle).  Detection itself is ``regexp_count`` /
  ``regexp_replace`` — JVM-side, map-only, zero shuffle.
- ``text_domain_mixture``: rebalance the corpus toward a uniform
  per-language share (the low-resource upsampling-cap shape): a
  counts pass, an integer basis-point rate per language, and a
  deterministic hash-sample — all integer arithmetic so Spark and the
  oracle agree exactly, and reproducible on any cluster size.
- ``dedup_substring_ngram``: the word-n-gram approximation of exact
  substring dedup (the suffix-array method of "Deduplicating Training
  Data Makes Language Models Better", Lee et al. 2022, approximated
  with hashed 8-gram buckets): a position is duplicated when its
  8-gram occurs in >= 2 distinct documents; per-document coverage =
  duplicated positions / total positions.  One explode + one groupBy
  on the gram hash + one join back — linear in total n-grams, banded
  by the hash shuffle, no pairwise comparison anywhere.

All regexes stay inside the dialect subset Java regex and RE2 agree on
(character classes, bounded repetition, literal dots) so Spark and
DuckDB count identical matches.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hash60, sql_hash60, sql_tokens, tokens
from .util import read_table

# -- PII scrub --------------------------------------------------------------
# Deterministic dialect-safe patterns (char classes + bounded reps only).
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
IPV4_RE = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
PHONE_RE = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"

# doc_id -> which deterministic PII span gets appended (several docs get
# more than one; most get none — realistic sparse contamination)
_EMAIL_MOD, _PHONE_MOD, _IP_MOD = 7, 11, 13


def _with_pii(docs: DataFrame) -> DataFrame:
    """documents.text with deterministic PII spans appended for a
    doc_id-keyed subset — the contamination fixture both engines
    rebuild identically (no natural PII in the synthetic corpus)."""
    did = F.col("doc_id")
    email = F.when(
        did % _EMAIL_MOD == 0,
        F.concat(F.lit(" contact user"), did.cast("string"),
                 F.lit("@example.com"))).otherwise(F.lit(""))
    phone = F.when(
        did % _PHONE_MOD == 0,
        F.concat(F.lit(" call 555-01"), (did % 10).cast("string"),
                 F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0"))
        ).otherwise(F.lit(""))
    ip = F.when(
        did % _IP_MOD == 0,
        F.concat(F.lit(" from 10.0."), (did % 256).cast("string"),
                 F.lit("."), ((did * 7) % 256).cast("string"))
        ).otherwise(F.lit(""))
    return docs.select(
        "doc_id", "source",
        F.concat(F.col("text"), email, phone, ip).alias("text"))


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction accounting per source: match counts per
    pattern class, documents containing any PII, and the exact character
    mass removed by redaction.  Map-only until the tiny per-source
    aggregate; at 100 TB this is an embarrassingly parallel scan."""
    docs = _with_pii(read_table(spark, sf_dir, "documents"))
    low = F.lower(F.col("text"))
    n_email = F.regexp_count(low, F.lit(EMAIL_RE))
    n_ip = F.regexp_count(low, F.lit(IPV4_RE))
    n_phone = F.regexp_count(low, F.lit(PHONE_RE))
    # redact emails first (phone/ip substrings cannot overlap an email
    # remnant: the replacement token has no digits/@), then phones, ips
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(low, EMAIL_RE, "<EMAIL>"),
            PHONE_RE, "<PHONE>"),
        IPV4_RE, "<IP>")
    per_doc = docs.select(
        "source", n_email.alias("ne"), n_ip.alias("ni"), n_phone.alias("np"),
        (F.length(low) - F.length(redacted)).alias("delta"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("ne") + F.col("ni") + F.col("np") > 0, 1)
              .otherwise(0)).cast("bigint").alias("docs_with_pii"),
        F.sum("ne").cast("bigint").alias("emails"),
        F.sum("ni").cast("bigint").alias("ipv4s"),
        F.sum("np").cast("bigint").alias("phones"),
        F.sum("delta").cast("bigint").alias("chars_redacted"),
    )


# DuckDB twin: same augmentation, same regexes ('g' = all matches).
_PII_DOC_SQL = f"""
    SELECT doc_id, source,
           lower(text
                 || CASE WHEN doc_id % {_EMAIL_MOD} = 0
                         THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                         ELSE '' END
                 || CASE WHEN doc_id % {_PHONE_MOD} = 0
                         THEN ' call 555-01' || (doc_id % 10)::VARCHAR
                              || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                         ELSE '' END
                 || CASE WHEN doc_id % {_IP_MOD} = 0
                         THEN ' from 10.0.' || (doc_id % 256)::VARCHAR
                              || '.' || ((doc_id * 7) % 256)::VARCHAR
                         ELSE '' END) AS low
    FROM documents
"""

TEXT_PII_SQL = f"""
    WITH aug AS ({_PII_DOC_SQL}),
    per_doc AS (
        SELECT source,
               len(regexp_extract_all(low, '{EMAIL_RE}')) AS ne,
               len(regexp_extract_all(low, '{IPV4_RE}')) AS ni,
               len(regexp_extract_all(low, '{PHONE_RE}')) AS np,
               length(low) - length(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(low, '{EMAIL_RE}', '<EMAIL>', 'g'),
                           '{PHONE_RE}', '<PHONE>', 'g'),
                       '{IPV4_RE}', '<IP>', 'g')) AS delta
        FROM aug
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_pii,
           CAST(SUM(ne) AS BIGINT) AS emails,
           CAST(SUM(ni) AS BIGINT) AS ipv4s,
           CAST(SUM(np) AS BIGINT) AS phones,
           CAST(SUM(delta) AS BIGINT) AS chars_redacted
    FROM per_doc GROUP BY source
"""


# -- Data-mixture rebalancing ----------------------------------------------

MIX_BP_DENOM = 10_000  # sampling rates in integer basis points


def domain_mixture(
    docs: DataFrame, key: str = "lang",
    weights_bp: dict | None = None,
) -> DataFrame:
    """Rebalance a corpus toward target per-group mixture shares with a
    downsample-only cap (rate <= 1: under-represented groups are kept
    whole, never replicated).  ``weights_bp`` maps group value -> target
    share in basis points (sum <= MIX_BP_DENOM); ``None`` means a
    uniform share per observed group.  Three stages, all scale-safe:
      1. per-group counts (map-side combined aggregate),
      2. integer basis-point rate per group —
         rate_bp = min(DENOM, DENOM * target_n // group_n) where
         target_n = total * weight // DENOM (uniform: total // n_groups),
      3. deterministic hash sample: keep iff
         hash60(doc_id || '|mix') % DENOM < rate_bp
    The rates table is a handful of rows (broadcast); the sample pass is
    map-only; every quantity is integer so an oracle agrees exactly and
    the sample is reproducible on any cluster size."""
    counts = docs.groupBy(key).agg(F.count(F.lit(1)).alias("grp_n"))
    tot = counts.agg(F.sum("grp_n").alias("total"),
                     F.count(F.lit(1)).alias("n_groups"))
    with_tot = counts.crossJoin(F.broadcast(tot))
    if weights_bp is None:
        with_tot = with_tot.withColumn("_t", F.expr("total DIV n_groups"))
    else:
        if not weights_bp:
            raise ValueError(
                "weights_bp must be a non-empty mapping or None (uniform)")
        w = None
        for val, bp in sorted(weights_bp.items()):
            w = (F.when(F.col(key) == val, F.lit(int(bp))) if w is None
                 else w.when(F.col(key) == val, F.lit(int(bp))))
        with_tot = (
            with_tot.withColumn("_w", w.otherwise(F.lit(0)))
            .withColumn("_t", F.expr(f"(total * _w) DIV {MIX_BP_DENOM}")))
    # all-integer DIV: double division would lose exactness once
    # DENOM * target_n exceeds 2^53 (trivially reachable at 100 TB)
    rates = with_tot.select(
        key, "grp_n",
        F.least(F.lit(MIX_BP_DENOM).cast("long"),
                F.expr(f"({MIX_BP_DENOM} * _t) DIV grp_n"))
        .cast("long").alias("rate_bp"))
    kept = (
        docs.join(F.broadcast(rates), key)
        .filter(hash60(F.concat(F.col("doc_id").cast("string"), F.lit("|mix")))
                % MIX_BP_DENOM < F.col("rate_bp"))
        .groupBy(key).agg(F.count(F.lit(1)).alias("kept_docs"))
    )
    return (
        rates.join(kept, key, "left")
        .select(key,
                F.col("grp_n").cast("bigint").alias("orig_docs"),
                F.col("rate_bp").cast("bigint").alias("rate_bp"),
                F.coalesce(F.col("kept_docs"), F.lit(0)).cast("bigint")
                .alias("kept_docs"))
    )


def text_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform per-language rebalancing of the documents corpus — the
    oracle-checked entry point of ``domain_mixture`` (which also takes
    explicit target weights)."""
    return domain_mixture(read_table(spark, sf_dir, "documents"), "lang")


TEXT_MIXTURE_SQL = f"""
    WITH c AS (
        SELECT lang, COUNT(*) AS lang_n FROM documents GROUP BY lang
    ), t AS (
        SELECT SUM(lang_n) AS total, COUNT(*) AS n_langs FROM c
    ), r AS (
        SELECT lang, lang_n,
               LEAST({MIX_BP_DENOM},
                     ({MIX_BP_DENOM} * (total // n_langs)) // lang_n) AS rate_bp
        FROM c CROSS JOIN t
    ), k AS (
        SELECT d.lang, COUNT(*) AS kept_docs
        FROM documents d JOIN r USING (lang)
        WHERE {sql_hash60("d.doc_id::VARCHAR || '|mix'")}
              % {MIX_BP_DENOM} < rate_bp
        GROUP BY d.lang
    )
    SELECT r.lang,
           CAST(lang_n AS BIGINT) AS orig_docs,
           CAST(rate_bp AS BIGINT) AS rate_bp,
           CAST(COALESCE(kept_docs, 0) AS BIGINT) AS kept_docs
    FROM r LEFT JOIN k USING (lang)
"""


def text_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE (α = 0.5) mixture resampling across sources — the
    multilingual-LM rebalancing step (XLM-R's exponent-smoothed
    sampling, Conneau et al. 2020; UniMax is the capped refinement):
    sample probability q_s ∝ n_s^α flattens the source distribution so
    head sources shrink and tail sources keep (nearly) everything.
    Per-source keep rate = min(1, q_s / p_s) — sampling without
    replacement, so upsampling caps at keeping all (the UniMax-style
    cap); with α = 1/2 that is N / (√n_s · Σ√n_t).

    Determinism contract (what lets the oracle pin every number): the
    √ is the integer floor-sqrt (exact in both engines for any
    realistic count), the rate is pure integer arithmetic in basis
    points of MIX_BP_DENOM, and per-document acceptance is the shared
    hash60 coin — same rows kept on every run, every engine, any
    cluster size. Plan shape: one map-side-combined count aggregate,
    a scalar broadcast, a tiny rates broadcast joined back, one
    filtered recount — no shuffle of the corpus beyond the two
    aggregates."""
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    isqrt = F.floor(F.sqrt(F.col("n_docs"))).cast("long")
    tot = counts.agg(F.sum("n_docs").alias("n_total"),
                     F.sum(isqrt).alias("sum_sqrt"))
    rates = (counts.crossJoin(F.broadcast(tot))
             .withColumn("num", F.lit(MIX_BP_DENOM) * F.col("n_total"))
             .withColumn("den", isqrt * F.col("sum_sqrt"))
             .select("source", "n_docs",
                     F.least(F.lit(MIX_BP_DENOM).cast("long"),
                             F.expr("num div den")).alias("keep_bp")))
    coin = hash60(F.concat(F.col("doc_id").cast("string"),
                           F.lit("|tsamp"))) % MIX_BP_DENOM
    kept = (docs.join(F.broadcast(rates), "source")
            .filter(coin < F.col("keep_bp"))
            .groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")))
    return (rates.join(kept, "source", "left")
            .select("source",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("keep_bp").cast("long").alias("keep_bp"),
                    F.coalesce(F.col("n_kept"), F.lit(0))
                    .cast("long").alias("n_kept")))


TEXT_TSAMP_SQL = f"""
    WITH c AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), t AS (
        SELECT SUM(n_docs) AS n_total,
               SUM(CAST(FLOOR(SQRT(n_docs)) AS BIGINT)) AS sum_sqrt
        FROM c
    ), r AS (
        SELECT source, n_docs,
               LEAST({MIX_BP_DENOM},
                     ({MIX_BP_DENOM} * n_total)
                     // (CAST(FLOOR(SQRT(n_docs)) AS BIGINT) * sum_sqrt))
                   AS keep_bp
        FROM c CROSS JOIN t
    ), k AS (
        SELECT d.source, COUNT(*) AS n_kept
        FROM documents d JOIN r USING (source)
        WHERE {sql_hash60("d.doc_id::VARCHAR || '|tsamp'")}
              % {MIX_BP_DENOM} < keep_bp
        GROUP BY d.source
    )
    SELECT r.source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(keep_bp AS BIGINT) AS keep_bp,
           CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept
    FROM r LEFT JOIN k USING (source)
"""


# -- Exact-substring (word n-gram) duplication coverage ---------------------

NGRAM_W = 8  # word n-gram width (Lee et al. use 50 BPE tokens; 8 words
             # gives comparable span granularity on this corpus)


def _gram_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g): the exploded word-8-gram hash table of the corpus,
    cached per (session, corpus).  The md5-per-gram hashing dominates
    every n-gram operator, and BOTH join sides of the coverage query,
    the contamination probe, and repeat bench calls read this same
    table — one computation serves them all.  The scan is spread
    across cores first (a small corpus parquet is one row group = one
    partition; no-op at scale)."""
    from .util import memoized, spread_for_compute, track_cache

    def build():
        docs = spread_for_compute(read_table(spark, sf_dir, "documents"))
        toks = tokens(F.col("text"))
        grams = F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.lit(1), F.size(toks) - (NGRAM_W - 1))),
            lambda i: hash60(F.concat_ws(" ", F.slice(toks, i, NGRAM_W))))
        return track_cache(
            docs.select("doc_id", F.explode(grams).alias("g")))

    return memoized(spark, "gram_positions", sf_dir, build)


def dedup_substring_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage via hashed word 8-grams:
    coverage = positions whose 8-gram occurs in >= 2 distinct documents
    / total positions.  The scan explodes (doc, position, gram-hash),
    one groupBy(gram) counts distinct documents (map-side combined), a
    hash join marks duplicated positions, and a per-doc aggregate
    finishes.  Linear in corpus n-grams — the scalable approximation of
    suffix-array exact-substring dedup; no pairwise joins."""
    pos = _gram_positions(spark, sf_dir)
    gram_docs = pos.groupBy("g").agg(
        F.count_distinct("doc_id").alias("ndocs"))
    marked = pos.join(gram_docs, "g")
    return (
        marked.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
             F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
             .cast("bigint").alias("n_dup"))
        .select("doc_id", "n_grams", "n_dup",
                F.round(F.col("n_dup") / F.col("n_grams"), 4)
                .alias("dup_coverage"))
    )


_TOKS = sql_tokens("text")

DEDUP_SUBSTRING_SQL = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), pos AS (
        SELECT doc_id,
               unnest([{sql_hash60(f"array_to_string(t[i:i+{NGRAM_W - 1}], ' ')")}
                       for i in range(1, greatest(1, len(t) - {NGRAM_W - 1}) + 1)])
                   AS g
        FROM toks
    ), gd AS (
        SELECT g, COUNT(DISTINCT doc_id) AS ndocs FROM pos GROUP BY g
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           ROUND(CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS dup_coverage
    FROM pos JOIN gd USING (g)
    GROUP BY doc_id
"""


# -- Benchmark decontamination ----------------------------------------------

BENCH_MOD, BENCH_REM = 17, 3  # doc_id % 17 == 3 stands in for the eval set


def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (the GPT-3-style n-gram overlap
    check): for every *benchmark* document, the fraction of its word
    8-grams that also occur in any *training* document.  A benchmark
    doc with high overlap leaked into training data and must be
    excluded from evaluation (or the training doc dropped).  Shape:
    the training side reduces to a DISTINCT gram-hash set (map-side
    combined), the benchmark grams probe it with one equi-join —
    cost is linear in corpus n-grams and the probe side is
    benchmark-sized, never a doc×doc comparison.  Shares the cached
    gram-position table with dedup_substring_ngram (the bench flag is
    derived from doc_id)."""
    pos = _gram_positions(spark, sf_dir).withColumn(
        "bench", F.col("doc_id") % BENCH_MOD == BENCH_REM)
    train_grams = (pos.filter(~F.col("bench"))
                   .select("g").distinct())
    bench_pos = pos.filter(F.col("bench"))
    hits = (bench_pos.join(train_grams.withColumn("_hit", F.lit(1)),
                           "g", "left"))
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
             F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
             .cast("bigint").alias("n_leaked"))
        .select("doc_id", "n_grams", "n_leaked",
                F.round(F.col("n_leaked") / F.col("n_grams"), 4)
                .alias("leak_frac"))
    )


DEDUP_CONTAMINATION_SQL = f"""
    WITH toks AS (
        SELECT doc_id, doc_id % {BENCH_MOD} = {BENCH_REM} AS bench,
               {_TOKS} AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, bench,
               unnest([{sql_hash60(f"array_to_string(t[i:i+{NGRAM_W - 1}], ' ')")}
                       for i in range(1, greatest(1, len(t) - {NGRAM_W - 1}) + 1)])
                   AS g
        FROM toks
    ), train AS (
        SELECT DISTINCT g FROM pos WHERE NOT bench
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaked,
           ROUND(CAST(SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS leak_frac
    FROM pos LEFT JOIN train t USING (g)
    WHERE bench
    GROUP BY doc_id
"""


# -- Gopher-style repetition stats ------------------------------------------


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher quality-filter
    family, adapted to this corpus's newline-free text): repeated-token
    fraction (1 - distinct/total), top-token fraction (count of the
    most frequent token / total), and repeated-bigram fraction.  All
    array expressions, map-only, zero shuffle — the classic cheap
    filter pass that runs before any model-based scoring."""
    from .util import spread_for_compute

    docs = spread_for_compute(read_table(spark, sf_dir, "documents"))
    # materialize the token array once; downstream lambdas reference
    # the attribute (same inlining hazard as the winnowing operator)
    tk = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    # top-token count via sort + linear run-length fold — O(n log n)
    # per doc and still map-only; the naive count-per-distinct-token
    # form is O(distinct x n) (measured 6.5 s -> this shape at sf0.1)
    srt = F.array_sort(toks)
    top_cnt = F.aggregate(
        srt,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))).alias("best")),
        lambda acc: acc["best"])
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))
    nb = F.size(bigrams)
    nb_distinct = F.size(F.array_distinct(bigrams))
    return tk.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.round((n - n_distinct) / F.greatest(n, F.lit(1)), 4)
        .alias("rep_token_frac"),
        F.round(top_cnt / F.greatest(n, F.lit(1)), 4)
        .alias("top_token_frac"),
        F.round((nb - nb_distinct) / F.greatest(nb, F.lit(1)), 4)
        .alias("rep_bigram_frac"),
    )


# The oracle computes the same numbers through DuckDB's natural plan
# (unnest + group-by for the top-token count) rather than mirroring the
# Spark-side array fold — the VALUES are identical, which is the point
# of a cross-engine check.
TEXT_REPETITION_SQL = f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), top AS (
        SELECT doc_id, MAX(c) AS top_cnt FROM (
            SELECT doc_id, tok, COUNT(*) AS c FROM (
                SELECT doc_id, unnest(toks) AS tok FROM t) u
            GROUP BY doc_id, tok) g
        GROUP BY doc_id
    ), b AS (
        SELECT doc_id, len(toks) AS n,
               len(list_distinct(toks)) AS nd,
               [array_to_string(toks[i:i+1], ' ')
                for i in range(1, greatest(1, len(toks) - 1) + 1)] AS bg
        FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           ROUND(CAST(n - nd AS DOUBLE) / greatest(n, 1), 4)
               AS rep_token_frac,
           ROUND(CAST(COALESCE(top_cnt, 0) AS DOUBLE) / greatest(n, 1), 4)
               AS top_token_frac,
           ROUND(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
                 / greatest(len(bg), 1), 4) AS rep_bigram_frac
    FROM b LEFT JOIN top USING (doc_id)
"""


# -- Winnowing fingerprints -------------------------------------------------

WINNOW_W = 8  # winnowing window over consecutive k-gram hashes


def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every character 5-gram, slide a window of
    WINNOW_W consecutive hashes, keep each window's minimum — the
    selected minima form a fingerprint set with guaranteed density
    (>= 1 per window, expected ~2/(w+1) of all grams) that two
    documents sharing any sufficiently long substring must overlap on.
    Map-only, zero shuffle: the per-doc summary (windows, distinct
    fingerprints, min/max) is what a plagiarism / near-dup indexer
    persists per document.

    The hashed k-gram array comes from the corpus's shared
    hashed-shingle artifact (dedup._corpus_hashed — the same
    md5-per-shingle pass the MinHash/shingle-set caches derive from),
    and the sliding-window min runs vectorized in numpy inside one
    mapInPandas (guide §4.2): the previous JVM higher-order-expression
    form re-evaluated array_min over an 8-element slice copy per
    window — O(windows x w) interpreted Catalyst calls per row — where
    numpy's stride-tricks view does the identical integer mins in C.
    Exactness: pure int64 min/distinct over the same hash values, no
    floats anywhere (pinned by tests/test_winnow_numpy_parity.py
    against the verbatim old expression)."""
    from .dedup import _corpus_hashed

    hashed = _corpus_hashed(spark, sf_dir)
    return hashed.mapInPandas(_winnow_batches, schema=(
        "doc_id long, n_windows long, n_fingerprints long, "
        "min_fp long, max_fp long"))


def _winnow_batches(batches):
    """The winnowing kernel (module-level so the edge-doc parity tests
    exercise the REAL operator code over hand-built shapes)."""
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    for pdf in batches:
        out = {"doc_id": pdf["doc_id"],
               "n_windows": [], "n_fingerprints": [],
               "min_fp": [], "max_fp": []}
        for hs in pdf["hs"]:
            if hs is None:
                # NULL text: _hashed_shingles emits a null hs array.
                # The old expression pipeline saw hs = [NULL] (one
                # NULL shingle: substring(NULL,..) under a
                # greatest(1, ..)-floored sequence), i.e. ONE window
                # whose min is NULL and one distinct fingerprint —
                # (1, 1, NULL, NULL). Match that instead of crashing
                # in np.asarray (ADVICE r14 #1).
                out["n_windows"].append(1)
                out["n_fingerprints"].append(1)
                out["min_fp"].append(None)
                out["max_fp"].append(None)
                continue
            a = np.asarray(hs, dtype=np.int64)
            if a.size >= WINNOW_W:
                wins = sliding_window_view(a, WINNOW_W).min(axis=1)
            else:
                # slice(hs, 1, W) of a shorter array is the whole
                # array — one window, its min
                wins = a.min(keepdims=True) if a.size else a
            fps = np.unique(wins)
            out["n_windows"].append(wins.size)
            out["n_fingerprints"].append(fps.size)
            out["min_fp"].append(fps[0] if fps.size else None)
            out["max_fp"].append(fps[-1] if fps.size else None)
        yield pd.DataFrame(out)


def _winnow_sql() -> str:
    from ..functions import MINHASH_P, sql_char_shingles, sql_hash60

    hs = (f"list_transform({sql_char_shingles('text')}, "
          f"s -> {sql_hash60('s')} % {MINHASH_P})")
    return f"""
        WITH h AS (
            SELECT doc_id, {hs} AS hs FROM documents
        ), w AS (
            SELECT doc_id,
                   [list_min(hs[i:i+{WINNOW_W - 1}])
                    for i in range(1, greatest(1, len(hs) - {WINNOW_W - 1}) + 1)]
                       AS wins
            FROM h
        )
        SELECT doc_id,
               CAST(len(wins) AS BIGINT) AS n_windows,
               CAST(len(list_distinct(wins)) AS BIGINT) AS n_fingerprints,
               list_min(list_distinct(wins)) AS min_fp,
               list_max(list_distinct(wins)) AS max_fp
        FROM w
    """


# -- CCNet-style quality bucketing ------------------------------------------

N_QUALITY_BUCKETS = 3  # head / middle / tail, per CCNet


def text_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality tiers: per language, rank documents by the
    unigram-LM negative log likelihood and cut into head/middle/tail
    terciles with NTILE (CCNet, Wenzek et al. 2020 — perplexity
    terciles per language drive keep/filter decisions).  One window per
    language partition over the already-computed nll scores;
    deterministic ordering (nll is rounded to 4 decimals, ties broken
    by doc_id) so the tercile boundaries agree across engines."""
    from pyspark.sql import Window

    from .util import memoized, track_cache

    # the corpus-wide NLL pipeline (token explode + vocab join) now has
    # two consumers (its own query entry and this one) — cache its tiny
    # per-doc output per (session, corpus) instead of recomputing
    from .text import text_unigram_logprob
    nll = memoized(spark, "unigram_nll", sf_dir, lambda: track_cache(
        text_unigram_logprob(spark, sf_dir)))
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = nll.join(docs, "doc_id")
    w = Window.partitionBy("lang").orderBy(F.asc("nll"), F.asc("doc_id"))
    b = j.withColumn("bucket", F.ntile(N_QUALITY_BUCKETS).over(w))
    return b.groupBy("lang", F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("nll").alias("min_nll"),
        F.max("nll").alias("max_nll"),
    )


def _quality_buckets_sql() -> str:
    from .text import TEXT_ORACLE

    return f"""
        WITH nll AS MATERIALIZED ({TEXT_ORACLE["text_unigram_logprob"]}),
        j AS (
            SELECT d.lang, n.doc_id, n.nll
            FROM nll n JOIN documents d USING (doc_id)
        ), b AS (
            SELECT lang, nll,
                   NTILE({N_QUALITY_BUCKETS}) OVER (
                       PARTITION BY lang
                       ORDER BY nll ASC, doc_id ASC) AS bucket
            FROM j
        )
        SELECT lang, CAST(bucket AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(nll) AS min_nll,
               MAX(nll) AS max_nll
        FROM b GROUP BY lang, bucket
    """


# snapshot simulation: "previous" = doc_id % 10 != 0 (10% of docs are
# new arrivals), with text reversed for doc_id % 7 == 0 (simulated
# edits); "current" = doc_id % 13 != 0 (docs retired since the prior
# snapshot). Deterministic, so the oracle rebuilds both sides exactly.
SNAP_NEW_MOD = 10
SNAP_EDIT_MOD = 7
SNAP_RETIRE_MOD = 13


def dedup_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning audit — the diff a pipeline owner reads after
    every corpus rebuild: FULL OUTER JOIN of two snapshots on doc_id,
    rows classified added / removed / changed / unchanged by comparing
    content fingerprints (md5 of text). One hash join on the id plus a
    per-source aggregate — no content shuffles beyond the 32-char
    fingerprints, linear at any corpus scale. The snapshots are
    deterministic slices of the documents table (constants above), so
    the DuckDB oracle reconstructs the identical diff."""
    docs = read_table(spark, sf_dir, "documents")
    prev = docs.filter(F.col("doc_id") % SNAP_NEW_MOD != 0).select(
        "doc_id",
        F.md5(F.when(F.col("doc_id") % SNAP_EDIT_MOD == 0,
                     F.reverse(F.col("text")))
              .otherwise(F.col("text"))).alias("prev_fp"))
    cur = docs.filter(F.col("doc_id") % SNAP_RETIRE_MOD != 0).select(
        "doc_id", F.md5(F.col("text")).alias("cur_fp"))
    j = cur.join(prev, "doc_id", "full_outer")
    status = (
        F.when(F.col("prev_fp").isNull(), F.lit("added"))
        .when(F.col("cur_fp").isNull(), F.lit("removed"))
        .when(F.col("cur_fp") != F.col("prev_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged")))
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


DEDUP_SNAPSHOT_SQL = f"""
    WITH prev AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % {SNAP_EDIT_MOD} = 0
                        THEN reverse(text) ELSE text END) AS prev_fp
        FROM documents WHERE doc_id % {SNAP_NEW_MOD} != 0
    ), cur AS (
        SELECT doc_id, md5(text) AS cur_fp
        FROM documents WHERE doc_id % {SNAP_RETIRE_MOD} != 0
    ), j AS (
        SELECT CASE WHEN prev_fp IS NULL THEN 'added'
                    WHEN cur_fp IS NULL THEN 'removed'
                    WHEN cur_fp != prev_fp THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM cur FULL OUTER JOIN prev USING (doc_id)
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM j GROUP BY status
"""


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", Table A1 — public rule set), re-cut for
# this corpus's ranges so every rule actually discriminates here.
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 80
GOPHER_MIN_MWL = 4     # mean word length lower bound (chars/word)
GOPHER_MAX_MWL = 10
GOPHER_MIN_ALPHA_BP = 8000   # >= 80% of words contain a letter
GOPHER_MIN_STOPWORDS = 2     # >= 2 distinct stopwords present


def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter: per-document rule flags
    (word-count bounds, mean-word-length bounds, alphabetic-word
    fraction, distinct-stopword floor) rolled up per language into
    per-rule failure counts + the pass-all count — the go/no-go report
    a curation run reads before dropping documents.  Every comparison
    is exact-integer (mean word length as a cross-multiplication,
    alpha fraction in basis points), so the oracle agrees bit-for-bit.
    Map-only per document (native split/filter/length — no UDFs), one
    tiny (lang)-keyed aggregate: linear scale-out, shuffle moves one
    row per (partition, lang).  Word boundaries are raw whitespace
    (``\\s+`` means the same ASCII class in Java regex and DuckDB's
    RE2 for this corpus); stopword hits reuse the shared normalized
    tokenizer so the rule set composes with text.py's metrics."""
    from ..functions import STOPWORDS, tokens

    docs = read_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    n_words = F.size(ws)
    sum_chars = F.length(F.concat_ws("", ws))
    n_alpha = F.size(F.filter(ws, lambda t: t.rlike("[a-zA-Z]")))
    n_stop = F.size(F.array_distinct(F.filter(
        tokens(F.col("text")), lambda t: t.isin(*STOPWORDS))))
    per_doc = docs.select(
        "lang",
        ((n_words >= GOPHER_MIN_WORDS)
         & (n_words <= GOPHER_MAX_WORDS)).alias("words_ok"),
        ((sum_chars >= GOPHER_MIN_MWL * n_words)
         & (sum_chars <= GOPHER_MAX_MWL * n_words)).alias("mwl_ok"),
        (n_alpha * 10000 >= GOPHER_MIN_ALPHA_BP * n_words).alias("alpha_ok"),
        (n_stop >= GOPHER_MIN_STOPWORDS).alias("stop_ok"),
    )
    fail = lambda c: F.sum(F.when(~F.col(c), 1).otherwise(0))  # noqa: E731
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        fail("words_ok").cast("long").alias("fail_word_count"),
        fail("mwl_ok").cast("long").alias("fail_mean_word_len"),
        fail("alpha_ok").cast("long").alias("fail_alpha_frac"),
        fail("stop_ok").cast("long").alias("fail_stopwords"),
        F.sum(F.when(F.col("words_ok") & F.col("mwl_ok")
                     & F.col("alpha_ok") & F.col("stop_ok"), 1)
              .otherwise(0)).cast("long").alias("pass_all"),
    )


def _gopher_sql() -> str:
    from ..functions import sql_stopword_list, sql_tokens

    stops = sql_stopword_list()
    toks = sql_tokens("text")
    return rf"""
        WITH m AS (
            SELECT lang,
                   len(list_filter(regexp_split_to_array(text, '\s+'),
                                   t -> t != '')) AS n_words,
                   list_sum(list_transform(
                       list_filter(regexp_split_to_array(text, '\s+'),
                                   t -> t != ''),
                       t -> length(t))) AS sum_chars,
                   len(list_filter(regexp_split_to_array(text, '\s+'),
                       t -> t != '' AND regexp_matches(t, '[a-zA-Z]')))
                       AS n_alpha,
                   len(list_distinct(list_filter({toks},
                       t -> t IN {stops}))) AS n_stop
            FROM documents
        ), r AS (
            SELECT lang,
                   (n_words >= {GOPHER_MIN_WORDS}
                    AND n_words <= {GOPHER_MAX_WORDS}) AS words_ok,
                   (sum_chars >= {GOPHER_MIN_MWL} * n_words
                    AND sum_chars <= {GOPHER_MAX_MWL} * n_words) AS mwl_ok,
                   (n_alpha * 10000 >= {GOPHER_MIN_ALPHA_BP} * n_words)
                       AS alpha_ok,
                   (n_stop >= {GOPHER_MIN_STOPWORDS}) AS stop_ok
            FROM m
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN NOT words_ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS fail_word_count,
               CAST(SUM(CASE WHEN NOT mwl_ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS fail_mean_word_len,
               CAST(SUM(CASE WHEN NOT alpha_ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS fail_alpha_frac,
               CAST(SUM(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS fail_stopwords,
               CAST(SUM(CASE WHEN words_ok AND mwl_ok AND alpha_ok
                             AND stop_ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS pass_all
        FROM r GROUP BY lang
    """


CURATION_QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_pii_scrub": text_pii_scrub,
    "text_domain_mixture": text_domain_mixture,
    "dedup_substring_ngram": dedup_substring_ngram,
    "text_quality_buckets": text_quality_buckets,
    "text_winnow_fingerprint": text_winnow_fingerprint,
    "dedup_contamination": dedup_contamination,
    "text_repetition_stats": text_repetition_stats,
    "dedup_snapshot_diff": dedup_snapshot_diff,
    "text_gopher_filter": text_gopher_filter,
    "text_temperature_resample": text_temperature_resample,
}

CURATION_ORACLE: Dict[str, str] = {
    "text_pii_scrub": TEXT_PII_SQL,
    "text_domain_mixture": TEXT_MIXTURE_SQL,
    "dedup_substring_ngram": DEDUP_SUBSTRING_SQL,
    "text_quality_buckets": _quality_buckets_sql(),
    "text_winnow_fingerprint": _winnow_sql(),
    "dedup_contamination": DEDUP_CONTAMINATION_SQL,
    "text_repetition_stats": TEXT_REPETITION_SQL,
    "dedup_snapshot_diff": DEDUP_SNAPSHOT_SQL,
    "text_gopher_filter": _gopher_sql(),
    "text_temperature_resample": TEXT_TSAMP_SQL,
}
