"""Training-corpus curation operators — SURVEY.md §2.12 extras (round 3).

The five pipeline stages every large-scale LLM training-data build runs
between "raw crawl" and "tokenizer": PII scrubbing, benchmark
decontamination, temperature (language-balance) sampling, sequence packing,
and Gopher-style quality filtering — plus the LSH-bucketed embedding
near-dup path that replaces `llm_dedup_embed`'s label blocking at 100 TB.

Reference role: CDCgov/SDP is the ingest platform for surveillance text
streams (/root/reference/README.md:2,4); these are the corpus-hygiene
operators its data consumers need, re-expressed Spark-first.

Scale notes:
- PII scrub / quality score: per-row codegen regex & higher-order lambdas —
  no shuffle at all, whole-stage codegen end to end.
- Decontamination: the benchmark n-gram set is tiny (the eval suites you
  protect are MBs, not TBs) — broadcast it; the corpus side streams through
  one explode + broadcast-hash semi-join. At 100 TB swap the broadcast set
  for a bloom filter pushed into the scan; the plan shape is unchanged.
- Temperature sampling: per-language rates come from one 5-row aggregate
  (broadcast); the keep/drop decision is a deterministic per-row hash
  compare — no shuffle of the corpus.
- Packing: partition-local (shard = hash % N), never a global sort — each
  shard packs its own stream, which is exactly how a 1000-executor packer
  runs; the window is per-shard so state stays bounded.
- Embedding near-dup: multi-probe hyperplane LSH — candidates only within
  (table, bucket ± 1 bit), never all-pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sdp_spark.functions.num import DEC, KNUTH, KNUTH_MOD, dround
from sdp_spark.operators.llm import (
    _docs_tokens,
    _emb_normed,
    _hyperplanes,
    _md5_hex_fold_sql,
    _shingles,
)
from sdp_spark.memo import memo
from sdp_spark.plans.registry import register
from sdp_spark.sources.fixtures import table, wide_table

_SEC = "2.12 llm ops (corpus curation)"

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "555-[0-9]{4}"


@register(
    "llm_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END
               AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS INTEGER) AS n_phones
    FROM aug
    """,
    section=_SEC,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace emails/phone numbers with typed placeholders
    and count redactions per document. The fixture text is PII-free word
    soup, so deterministic synthetic PII is appended first — the oracle
    then genuinely pins the redaction regexes (Java regex and RE2 agree on
    this subset: character classes, bounded repetition, no backrefs).
    Pure per-row codegen — the 100 TB plan is a single scan, no shuffle."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cc admin@example.org")).otherwise(F.lit("")),
    )
    d = d.select("doc_id", raw.alias("raw"))
    scrub = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        scrub.alias("scrubbed"),
        F.regexp_count(F.col("raw"), F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

_NGRAM_N = 8

# Word 8-grams cached once per (app, sf_dir): the decontamination plan
# consumes the gram relation from two subtrees (benchmark side + training
# side) — uncached, the tokenize+explode+concat pipeline runs twice per
# invocation.
@memo
def _cached_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # wide_table: the n-gram explode below is the CPU hot spot of the
    # whole decontamination plan — see fixtures.wide_table.
    toks = wide_table(spark, sf_dir, "documents").withColumn("t", F.split("text", " "))
    return (
        toks.filter(F.size("t") >= _NGRAM_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_NGRAM_N - 1)),
                    lambda i: F.concat_ws(" ", F.slice("t", i, _NGRAM_N)),
                )
            ).alias("ngram"),
        )
        .cache()
    )


@register(
    "llm_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, len(t) - {_NGRAM_N - 1}),
                                   i -> array_to_string(t[i:i + {_NGRAM_N - 1}], ' '))) AS ngram
      FROM toks WHERE len(t) >= {_NGRAM_N}
    ), bench AS (
      SELECT DISTINCT ngram FROM grams WHERE doc_id % 97 = 0
    ), contam AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN bench USING (ngram)
      WHERE g.doc_id % 97 <> 0
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
           CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM documents d LEFT JOIN contam c USING (doc_id)
    WHERE d.doc_id % 97 <> 0
    GROUP BY d.source
    """,
    section=_SEC,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM recipe): drop training
    documents sharing any word 8-gram with the held-out benchmark set
    (stand-in: doc_id % 97 == 0). The benchmark n-gram set is broadcast —
    eval suites are MBs; the corpus side is one explode + broadcast-hash
    join, never a shuffle of the 100 TB corpus (swap the broadcast for a
    scan-pushed bloom filter at extreme benchmark sizes). Output is the
    per-source contamination accounting a curation report needs."""
    d = table(spark, sf_dir, "documents")
    grams = _cached_grams(spark, sf_dir)
    bench = F.broadcast(
        grams.filter(F.col("doc_id") % 97 == 0).select("ngram").distinct()
    )
    contam = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(bench, "ngram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    train = d.filter(F.col("doc_id") % 97 != 0).join(contam, "doc_id", "left")
    return train.groupBy("source").agg(
        F.count("*").alias("n_train"),
        F.sum(F.when(F.col("is_contam").isNotNull(), 1).otherwise(0)).alias("n_contam"),
        F.sum(F.when(F.col("is_contam").isNull(), 1).otherwise(0)).alias("n_clean"),
    )


# ---------------------------------------------------------------------------
# Temperature sampling
# ---------------------------------------------------------------------------

_TEMP_ALPHA_SQRT = True  # w_l = sqrt(count_l): alpha = 0.5 temperature
_TEMP_TARGET_FRAC = 0.5  # corpus-wide keep budget


@register(
    "llm_sample_temperature",
    oracle=f"""
    WITH c AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), t AS (
      SELECT SUM(n_docs) AS total, SUM(sqrt(n_docs)) AS sum_w FROM c
    ), r AS (
      SELECT lang, n_docs,
             ROUND(LEAST(1.0, (sqrt(n_docs) / sum_w) * ({_TEMP_TARGET_FRAC} * total) / n_docs), 6)
               AS rate
      FROM c, t
    ), k AS (
      SELECT d.lang
      FROM documents d JOIN r USING (lang)
      WHERE CAST((d.doc_id * {KNUTH}) % {KNUTH_MOD} AS DOUBLE) / {KNUTH_MOD} < rate
    )
    SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(kc.n_kept, 0) AS BIGINT) AS n_kept, r.rate
    FROM r LEFT JOIN (SELECT lang, COUNT(*) AS n_kept FROM k GROUP BY lang) kc USING (lang)
    """,
    section=_SEC,
)
def llm_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling (multilingual balance, alpha = 0.5): rare
    languages are up-weighted, dominant ones down-sampled, under a fixed
    corpus-wide keep budget. Per-language rates come from ONE tiny
    aggregate (5 rows, broadcast back); the keep decision is the same
    deterministic Knuth-hash compare as sample_systematic — reproducible
    across runs AND engines, no RNG state, no shuffle of the corpus.
    Rates are rounded to 6 dp before the compare so the Spark and DuckDB
    float folds cannot diverge at the keep boundary."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("total"), F.sum(F.sqrt("n_docs")).alias("sum_w")
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.sqrt("n_docs") / F.col("sum_w"))
                    * (F.lit(_TEMP_TARGET_FRAC) * F.col("total"))
                    / F.col("n_docs"),
                ),
                6,
            ),
        )
        .select("lang", "n_docs", "rate")
    )
    frac = ((F.col("doc_id") * F.lit(KNUTH)) % F.lit(KNUTH_MOD)).cast("double") / F.lit(
        KNUTH_MOD
    )
    kept = (
        d.join(F.broadcast(rates), "lang")
        .filter(frac < F.col("rate"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "rate",
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048  # tokens per packed training sequence
_PACK_SHARDS = 8  # parallel packer shards (executors at scale)


@register(
    "llm_pack_sequences",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS tok_cnt,
             (doc_id * {KNUTH}) % {KNUTH_MOD} AS h,
             CAST((doc_id * {KNUTH}) % {KNUTH_MOD} % {_PACK_SHARDS} AS INTEGER) AS shard
      FROM documents
    ), o AS (
      SELECT doc_id, tok_cnt, shard,
             CAST(COALESCE(SUM(tok_cnt) OVER (PARTITION BY shard ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      FROM d
    )
    SELECT doc_id, tok_cnt, shard,
           CAST(shard * 1000000 + FLOOR(start_off / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id
    FROM o
    """,
    section=_SEC,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: concatenate documents in deterministic
    pseudo-shuffle order and cut every _PACK_BUDGET tokens; a document's
    bin is where its first token lands (the streaming-concat packing used
    by GPT-style pipelines). Packing is PARTITION-LOCAL: docs hash into
    _PACK_SHARDS independent shards and each shard packs its own stream —
    no global sort, bounded window state, embarrassingly parallel at 1000
    executors (shard count scales with the cluster; bin ids stay stable
    because shard is in the high bits). Pure integer window arithmetic —
    exact across engines."""
    d = (
        table(spark, sf_dir, "documents")
        .withColumn("tok_cnt", F.size(F.split("text", " ")))
        .withColumn("h", (F.col("doc_id") * F.lit(KNUTH)) % F.lit(KNUTH_MOD))
        .withColumn("shard", (F.col("h") % _PACK_SHARDS).cast("int"))
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("tok_cnt").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "tok_cnt",
        "shard",
        (
            F.col("shard").cast("bigint") * 1000000
            + F.floor(start / F.lit(float(_PACK_BUDGET)))
        ).alias("bin_id"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to")
_STOP_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)


@register(
    "llm_quality_gopher",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS n_chars_m
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS INTEGER) AS n_words,
             ROUND((n_chars_m - (len(toks) - 1)) / len(toks), 4) AS mean_wlen,
             ROUND(len(list_distinct(toks)) / len(toks), 4) AS distinct_frac,
             ROUND(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) / len(toks), 4)
               AS stop_frac
      FROM t
    )
    SELECT doc_id, n_words, mean_wlen, distinct_frac, stop_frac,
           (n_words BETWEEN 10 AND 100000)
             AND (mean_wlen BETWEEN 2 AND 12)
             AND (distinct_frac > 0.1)
             AND (stop_frac < 0.5) AS passes
    FROM m
    """,
    section=_SEC,
)
def llm_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021) document quality rules: word-count
    bounds, mean word length, distinct-token fraction (repetition guard),
    stopword fraction (natural-language guard) — each an explicit rounded
    metric plus the combined pass verdict, so downstream filters can audit
    WHY a document was dropped. All higher-order-lambda codegen on the
    token array — a single scan, no shuffle, no Python."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks"), F.length("text").alias("n_chars_m")
    )
    n_words = F.size("toks")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    m = t.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round((F.col("n_chars_m") - (n_words - 1)) / n_words, 4).alias("mean_wlen"),
        F.round(F.size(F.array_distinct("toks")) / n_words, 4).alias("distinct_frac"),
        F.round(
            F.size(F.filter("toks", lambda x: F.array_contains(stop_arr, x))) / n_words, 4
        ).alias("stop_frac"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "mean_wlen",
        "distinct_frac",
        "stop_frac",
        (
            F.col("n_words").between(10, 100000)
            & F.col("mean_wlen").between(2, 12)
            & (F.col("distinct_frac") > 0.1)
            & (F.col("stop_frac") < 0.5)
        ).alias("passes"),
    )


# ---------------------------------------------------------------------------
# Embedding near-dup via multi-probe LSH (scale path for llm_dedup_embed)
# ---------------------------------------------------------------------------

_EMB_TABLES = 6
_EMB_PLANES = 6  # 64 buckets per table
_EMB_THRESH = 0.4


# Exact-duplicate VECTOR cluster map + density gate for the embed-LSH
# collapse prefix — the embedding twin of the text chain's
# _cached_clusters/_collapse_dense (llm.py): identical vectors collapse to
# one representative before bucketing, bounding the bucket self-join by
# UNIQUE vectors on dup-dense corpora.
_EMB_COLLAPSE_MIN_DUP_FRAC = 0.05


@memo
def _emb_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, ck, rep): exact-duplicate vector cluster (hash of the raw
    double array) and its min-vec_id representative. One shuffle keyed on
    the 128-bit ck — vectors never shuffle for clustering. ck is a STRUCT
    of two independently-seeded xxhash64 values, not a single 64-bit
    hash: a collision must win both hashes simultaneously (~2^-128), so
    distinct vectors cannot silently merge into one cluster and emit a
    fabricated cos_sim=1.0 pair (the belt-and-braces the single-hash key
    lacked)."""
    emb = _emb_normed(spark, sf_dir)
    clusters = emb.select(
        "vec_id",
        F.struct(
            F.xxhash64("dvec").alias("h1"),
            F.xxhash64(F.lit(-7046029254386353131), "dvec").alias("h2"),
        ).alias("ck"),
    )
    return clusters.withColumn(
        "rep", F.min("vec_id").over(Window.partitionBy("ck"))
    ).cache()


@memo
def _emb_collapse_dense(spark: SparkSession, sf_dir: str) -> bool:
    stats = (
        _emb_clusters(spark, sf_dir)
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("vec_id") != F.col("rep")).cast("long")).alias("dups"),
        )
        .first()
    )
    return stats["n"] > 0 and stats["dups"] / stats["n"] >= _EMB_COLLAPSE_MIN_DUP_FRAC


def _embed_lsh_oracle_sql() -> str:
    """DuckDB twin of llm_dedup_embed_lsh's naive branch (the collapse
    branch is pytest-pinned equal, so one oracle covers both): hashed
    buckets over the shared literal hyperplanes, left-side multi-probe,
    distinct id pairs, exact rescore, UNROUNDED >= threshold gate (the
    raw double is the identical fold on both engines), rounded emission."""
    from sdp_spark.functions.num import sql_dround as _sqd
    from sdp_spark.operators.llm import _sql_lsh_hashed, _sql_lsh_probes

    rescore = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> a.dvec[i] * b.dvec[i])) / (a.norm * b.norm)"
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dvec,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x * x))) AS norm
      FROM embeddings
    ), hashed AS (
      {_sql_lsh_hashed(_EMB_TABLES, _EMB_PLANES)}
    ), probed AS (
      SELECT h.vec_id AS vec_a, h.tbl, pb.bkt
      FROM hashed h, UNNEST({_sql_lsh_probes(_EMB_PLANES)}) AS pb(bkt)
    ), cand AS (
      SELECT DISTINCT p.vec_a, h.vec_id AS vec_b
      FROM probed p JOIN hashed h ON p.tbl = h.tbl AND p.bkt = h.bkt
      WHERE p.vec_a < h.vec_id
    )
    SELECT c.vec_a, c.vec_b, {_sqd(rescore, 4)} AS cos_sim
    FROM cand c
    JOIN emb a ON c.vec_a = a.vec_id
    JOIN emb b ON c.vec_b = b.vec_id
    WHERE {rescore} >= {_EMB_THRESH}
    """


@register("llm_dedup_embed_lsh", oracle=_embed_lsh_oracle_sql(), section=_SEC)
def llm_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: multi-probe random-hyperplane LSH
    (6 tables x 6 sign-bits, probe = exact bucket + every 1-bit flip)
    replaces llm_dedup_embed's label blocking — candidates exist only
    within (table, bucket±1bit), the exact-cosine verify touches candidates
    only, and the (table, bucket) key is the shuffle key at 100 TB. The
    probe fan-out (x7) rides the LEFT side of the self-join only; emitted
    pairs are exact-rescored, so precision is 1.0 by construction and
    tests pin recall against the brute-force pair set. PROMOTED to a full
    hash oracle (round 8): the md5-seeded hyperplanes regenerate as exact
    SQL literals, so DuckDB replays buckets, probes and rescoring
    bit-for-bit (_embed_lsh_oracle_sql).

    Adaptive exact-collapse prefix (round 8, mirroring the text near-dup
    chain): when >= 5% of vectors are exact duplicates, identical vectors
    collapse to one representative before bucketing, the LSH+verify runs
    over UNIQUE vectors, and rep-level pairs re-expand to member pairs
    (same cosine — the vectors are identical) plus within-cluster pairs at
    cos 1.0. On the 90%-dup 10x fixture the uncollapsed bucket join emits
    O(copies²) candidates per bucket (it spilled out of disk before the
    id-only-candidates fix, and costs ~54 s after it); the collapse bounds
    it by unique vectors. Equality of the two branches is pytest-pinned
    (test_embed_lsh_collapse_equals_uncollapsed)."""
    if _emb_collapse_dense(spark, sf_dir):
        return _embed_lsh_collapsed(spark, sf_dir)
    return _embed_lsh_pairs(_emb_normed(spark, sf_dir))


def _embed_lsh_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse branch: LSH over exact-dup representatives, then expand
    rep pairs to member pairs and add within-cluster pairs at cos 1.0.
    Callable directly so the equality test can force it below the gate."""
    members = _emb_clusters(spark, sf_dir)
    rep_ids = members.filter(F.col("vec_id") == F.col("rep")).select("vec_id")
    emb = _emb_normed(spark, sf_dir)
    rep_pairs = _embed_lsh_pairs(emb.join(rep_ids, "vec_id"))
    ma = members.select(F.col("rep").alias("vec_a"), F.col("vec_id").alias("m_a"))
    mb = members.select(F.col("rep").alias("vec_b"), F.col("vec_id").alias("m_b"))
    cross = (
        rep_pairs.join(ma, "vec_a")
        .join(mb, "vec_b")
        .select(
            F.least("m_a", "m_b").alias("vec_a"),
            F.greatest("m_a", "m_b").alias("vec_b"),
            "cos_sim",
        )
    )
    within = (
        members.alias("x")
        .join(members.alias("y"), F.col("x.ck") == F.col("y.ck"))
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.lit(1.0).alias("cos_sim"),
        )
    )
    return cross.unionAll(within)


def _embed_lsh_pairs(emb: DataFrame) -> DataFrame:
    """The LSH bucket → id-pair candidates → exact-rescore core, over any
    (vec_id, dvec, norm) frame."""
    planes = _hyperplanes(_EMB_TABLES * _EMB_PLANES)
    buckets = []
    for t in range(_EMB_TABLES):
        bucket = F.lit(0)
        for i in range(_EMB_PLANES):
            pl = F.array(*[F.lit(w) for w in planes[t * _EMB_PLANES + i]])
            dot_p = F.aggregate(
                F.zip_with("dvec", pl, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
            )
            bucket = bucket + F.when(dot_p > 0, F.lit(2**i)).otherwise(F.lit(0))
        buckets.append(F.struct(F.lit(t).alias("tbl"), bucket.alias("bkt")))
    hashed = emb.select(
        "vec_id", "dvec", "norm", F.explode(F.array(*buckets)).alias("tb")
    ).select("vec_id", "dvec", "norm", "tb.tbl", "tb.bkt")

    probes = F.array(
        F.col("bkt"),
        *[F.col("bkt").bitwiseXOR(F.lit(2**i)) for i in range(_EMB_PLANES)],
    )
    # Candidate generation on BARE IDS: the (tbl, bkt) self-join and the
    # pair-dedup shuffle carry 16-byte id pairs, not the 64-dim vectors —
    # a pair can surface up to tables x (probes+1) times, and on a
    # dup-dense corpus buckets are packed, so dragging ~1 KB of vector
    # payload through that multiset was the spill that killed the 10x
    # fixture run (SPILL_OUT_OF_MEMORY). Vectors re-join by id only for
    # the exact rescore of the DEDUPED candidates.
    left = hashed.select(
        F.col("vec_id").alias("vec_a"), "tbl", F.explode(probes).alias("bkt")
    )
    right = hashed.select(F.col("vec_id").alias("vec_b"), "tbl", "bkt")
    cand = (
        left.join(right, ["tbl", "bkt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("dvec").alias("va"),
        F.col("norm").alias("na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("dvec").alias("vb"),
        F.col("norm").alias("nb"),
    )
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= _EMB_THRESH)
        .select("vec_a", "vec_b", dround(F.col("cos"), 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Data mixing / sharding / corpus card (round 4)
# ---------------------------------------------------------------------------

_MIX_CAP_SHARE = 0.10


@register(
    "llm_domain_mix",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (SELECT SUM(n_tokens) AS tot_tokens FROM t)
    SELECT source, n_docs, n_tokens,
           FLOOR(CAST(n_tokens AS DOUBLE) / tot_tokens * 1000000 + 0.5) / 1000000 AS token_share,
           FLOOR(LEAST(1.0, {_MIX_CAP_SHARE} * tot_tokens / CAST(n_tokens AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS sample_weight
    FROM t, tot
    """,
    section=_SEC,
)
def llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source mixing weights — the "data mixture" stage of a training
    build: per-source token counts and shares, plus the down-sampling weight
    that caps any one source at _MIX_CAP_SHARE of the corpus (weight = min(1,
    cap/share); under-cap sources keep weight 1.0, dominating sources get
    scaled down). The per-source totals are a 20-row aggregate; the corpus
    total joins back via broadcast — at 100 TB the fact table is touched
    once and the mixing table is metadata. Weight math runs on exact BIGINT
    token counts in pure IEEE double ops, so both engines render identical
    values; dround pins the boundary."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("bigint")).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"))
    share = F.col("n_tokens").cast("double") / F.col("tot_tokens")
    weight = F.least(
        F.lit(1.0), F.lit(_MIX_CAP_SHARE) * F.col("tot_tokens") / F.col("n_tokens").cast("double")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        dround(share, 6).alias("token_share"),
        dround(weight, 6).alias("sample_weight"),
    )


_N_SHARDS = 8


@register(
    "llm_shard_export",
    oracle=f"""
    SELECT CAST(doc_id % {_N_SHARDS} AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_bytes_text
    FROM documents
    GROUP BY 1
    """,
    section=_SEC,
)
def llm_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export: deterministic shard assignment (doc_id mod N —
    reproducible across runs, unlike round-robin repartition) + a
    partitioned write, then a per-shard manifest aggregated FROM THE
    WRITTEN OUTPUT so the oracle proves the export is lossless. This is the
    last stage of a corpus build: the trainer consumes shard directories in
    parallel. At 100 TB: N ~ total_bytes / target_shard_bytes; the
    partitionBy write shuffles once on shard id, and each shard lands as
    its own directory for independent consumption."""
    import os

    from sdp_spark.sources.fixtures import cache_dir

    # Stable per-sf export path guarded by _SUCCESS (same idiom as
    # scan_text): repeated invocations under the driver sweep / bench reps
    # reuse the written shards instead of copying the corpus to a fresh
    # mkdtemp each call (unbounded /tmp growth — ADVICE r4).
    out = cache_dir(sf_dir, "shard_export")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        d = table(spark, sf_dir, "documents").withColumn(
            "shard", (F.col("doc_id") % _N_SHARDS).cast("int")
        )
        (
            d.select("doc_id", "text", "n_chars", "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(out)
        )
    back = spark.read.parquet(out)
    return back.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_bytes_text"),
    )


_SEM_THRESH = 0.35


_SEM_BLOCK_TARGET = 1000  # mean vectors per k-means block the default K aims at


def _semdedup_frame(spark: SparkSession, sf_dir: str, k: int | None = None) -> DataFrame:
    """Parameterized core of llm_semdedup — K flows through to the k-means
    fit and to _km_assign's strategy choice (literal columns vs broadcast
    Arrow matmul), so tests exercise the large-K path at K=64.

    Default K is ADAPTIVE: max(_KM_K, N / _SEM_BLOCK_TARGET), so mean
    block size stays ~1k as the corpus grows — per-block pairwise cosine
    is quadratic in block size, and measured at 10x embeddings the fixed
    K=8 ran 12.8 s where the adaptive K runs ~2.8 s (SCALING.md). The
    count is one job over the memoized cached frame."""
    from sdp_spark.operators.llm import _KM_K, _emb_normed, _km_assign, _kmeans_fit

    if k is None:
        n = _emb_normed(spark, sf_dir).count()
        k = max(_KM_K, -(-n // _SEM_BLOCK_TARGET))  # ceil div
    cents = _kmeans_fit(spark, sf_dir, k=k)
    emb = _emb_normed(spark, sf_dir).select("vec_id", "dvec")
    # top-2 nearest centroids (lowest-distance-then-lowest-index ties on
    # both physical paths) — the multi-probe soft assignment
    probed = _km_assign(emb, cents, probe2=True).select(
        "vec_id", "dvec", F.col("cluster").alias("c1"), F.col("cluster2").alias("c2")
    )
    # the plan references probed twice — the exploded block side and the
    # final (vec_id, cluster) projection — and before r14 each reference
    # re-ran the whole assignment subtree (plans/r14/llm_semdedup_full_
    # before.txt: the distance chain + its input scan evaluated twice; on
    # the large-K path that is the broadcast Arrow matmul twice). One lazy
    # localCheckpoint bounds it to a single evaluation; the frame is
    # N x (dvec + 3 ids) — the same class as the ANN chain's _knng_assigned
    # checkpoint (OPTIMIZATION_r14.md §5).
    probed = probed.localCheckpoint(eager=False)
    blocks = probed.select(
        "vec_id", "dvec", F.explode(F.array("c1", "c2")).alias("block")
    )

    # Per-block pairwise cosine via Arrow/numpy (applyInPandas): the
    # pairwise stage is the hot spot, and Spark's higher-order zip_with
    # fold evaluates INTERPRETED per element — a million candidate pairs x
    # 64 dims crawls, while one numpy M @ M.T per block is milliseconds.
    # Block size is bounded by design (raise K at scale), so each pandas
    # group is small; output is just the duplicate vec_ids. Defined nested
    # so cloudpickle ships it by value (workers never import sdp_spark).
    sem_thresh = _SEM_THRESH

    def _block_dups(pdf):
        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = _np.array([list(v) for v in pdf["dvec"]], dtype=_np.float64)
        n = _np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        cos = (m / n) @ (m / n).T
        dup_mask = [(cos[j, :j] >= sem_thresh).any() for j in range(len(pdf))]
        return _pd.DataFrame({"vec_b": pdf["vec_id"][dup_mask]})

    dup_ids = (
        blocks.groupBy("block")
        .applyInPandas(_block_dups, "vec_b BIGINT")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        probed.select("vec_id", F.col("c1").alias("cluster"))
        .join(dup_ids, probed.vec_id == dup_ids.vec_b, "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


@register("llm_semdedup", oracle=None, section=_SEC)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic dedup (Abbas et al. 2023, public preprint):
    learned k-means clusters are the blocking key; a vector is a duplicate
    iff some LOWER-id vector sharing a block has cosine >= _SEM_THRESH
    (deterministic keep-lowest rule — greedy set-cover order pinned by id).
    Versus llm_dedup_embed's fixture-label blocking, the blocking here is
    LEARNED — the shape that works when no labels exist. MULTI-PROBE: each
    vector blocks on its TOP-2 nearest centroids, so boundary pairs split
    across adjacent clusters still meet (pair recall 0.35 -> 0.77 on the
    fixture vs single-probe; the standard soft-assignment fix). Cost:
    k-means (one narrow shuffle/iter, K x dim driver state, fit shared with
    llm_cluster_kmeans) + an equi-join on block id with pairwise cosine
    only inside blocks — never all-pairs; duplication factor is exactly 2.
    At 100 TB: raise K so mean cluster size stays ~1k — K is a real
    parameter now (_semdedup_frame(k=...)); above _KM_LITERAL_MAX the
    centroid assignment runs as a broadcast numpy matrix + Arrow matmul
    with an O(1)-in-K plan (tests pin K=64). rows-only oracle (k-means
    isn't SQL-expressible); tests pin precision 1.0 and recall vs exact
    brute-force pairs, plus determinism."""
    return _semdedup_frame(spark, sf_dir)


@register(
    "llm_corpus_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           FLOOR(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
                 * 100 + 0.5) / 100 AS avg_doc_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           FLOOR(CAST(COUNT(*) FILTER (WHERE lang = 'en') AS DOUBLE) / COUNT(*)
                 * 10000 + 0.5) / 10000 AS pct_en,
           FLOOR((1.0 - CAST(COUNT(DISTINCT sha256(lower(trim(text)))) AS DOUBLE) / COUNT(*))
                 * 10000 + 0.5) / 10000 AS exact_dup_rate
    FROM documents
    """,
    section=_SEC,
)
def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus card — the one-row dataset summary published with every
    training corpus: scale (docs/tokens), source/language diversity, and
    exact-duplicate rate (1 - distinct-normalized-hash ratio, same
    normalization as llm_dedup_exact). One pass, partial aggregation for
    everything except the two exact DISTINCTs; at 100 TB swap those for
    approx_count_distinct (the documented trade — the card is diagnostic,
    not transactional)."""
    d = table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " ")).cast("bigint")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum(n_toks).alias("n_tokens"),
        dround(F.sum(n_toks).cast("double") / F.count("*"), 2).alias("avg_doc_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        dround(F.count(F.when(F.col("lang") == "en", 1)).cast("double") / F.count("*"), 4).alias("pct_en"),
        dround(
            (F.lit(1.0) - F.countDistinct(F.sha2(F.lower(F.trim(F.col("text"))), 256)).cast("double") / F.count("*")),
            4,
        ).alias("exact_dup_rate"),
    )


# ---------------------------------------------------------------------------
# Cross-split leakage removal + URL canonicalization (round 4)
# ---------------------------------------------------------------------------


@register(
    "llm_cross_split_dedup",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang,
             sha256(lower(trim(text))) AS h,
             CASE WHEN (doc_id * {KNUTH}) % {KNUTH_MOD} < {KNUTH_MOD} * 0.9
                  THEN 'train' ELSE 'heldout' END AS split
      FROM documents
    )
    SELECT t.doc_id, t.lang
    FROM hashed t
    WHERE t.split = 'train'
      AND NOT EXISTS (SELECT 1 FROM hashed v
                      WHERE v.split = 'heldout' AND v.h = t.h)
    """,
    section=_SEC,
)
def llm_cross_split_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage removal: after the deterministic train/heldout
    split (same Knuth-hash assignment as llm_pipeline_train_corpus), drop
    every TRAIN document whose normalized text hash also appears in
    HELDOUT — the doc-level counterpart of n-gram decontamination
    (llm_decontaminate), protecting the held-out perplexity eval from
    verbatim overlap. Plan: the heldout hash set is a small fraction of the
    corpus -> broadcast anti-join; the train side streams through one scan,
    nothing re-shuffles. At 100 TB swap the broadcast for a bloom filter —
    identical plan shape, bounded memory."""
    d = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(KNUTH)) % F.lit(KNUTH_MOD)
    hashed = d.select(
        "doc_id",
        "lang",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h"),
        F.when(bucket < KNUTH_MOD * 0.9, "train").otherwise("heldout").alias("split"),
    )
    heldout_hashes = F.broadcast(
        hashed.filter(F.col("split") == "heldout").select("h").distinct()
    )
    return (
        hashed.filter(F.col("split") == "train")
        .join(heldout_hashes, "h", "left_anti")
        .select("doc_id", "lang")
    )


_TRACKING_RE = "(utm_[a-z]+|ref|fbclid)=[^&#]*&?"


@register(
    "llm_url_normalize",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || CAST(doc_id % 50 AS VARCHAR)
               || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 2 = 0 THEN '&ref=home#top' ELSE '' END AS url
      FROM documents
    ), canon AS (
      SELECT doc_id,
             regexp_extract(url, 'https://([^/]+)/', 1) AS host,
             rtrim(regexp_replace(regexp_replace(url, '#[^#]*$', ''),
                                  '{_TRACKING_RE}', '', 'g'),
                   '?&') AS canon_url
      FROM urls
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_canonical
    FROM canon
    GROUP BY host
    """,
    section=_SEC,
)
def llm_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the first dedup key of every web crawl: strip
    tracking params (utm_*, ref, fbclid) and fragments, then count raw vs
    canonical URLs per host (the dedup leverage report). The fixture has no
    URL column, so deterministic synthetic URLs are derived first (same
    pattern as llm_pii_scrub's synthetic PII) — the oracle then genuinely
    pins the normalization regexes on both engines. Pure per-row codegen +
    one small groupBy; at 100 TB the canonical url feeds llm_dedup_* as the
    blocking/group key, and this report is its audit."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("&ref=home#top")).otherwise(F.lit("")),
    )
    u = d.select("doc_id", url.alias("url"))
    # rtrim MUST carry the explicit '?&' trim set (matching DuckDB's
    # rtrim(x, '?&')); the single-arg form trims whitespace only and would
    # leave '...?id=4&' — a wrong blocking key for downstream dedup.
    canon = F.rtrim(
        F.regexp_replace(F.regexp_replace(F.col("url"), "#[^#]*$", ""), _TRACKING_RE, ""),
        F.lit("?&"),
    )
    host = F.regexp_extract(F.col("url"), "https://([^/]+)/", 1)
    c = u.select("doc_id", host.alias("host"), canon.alias("canon_url"))
    return c.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("canon_url").alias("n_canonical"),
    )


@register(
    "llm_perplexity_proxy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), vocab AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
    ), total AS (
      SELECT SUM(n) AS tot FROM vocab
    ), scored AS (
      SELECT t.doc_id, -log2(CAST(v.n AS DOUBLE) / tot) AS surprisal
      FROM toks t JOIN vocab v USING (tok), total
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           FLOOR(SUM(surprisal) / COUNT(*) * 1000 + 0.5) / 1000 AS bits_per_token
    FROM scored GROUP BY doc_id
    """,
    section=_SEC,
)
def llm_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring WITHOUT an external model: a unigram
    LM is fit on the corpus itself (token -> count / total), and each
    document is scored by its mean token surprisal -log2 p(tok) — the
    bits-per-token cross-entropy proxy. High scores flag rare-token noise
    (mojibake, code dumps, boilerplate IDs), low scores flag degenerate
    repetition; both tails get filtered in real curation runs (the
    perplexity-filter stage of CCNet/RefinedWeb, with the corpus unigram LM
    standing in for the external KenLM). Plan: vocab aggregate (partial
    map-side), token->vocab equi-join (vocab is zipf-compact — broadcast at
    moderate scale, shuffle-join beyond), one groupBy(doc_id). Surprisal
    math is pure IEEE log2 on identical ints -> cross-engine stable;
    dround(3) absorbs the last-ulp libm differences."""
    toks = (
        wide_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = vocab.agg(F.sum("n").alias("tot"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .withColumn("surprisal", -F.log2(F.col("n").cast("double") / F.col("tot")))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"),
        dround(F.sum("surprisal") / F.count("*"), 3).alias("bits_per_token"),
    )


_STRAT_FRAC = 0.2


@register(
    "llm_sample_stratified",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY (doc_id * {KNUTH}) % {KNUTH_MOD}, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT doc_id, lang
    FROM ranked
    WHERE rn <= CAST(CEIL(n_lang * {_STRAT_FRAC}) AS BIGINT)
    """,
    section=_SEC,
)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified sampling: precisely ceil(frac * n) documents per
    language stratum, chosen by deterministic hash rank — the companion of
    llm_sample_temperature (which reweights but only hits its rates in
    expectation). Per-stratum rank + count in one window pass over the
    lang key; reproducible across runs/partitionings because the order is
    a pure function of doc_id. At 100 TB: lang has few values, so for hot
    strata swap row_number for the two-pass variant (per-stratum count,
    then threshold the hash directly — no window) documented here; the
    fixture-scale window keeps the oracle exact."""
    d = table(spark, sf_dir, "documents")
    hashv = (F.col("doc_id") * F.lit(KNUTH)) % F.lit(KNUTH_MOD)
    w = Window.partitionBy("lang").orderBy(hashv.asc(), F.col("doc_id").asc())
    wc = Window.partitionBy("lang")
    return (
        d.select(
            "doc_id", "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n_lang"),
        )
        .filter(F.col("rn") <= F.ceil(F.col("n_lang") * _STRAT_FRAC).cast("bigint"))
        .select("doc_id", "lang")
    )


_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


@register(
    "llm_chunk_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), starts AS (
      SELECT doc_id, t,
             unnest(generate_series(1, GREATEST(len(t) - {_CHUNK_TOKENS}, 0) + {_CHUNK_STRIDE},
                                    {_CHUNK_STRIDE})) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST((s - 1) / {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(LEAST(len(t) - s + 1, {_CHUNK_TOKENS}) AS INTEGER) AS n_toks,
           array_to_string(t[s:s + {_CHUNK_TOKENS - 1}], ' ') AS chunk
    FROM starts
    """,
    section=_SEC,
)
def llm_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    token windows (size {_CHUNK_TOKENS}, stride {_CHUNK_STRIDE}) — the
    preprocessing stage of RAG indexing and fixed-context training when
    documents exceed the model window; the overlap keeps boundary
    sentences intact in some chunk. Pure codegen explode (sequence of
    window starts -> slice+join per start): no shuffle, no Python, output
    rows ~ tokens/stride per doc. At 100 TB this runs map-side in the
    same stage as the scan; chunk text feeds the tokenizer/packer
    (llm_pack_sequences) downstream."""
    d = table(spark, sf_dir, "documents").withColumn("t", F.split("text", " "))
    # stop = max(len - CHUNK, 0) + STRIDE: one start past the last full
    # window whenever (len - CHUNK) is not a stride multiple, so the final
    # (shorter) chunk reaches the document tail — every token is covered
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("t") - _CHUNK_TOKENS, F.lit(0)) + _CHUNK_STRIDE,
        F.lit(_CHUNK_STRIDE),
    )
    e = d.select("doc_id", "t", F.explode(starts).alias("s"))
    return e.select(
        "doc_id",
        ((F.col("s") - 1) / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.least(F.size("t") - F.col("s") + 1, F.lit(_CHUNK_TOKENS)).cast("int").alias("n_toks"),
        F.array_join(F.slice("t", F.col("s"), _CHUNK_TOKENS), " ").alias("chunk"),
    )


# ---------------------------------------------------------------------------
# Substring-span dedup (Lee et al. 2022-style, stride-windowed approximation)
# ---------------------------------------------------------------------------

_SPAN_W = 20  # tokens per span
_SPAN_S = 10  # stride between span starts


@register(
    "llm_dedup_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS (
      SELECT doc_id, array_to_string(t[s : s + {_SPAN_W - 1}], ' ') AS span
      FROM (
        SELECT doc_id, t,
               unnest(generate_series(1, len(t) - {_SPAN_W} + 1, {_SPAN_S})) AS s
        FROM toks WHERE len(t) >= {_SPAN_W}
      )
    ), dup AS (
      SELECT span FROM spans GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_spans,
           CAST(SUM(CASE WHEN dup.span IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
             AS n_dup_spans,
           SUM(CASE WHEN dup.span IS NOT NULL THEN 1 ELSE 0 END) > 0 AS has_dup
    FROM spans s LEFT JOIN dup ON s.span = dup.span
    GROUP BY 1
    """,
    section=_SEC,
)
def llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-span dedup: flag token spans shared VERBATIM across
    different documents (boilerplate, licenses, templated crawl content
    that document-level dedup misses — Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"). Exact suffix-array
    matching is replaced by the standard distributed approximation:
    stride-{_SPAN_S} windows of {_SPAN_W} tokens, so any duplicated run of
    >= {_SPAN_W + _SPAN_S - 1} tokens is guaranteed to align in some
    window. Per doc: total spans, spans whose text occurs in >= 2 distinct
    docs, and the dedup flag (downstream action: trim the spans or drop
    the doc).

    Plan: explode -> span groupBy (the dup set) -> one equi-join back ->
    per-doc agg. Span TEXT is the key here so the DuckDB oracle stays
    exact; at 100 TB the key is xxhash64(span) — the shuffle then carries
    8-byte hashes, the plan shape is unchanged, and a second verify pass
    over hash-collision buckets restores exactness. Within-doc repeats do
    not self-flag (distinct-doc count >= 2)."""
    d = table(spark, sf_dir, "documents").withColumn("t", F.split("text", " "))
    starts = F.sequence(F.lit(1), F.size("t") - _SPAN_W + 1, F.lit(_SPAN_S))
    spans = (
        d.filter(F.size("t") >= _SPAN_W)
        .select("doc_id", "t", F.explode(starts).alias("s"))
        .select(
            "doc_id", F.array_join(F.slice("t", F.col("s"), _SPAN_W), " ").alias("span")
        )
    )
    dup = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span", F.lit(1).alias("is_dup"))
    )
    return (
        spans.join(dup, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("int").alias("n_dup_spans"),
            (F.sum(F.coalesce("is_dup", F.lit(0))) > 0).alias("has_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding hygiene: L2 normalization (the stage before every cosine op)
# ---------------------------------------------------------------------------


@register(
    "llm_embed_normalize",
    oracle="""
    WITH comp AS (
      SELECT vec_id, u.x
      FROM (SELECT vec_id, embedding FROM embeddings) e, UNNEST(embedding) AS u(x)
    ), agg AS (
      SELECT vec_id, CAST(COUNT(*) AS INTEGER) AS dim,
             sqrt(CAST(SUM(CAST(
               FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 100000000 + 0.5)
                 / 100000000 AS DECIMAL(30,8))) AS DOUBLE)) AS norm_raw
      FROM comp GROUP BY 1
    )
    SELECT a.vec_id, a.dim,
           FLOOR(a.norm_raw * 1000000 + 0.5) / 1000000 AS norm,
           FLOOR(CAST(e.embedding[1] AS DOUBLE) / a.norm_raw * 1000000 + 0.5)
             / 1000000 AS head_normed
    FROM agg a JOIN embeddings e USING (vec_id)
    """,
    section=_SEC,
)
def llm_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization audit of the embedding column — the hygiene stage
    every cosine-based op (ANN, semantic dedup) runs first. Per vector:
    dimensionality, L2 norm, and the first normalized component (the
    normalized vectors themselves are the [unhashable] payload; `_emb_normed`
    is the cached production frame the other ops consume).

    Determinism: squared components snap to the 1e-8 grid and sum as
    DECIMAL (order-independent under any partitioning/AQE re-plan), so the
    norm is bit-identical cross-engine; float32 components are widened to
    double BEFORE squaring on both sides. Plan: one explode + hash agg +
    an equi-join back for the head component — at 100 TB the explode is
    map-side and the shuffle carries vec_id-keyed partial sums only."""
    e = table(spark, sf_dir, "embeddings")
    comp = e.select("vec_id", F.explode("embedding").alias("x"))
    x = F.col("x").cast("double")
    agg = comp.groupBy("vec_id").agg(
        F.count("*").cast("int").alias("dim"),
        F.sqrt(
            F.sum((F.floor(x * x * 100000000 + 0.5) / 100000000).cast(DEC)).cast(
                "double"
            )
        ).alias("norm_raw"),
    )
    return agg.join(e, "vec_id").select(
        "vec_id",
        "dim",
        dround("norm_raw", 6).alias("norm"),
        dround(
            F.col("embedding").getItem(0).cast("double") / F.col("norm_raw"), 6
        ).alias("head_normed"),
    )


# ---------------------------------------------------------------------------
# PCA dimensionality reduction (the stage before ANN index build at scale)
# ---------------------------------------------------------------------------

_PCA_NCOMP = 4

# (mean, components, explained_variance_ratio) memoized per (app, sf_dir):
# the fit is one distributed pass; projection and tests consume it.
@memo
def _pca_fit(spark: SparkSession, sf_dir: str):
    """One-pass distributed PCA fit: per-partition partial (n, sum(x),
    X^T X) via mapInPandas — each partition ships ONE (1 + dim + dim^2)
    float row to the driver, never the vectors — then a dim x dim eigh on
    the driver (dim=64: trivial). This is the textbook scalable-covariance
    shape: at 100 TB the reduce tree carries #partitions tiny matrices.
    Sign convention: each component's largest-|coordinate| entry is made
    positive, so the fit is fully deterministic."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("embedding")

    def partial(batches):
        import numpy as _np
        import pandas as _pd

        n, s, g = 0, None, None
        for pdf in batches:
            x = _np.array([list(v) for v in pdf["embedding"]], dtype=_np.float64)
            if len(x) == 0:
                continue
            n += len(x)
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            g = x.T @ x if g is None else g + x.T @ x
        if n == 0:
            return
        yield _pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    parts = emb.mapInPandas(
        partial, "n long, s array<double>, g array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    g = np.sum([np.array(r["g"]) for r in parts], axis=0)
    dim = len(s)
    mean = s / n
    cov = g.reshape(dim, dim) / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:_PCA_NCOMP]
    comps = evecs[:, order].T  # (ncomp, dim)
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    evr = (evals[order] / evals.sum()).tolist()
    return mean, comps, evr


@register("llm_embed_pca", oracle=None, section=_SEC)
def llm_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding column to its top {_PCA_NCOMP}
    principal components — the dimensionality-reduction stage run before
    ANN index build / IVF coarse quantization at corpus scale (shorter
    vectors => cheaper distance math and smaller indexes; cf. OPQ/PCA
    preprocessing in FAISS-style pipelines).

    Fit: `_pca_fit` (one distributed pass, partial covariance per
    partition). Projection: the (ncomp x dim) component matrix rides ONE
    sc.broadcast and a vectorized pandas UDF projects each Arrow batch
    with a single matmul — O(1) plan size in both dim and ncomp, no
    shuffle (the same broadcast-matrix strategy as `_km_assign` above the
    literal ceiling). Rows-only driver check (eigenvector sign/order are
    engine-specific even with the sign pin); pytest pins orthonormality,
    variance ordering, determinism, and reconstruction error."""
    import numpy as np

    mean, comps, _ = _pca_fit(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings")
    bc = spark.sparkContext.broadcast((mean, comps))

    out_schema = ", ".join(f"pc{i + 1} double" for i in range(len(comps)))

    @F.pandas_udf(out_schema)
    def _project(emb: pd.Series) -> pd.DataFrame:
        import numpy as _np
        import pandas as _pd

        m, w = bc.value
        if len(emb) == 0:
            return _pd.DataFrame({f"pc{i + 1}": [] for i in range(len(w))})
        x = _np.array([list(v) for v in emb], dtype=_np.float64) - m
        p = x @ w.T
        return _pd.DataFrame(
            {f"pc{i + 1}": _np.round(p[:, i], 6) for i in range(len(w))}
        )

    proj = e.withColumn("_p", _project("embedding"))
    return proj.select(
        "vec_id",
        "label",
        *[F.col(f"_p.pc{i + 1}").alias(f"pc{i + 1}") for i in range(len(comps))],
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (index compression for the 100 TB ANN path)
# ---------------------------------------------------------------------------


@register(
    "llm_embed_quantize",
    oracle="""
    WITH comp AS (
      SELECT vec_id, CAST(s.i AS INTEGER) AS i,
             CAST(embedding[s.i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(i)
    ), scales AS (
      SELECT i, MAX(ABS(x)) AS scale FROM comp GROUP BY 1
    ), q AS (
      SELECT c.vec_id, c.i, c.x, sc.scale,
             CASE WHEN c.x >= 0
                  THEN FLOOR(c.x / sc.scale * 127 + 0.5)
                  ELSE -FLOOR(-c.x / sc.scale * 127 + 0.5) END AS qv
      FROM comp c JOIN scales sc USING (i)
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN qv BETWEEN -127 AND 127 THEN 0 ELSE 1 END) AS INTEGER)
             AS n_clipped,
           FLOOR(sqrt(CAST(SUM(CAST(
             FLOOR((x - qv * scale / 127) * (x - qv * scale / 127) * 1e12 + 0.5) / 1e12
               AS DECIMAL(30,14))) AS DOUBLE) / COUNT(*)) * 1e8 + 0.5) / 1e8 AS rmse,
           CAST(MIN(qv) AS INTEGER) AS q_min,
           CAST(MAX(qv) AS INTEGER) AS q_max
    FROM q GROUP BY 1
    """,
    section=_SEC,
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding column —
    the index-compression stage of a corpus-scale ANN build (4× smaller
    vectors, SIMD int8 distance kernels; the scalar-quantizer of
    FAISS/ScaNN-style pipelines). Per-dim scale = max|x| over the corpus;
    q = round(x/scale·127), symmetric away-from-zero rounding spelled as
    sign-split FLOOR(+0.5) so both engines agree at .5 boundaries. Output
    per vector: clip count (always 0 with max-abs scaling — asserted by
    the oracle), reconstruction RMSE, and the quantized range.

    Plan: posexplode → per-dim max aggregate (64 rows, broadcast back) →
    per-vector error aggregate. At 100 TB the scales table is metadata
    (dim rows) learned in one pass — the corpus shuffles only vec_id-keyed
    partial error sums; squared errors snap to a 1e-12 grid and sum as
    DECIMAL so the RMSE is partition-order-independent."""
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "vec_id", (F.col("i0") + 1).cast("int").alias("i"), F.col("xf").cast("double").alias("x")
    )
    scales = comp.groupBy("i").agg(F.max(F.abs("x")).alias("scale"))
    qv = F.when(
        F.col("x") >= 0, F.floor(F.col("x") / F.col("scale") * 127 + 0.5)
    ).otherwise(-F.floor(-F.col("x") / F.col("scale") * 127 + 0.5))
    q = comp.join(F.broadcast(scales), "i").withColumn("qv", qv)
    err2 = (F.col("x") - F.col("qv") * F.col("scale") / 127) ** 2
    err2_snapped = (F.floor(err2 * 1e12 + 0.5) / 1e12).cast("decimal(30,14)")
    return q.groupBy("vec_id").agg(
        F.sum(F.when(F.col("qv").between(-127, 127), 0).otherwise(1))
        .cast("int")
        .alias("n_clipped"),
        dround(
            F.sqrt(F.sum(err2_snapped).cast("double") / F.count("*")), 8
        ).alias("rmse"),
        F.min("qv").cast("int").alias("q_min"),
        F.max("qv").cast("int").alias("q_max"),
    )


# ---------------------------------------------------------------------------
# BPE merge-pair statistics (tokenizer-induction stage)
# ---------------------------------------------------------------------------

_BPE_TOPK = 30


@register(
    "llm_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT t.w FROM (SELECT string_split(text, ' ') AS ws FROM documents) d,
           UNNEST(ws) AS t(w)
      WHERE len(t.w) >= 2
    ), pairs AS (
      SELECT p.pair
      FROM (SELECT list_transform(generate_series(1, len(w) - 1),
                                  i -> substr(w, i, 2)) AS ps FROM words) x,
           UNNEST(ps) AS p(pair)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1
    ORDER BY n DESC, pair ASC
    LIMIT {_BPE_TOPK}
    """,
    section=_SEC,
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-symbol pair frequencies — the statistic ONE iteration of
    BPE vocabulary induction maximizes (Sennrich et al. 2016: merge the
    most frequent pair, recount, repeat). Here: character bigrams within
    words, corpus-wide, top {_BPE_TOPK}. The sliding substr() expression
    is shared verbatim with the oracle (no engine split('')-semantics
    divergence).

    Plan: explode words → explode in-word char pairs (both map-side,
    same stage as the scan) → partial+final count → TakeOrdered top-k.
    At 100 TB the iterative trainer broadcasts the merge table each
    round and re-runs this exact plan over re-segmented symbols — the
    per-round cost is one scan + one tiny-key shuffle (pair cardinality
    ≈ |alphabet|², metadata-scale)."""
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# Epoch materialization from mixture weights (the upsampling twin of
# llm_domain_mix's downsampling weights)
# ---------------------------------------------------------------------------

_EPOCH_CAP = 4.0  # max repeats per source (diminishing returns beyond ~4)


@register(
    "llm_mix_epochs",
    oracle=f"""
    WITH t AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n_tokens) AS tot_tokens, COUNT(*) AS n_srcs FROM t
    ), w AS (
      SELECT source,
             LEAST({_EPOCH_CAP}, CAST(tot_tokens AS DOUBLE) / (n_srcs * n_tokens)) AS wt
      FROM t, tot
    ), copies AS (
      SELECT d.doc_id, d.source,
             CAST(FLOOR(wt) +
               CASE WHEN CAST(d.doc_id * {KNUTH} % {KNUTH_MOD} AS DOUBLE)
                         / {KNUTH_MOD} < wt - FLOOR(wt)
                    THEN 1 ELSE 0 END AS INTEGER) AS n_copies
      FROM documents d JOIN w USING (source)
    )
    SELECT doc_id, source, CAST(c.i AS INTEGER) AS copy_idx
    FROM copies, UNNEST(generate_series(1, n_copies)) AS c(i)
    WHERE n_copies >= 1
    """,
    section=_SEC,
)
def llm_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a mixture as per-document epoch repeats — the
    upsampling stage that turns target shares into an actual training
    stream (small high-quality sources repeat, capped at {_EPOCH_CAP}
    epochs per the data-constrained-scaling evidence that value beyond
    ~4 repeats decays; oversized sources fall below 1 and downsample).
    Target here: equal token share per source → weight = tot/(n_srcs ×
    src_tokens), capped. Fractional epochs land deterministically via
    the Knuth multiplicative hash on doc_id (the same portable
    keep-decision as sample_systematic).

    Plan: weights are a |sources|-row broadcast; the corpus is touched
    once — join, integer explode (≤ cap copies), no shuffle of document
    payloads at all. At 100 TB copy_idx feeds the shuffle-free packer
    (llm_pack_sequences) downstream; nothing materializes text twice on
    disk."""
    d = table(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("bigint")).alias("n_tokens")
    )
    tot = t.agg(F.sum("n_tokens").alias("tot_tokens"), F.count("*").alias("n_srcs"))
    w = t.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(_EPOCH_CAP),
            F.col("tot_tokens").cast("double") / (F.col("n_srcs") * F.col("n_tokens")),
        ).alias("wt"),
    )
    frac_keep = (
        (F.col("doc_id") * KNUTH % KNUTH_MOD).cast("double") / KNUTH_MOD
        < F.col("wt") - F.floor("wt")
    )
    copies = d.join(F.broadcast(w), "source").select(
        "doc_id",
        "source",
        (F.floor("wt") + F.when(frac_keep, 1).otherwise(0)).cast("int").alias("n_copies"),
    )
    return (
        copies.filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
        )
    )


# ---------------------------------------------------------------------------
# URL-keyed document dedup (canonical-URL blocking -> keeper election)
# ---------------------------------------------------------------------------


@register(
    "llm_dedup_url_docs",
    oracle=f"""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/page/'
               || CAST(doc_id % 50 AS VARCHAR)
               || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&ref=home#frag'
                       ELSE '?fbclid=' || CAST(doc_id AS VARCHAR) END AS url
      FROM documents
    ), c AS (
      SELECT doc_id,
             rtrim(regexp_replace(regexp_replace(url, '#[^#]*$', ''),
                                  '{_TRACKING_RE}', '', 'g'), '?&') AS canon_url
      FROM u
    )
    SELECT canon_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
    FROM c GROUP BY 1
    """,
    section=_SEC,
)
def llm_dedup_url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup — the crawl-pipeline stage BEFORE any content
    hashing: pages re-crawled under tracking-param/fragment variants
    collapse onto their canonical URL, one keeper (lowest doc_id) elected
    per group. Composes `llm_url_normalize`'s canonicalization (same
    regexes, same explicit '?&' rtrim set) with the keeper-election shape
    of `llm_dedup_exact`. Synthetic URLs vary ONLY by tracking junk within
    a (source, page) bucket, so the canon key genuinely collapses them.

    Plan: per-row codegen canonicalization + ONE groupBy on the canon key
    (the shuffle carries URLs, not documents). At 100 TB this runs ahead
    of fetch/store — the cheapest dedup leverage in the whole pipeline."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed&ref=home#frag"))
        .otherwise(F.concat(F.lit("?fbclid="), F.col("doc_id").cast("string"))),
    )
    canon = F.rtrim(
        F.regexp_replace(F.regexp_replace(url, "#[^#]*$", ""), _TRACKING_RE, ""),
        F.lit("?&"),
    )
    return (
        d.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
    )


# ---------------------------------------------------------------------------
# Vocabulary OOV coverage (tokenizer-fit audit)
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 100


@register(
    "llm_vocab_oov",
    oracle=f"""
    WITH tok AS (
      SELECT source, t.token
      FROM (SELECT source, string_split(text, ' ') AS ts FROM documents) d,
           UNNEST(ts) AS t(token)
    ), cnt AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY 1
    ), vocab AS (
      SELECT token FROM cnt ORDER BY n DESC, token ASC LIMIT {_VOCAB_SIZE}
    )
    SELECT tok.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           FLOOR(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS oov_rate
    FROM tok LEFT JOIN vocab v USING (token)
    GROUP BY 1
    """,
    section=_SEC,
)
def llm_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage audit: per source, the out-of-vocabulary token
    rate against a top-{_VOCAB_SIZE} frequency vocabulary learned from the
    corpus itself (the go/no-go metric before freezing a tokenizer — a
    domain with high OOV gets its own merges or more vocab budget).

    Plan: one tokenize+count pass learns the vocab (top-k via
    TakeOrdered, deterministic count-then-token tie-break); the vocab is
    METADATA-scale and broadcast, so the coverage pass is a map-side
    explode + broadcast LEFT join + per-source partial agg — the corpus
    shuffles only |sources| partial rows. The exact-bigint / IEEE-floor
    rate math renders identically cross-engine."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    cnt = tok.groupBy("token").agg(F.count("*").alias("n"))
    vocab = (
        cnt.orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(_VOCAB_SIZE)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(oov).alias("n_oov"),
            dround(F.sum(oov).cast("double") / F.count("*"), 6).alias("oov_rate"),
        )
    )


@register(
    "llm_dedup_incremental",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT sha256(lower(trim(text))) AS h
      FROM documents WHERE source NOT IN ('src15','src16','src17','src18','src19')
    ), batch AS (
      SELECT doc_id, source, sha256(lower(trim(text))) AS h
      FROM documents WHERE source IN ('src15','src16','src17','src18','src19')
    ), in_batch_keeper AS (
      SELECT h, MIN(doc_id) AS doc_id FROM batch GROUP BY h
    )
    SELECT b.doc_id, b.source
    FROM batch b
    JOIN in_batch_keeper k ON b.h = k.h AND b.doc_id = k.doc_id
    WHERE b.h NOT IN (SELECT h FROM hist)
    """,
    section=_SEC,
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion dedup — the shape a DAILY crawl refresh
    runs: an incoming batch (sources src15-19 stand in for today's crawl)
    dedups (a) against the ALREADY-INGESTED corpus's hash ledger and (b)
    within itself (min-doc_id keeper), and only the survivors append. The
    historical side touches only its 32-byte hash column — never re-reads
    text — which is what makes re-deduplicating a 100 TB corpus against
    each day's delta affordable: the ledger is a compact hash table
    partitioned by hash prefix, the anti-join shuffles the small BATCH to
    the ledger's partitioning, and the ledger itself appends the
    survivors' hashes as the new day's state.

    Plan: hash computed map-side on both inputs; within-batch keeper is
    one hash-groupBy; the history check is a left ANTI join on the hash
    (no row explosion possible — both sides are distinct-per-hash)."""
    d = table(spark, sf_dir, "documents")
    new_srcs = ["src15", "src16", "src17", "src18", "src19"]
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    hist = (
        d.filter(~F.col("source").isin(new_srcs)).select(h.alias("h")).distinct()
    )
    batch = d.filter(F.col("source").isin(new_srcs)).select(
        "doc_id", "source", h.alias("h")
    )
    keeper = batch.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    return (
        batch.join(keeper, ["h", "doc_id"])
        .join(hist, "h", "left_anti")
        .select("doc_id", "source")
    )


_BPE_ROUNDS = 3


def _bpe_merge_expr(a: str, b: str) -> str:
    """Greedy left-to-right non-overlapping merge of adjacent symbol pair
    (a, b) -> a||b, as a pure fold expression (no UDF). Comparing against
    the ORIGINAL symbols makes overlap handling automatic: a just-merged
    token never string-equals `a` (lengths differ), so `aaa` under (a,a)
    becomes [aa, a], the textbook non-overlapping replace."""
    qa = a.replace("'", "\\'")
    qb = b.replace("'", "\\'")
    return f"""
    aggregate(
      syms,
      cast(array() as array<string>),
      (acc, x) -> IF(size(acc) > 0 AND element_at(acc, -1) = '{qa}' AND x = '{qb}',
                     concat(slice(acc, 1, size(acc) - 1),
                            array(concat('{qa}', '{qb}'))),
                     concat(acc, array(x))),
      acc -> acc)
    """


@register("llm_bpe_apply", oracle=None, section=_SEC)
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, the ITERATIVE trainer (Sennrich et al.
    2016) that `llm_bpe_pair_counts` supplies one round of: start from
    character symbols, then for R rounds (R=3) find the corpus-wide most
    frequent adjacent pair, merge every non-overlapping occurrence, and
    recount. Returns the training log — one row per round with the merged
    pair, its pre-merge frequency, and the total corpus symbol count after
    the merge (strictly decreasing; pinned in tests/test_properties.py
    together with round-1-equals-pair-counts-argmax and lossless-decode).

    Plan: the corpus collapses ONCE to the unique-word frequency
    dictionary (the representation Sennrich's reference trainer uses —
    every statistic below is frequency-weighted, so results are identical
    to instance-level counting while each round's working set is |vocab|,
    not |tokens|; measured 59 s → sub-second at the 10× fixture). Per
    round: one |vocab|-sized weighted pair count, a 1-row argmax collect
    (the same justified K-sized driver state as the k-means fit), and a
    map-side fold re-segmentation. Rounds compose linearly: at 100 TB
    each round is one pass over the dictionary, and production trainers
    batch dozens of merges per recount (the standard frequency-threshold
    batching) on this exact plan."""
    d = wide_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    segs = words.select(
        "w",
        "freq",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias(
            "syms"
        ),
    ).localCheckpoint()
    log_rows = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        # guard: a word fully merged to ONE symbol has no pairs —
        # sequence(1, 0) would run DESCENDING and index past the array
        pairs = segs.filter(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS a,"
                    "             element_at(syms, i + 1) AS b))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()[0]
        )
        segs = segs.withColumn(
            "syms", F.expr(_bpe_merge_expr(top["a"], top["b"]))
        ).localCheckpoint()
        n_after = segs.agg(F.sum(F.size("syms") * F.col("freq"))).collect()[0][0]
        log_rows.append(
            (rnd, top["a"] + "+" + top["b"], int(top["n"]), int(n_after))
        )
    return spark.createDataFrame(
        log_rows, "round INT, merged_pair STRING, pair_freq BIGINT, symbols_after BIGINT"
    )


_BLOCKLIST = ("error", "fatal", "crash")
_BLOCK_MAX_SHARE = 0.02


@register(
    "llm_blocklist_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('error', 'fatal', 'crash'))) AS n_blocked,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, CAST(n_blocked AS BIGINT) AS n_blocked,
           CASE WHEN CAST(n_blocked AS DOUBLE) / n_tokens <= {_BLOCK_MAX_SHARE}
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM scored
    """,
    section=_SEC,
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-based content filter — the C4/Gopher-style wordlist stage
    every corpus build runs before training: per-document blocked-token
    count and share against a curated list, keep/drop verdict at a share
    threshold. The predicate is a pure row-level array filter (codegen,
    zero shuffle, zero index); at 100 TB the real blocklists (thousands
    of terms) ride a broadcast set or compile into one regex — either
    way the plan shape is identical: one map-side pass over the scan."""
    d = table(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    blocked = F.size(
        F.filter("toks", lambda t: t.isin(*_BLOCKLIST))
    )
    return d.select(
        "doc_id",
        "source",
        blocked.cast("bigint").alias("n_blocked"),
        F.when(
            blocked.cast("double") / F.size("toks") <= _BLOCK_MAX_SHARE,
            F.lit("keep"),
        )
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    )


_CDC_W = 4       # rolling-window width (tokens)
_CDC_MASK = 16   # boundary when window-hash % 16 == 0 -> ~16-token chunks


def _cdc_chunks(docs: DataFrame) -> DataFrame:
    """Content-defined chunking over (doc_id, text): cut points fall where
    the hash of the trailing token window hits a target residue, so chunk
    boundaries depend only on LOCAL content — inserting a sentence at the
    front shifts fixed-stride chunks everywhere but re-synchronizes CDC
    chunks at the next content boundary (the FastCDC/rsync principle).
    Pure column expressions: window hashes via transform + a portable
    md5-prefix hash (engine-reproducible, so the whole chunker carries a
    DuckDB oracle), cut positions via filter, chunk extraction via slice."""
    w, m = _CDC_W, _CDC_MASK
    h = "CAST(conv(substring(md5({x}), 1, 12), 16, 10) AS BIGINT)"
    win_txt = f"concat_ws(' ', slice(toks, i - {w}, {w}))"
    win_hash = h.format(x=win_txt)
    return (
        docs.withColumn("toks", F.split("text", " "))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= w)
        # cut BEFORE position i when the window ending at i-1 hits residue 0
        .withColumn(
            "cuts",
            # n == window width -> no interior cut candidates (the doc is
            # one chunk); sequence(w+1, n) would run DESCENDING there and
            # slice() from index 0 — guard with an empty cut list
            F.expr(
                f"IF(n <= {w}, cast(array() as array<int>), "
                f"filter(transform(sequence({w} + 1, n), "
                f"  i -> IF(pmod({win_hash}, {m}) = 0, "
                f"          i - 1, -1)), x -> x > 0))"
            ),
        )
        .withColumn(
            "bounds",
            F.expr("concat(array(0), cuts, array(n))"),
        )
        .withColumn(
            "chunks",
            F.expr(
                "filter(transform(sequence(1, size(bounds) - 1), "
                "  j -> concat_ws(' ', slice(toks, element_at(bounds, j) + 1, "
                "       element_at(bounds, j + 1) - element_at(bounds, j)))), "
                "  c -> c <> '')"
            ),
        )
        # posexplode_OUTER, then drop the (never-occurring) null row: the
        # inner generator makes InferFiltersFromGenerate push a
        # size(chunks) > 0 filter below the scan-side Exchange, where it
        # re-evaluates the ENTIRE chunk pipeline per row on the single
        # pre-repartition split (measured 21 s for a 1.5 s job at sf0.1);
        # outer generators get no inferred filter, so the heavy expression
        # runs exactly once, after the parallelizing exchange
        .select(
            "doc_id", F.posexplode_outer("chunks").alias("chunk_idx", "chunk_text")
        )
        .filter(F.col("chunk_text").isNotNull())
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(h.format(x="chunk_text")).alias("chunk_hash"),
            F.size(F.split("chunk_text", " ")).alias("chunk_tokens"),
        )
    )


# DuckDB twin of the md5-48 token hash (same fold as llm_fingerprint's)
_CDC_H_SQL = (
    "list_reduce(list_transform(string_split(substring(md5({x}), 1, 12), ''),"
    " c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),"
    " (a, b) -> a * 16 + b)"
)

_CDC_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) >= {_CDC_W}
    ), cuts AS (
      SELECT doc_id, toks, n,
             CASE WHEN n <= {_CDC_W} THEN CAST([] AS BIGINT[]) ELSE
               list_filter(list_transform(generate_series({_CDC_W} + 1, n),
                 i -> CASE WHEN ({_CDC_H_SQL.format(
                        x=f"array_to_string(list_slice(toks, i - {_CDC_W}, i - 1), ' ')")})
                             % {_CDC_MASK} = 0
                      THEN i - 1 ELSE -1 END), x -> x > 0)
             END AS cuts
      FROM t
    ), bounds AS (
      SELECT doc_id, toks,
             list_concat(list_concat([CAST(0 AS BIGINT)], cuts),
                         [CAST(n AS BIGINT)]) AS bounds
      FROM cuts
    ), chunks AS (
      SELECT doc_id,
             list_filter(list_transform(generate_series(1, len(bounds) - 1),
               j -> array_to_string(
                      list_slice(toks, bounds[j] + 1, bounds[j + 1]), ' ')),
               c -> c <> '') AS chunks
      FROM bounds
    ), ex AS (
      SELECT doc_id,
             unnest(list_transform(chunks,
               (c, i) -> struct_pack(idx := i - 1, txt := c))) AS s
      FROM chunks
    )
    SELECT doc_id,
           CAST(s.idx AS INTEGER) AS chunk_idx,
           {_CDC_H_SQL.format(x="s.txt")} AS chunk_hash,
           CAST(len(string_split(s.txt, ' ')) AS INTEGER) AS chunk_tokens
    FROM ex
"""


@register("llm_cdc_chunk", oracle=_CDC_ORACLE, section=_SEC)
def llm_cdc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/FastCDC boundary rule applied
    to tokens): chunks end where the trailing 4-token window's hash ≡ 0
    (mod 16), giving ~16-token expected chunks whose boundaries are
    SHIFT-ROBUST — the property fixed-stride windows (`llm_chunk_windows`)
    lack, and the reason storage dedup and incremental-crawl dedup use
    CDC: an edit near the start changes only the chunks it touches.
    tests/test_properties.py pins (a) chunk reconstruction == document
    and (b) re-synchronization: a prefix-shifted copy shares every chunk
    hash beyond the first boundary after the edit. The boundary and chunk
    hashes are portable md5-48 prefixes (round 8), so the full chunker —
    boundary detection, slicing, posexplode — carries a DuckDB hash
    oracle; promoted from rows-only.

    Plan: everything is map-side array arithmetic per document (no
    shuffle until the consumer groups by chunk_hash for dedup); at
    100 TB the chunk-hash groupBy IS the dedup shuffle and carries
    8-byte hashes. The scan rides wide_table: per-row window hashing is
    exactly the CPU-heavy shape the landing-file parallelism guard exists
    for (a single small parquet split would serialize the whole chunker
    on one core — measured 21 s -> ~2 s at sf0.1 on local[32])."""
    return _cdc_chunks(wide_table(spark, sf_dir, "documents").select("doc_id", "text"))


@register(
    "llm_corpus_lineage",
    oracle="""
    WITH gated AS (
      SELECT doc_id,
             lang NOT IN ('en', 'es') AS g_lang,
             n_chars NOT BETWEEN 100 AND 500 AS g_len,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('error', 'fatal', 'crash')))
               > 0.02 * len(string_split(text, ' ')) AS g_block,
             doc_id <> MIN(doc_id) OVER (PARTITION BY sha256(lower(trim(text))))
               AS g_dup
      FROM documents
    )
    SELECT CASE WHEN g_lang THEN 'lang_filter'
                WHEN g_len THEN 'length_filter'
                WHEN g_block THEN 'blocklist'
                WHEN g_dup THEN 'dup_loser'
                ELSE 'kept' END AS dropped_by,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM gated
    GROUP BY 1
    ORDER BY 1
    """,
    section=_SEC,
)
def llm_corpus_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline lineage accounting — per-document attribution of WHICH
    gate dropped it (language, length, blocklist, dedup-loser, or kept),
    summarized as the funnel every corpus build publishes next to its
    data card. All gates evaluate in ONE pass (each is a map-side
    predicate; the dedup-loser bit is a min-over-hash window whose
    partitions are the duplicate groups), with first-gate-wins
    attribution so the counts sum to the corpus. At 100 TB this replaces
    N separate 'how many did stage X drop' scans with one — and because
    attribution is deterministic, two builds can diff their funnels to
    localize a regression to a stage."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    blocked = F.size(F.filter(toks, lambda t: t.isin("error", "fatal", "crash")))
    w = Window.partitionBy(F.sha2(F.lower(F.trim(F.col("text"))), 256))
    gated = d.select(
        "doc_id",
        (~F.col("lang").isin("en", "es")).alias("g_lang"),
        (~F.col("n_chars").between(100, 500)).alias("g_len"),
        (blocked > 0.02 * F.size(toks)).alias("g_block"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("g_dup"),
    )
    reason = (
        F.when(F.col("g_lang"), "lang_filter")
        .when(F.col("g_len"), "length_filter")
        .when(F.col("g_block"), "blocklist")
        .when(F.col("g_dup"), "dup_loser")
        .otherwise("kept")
    )
    return (
        gated.groupBy(reason.alias("dropped_by"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("dropped_by")
    )


# ---------------------------------------------------------------------------
# C4-style line-level quality filtering (Raffel et al. 2020, §2.2)
# ---------------------------------------------------------------------------

# A line survives C4 if it ends in terminal punctuation AND has >= 5 words.
_C4_LINE_MIN_WORDS = 5
_C4_MIN_SENTENCES = 3


@register(
    "llm_quality_c4",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines,
             CAST(length(regexp_replace(text, '[^.!?]', '', 'g')) AS INTEGER)
               AS n_sentences,
             contains(text, '{{') AS has_brace,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(lower(text), 'javascript') AS has_js
      FROM documents
    ), m AS (
      SELECT doc_id, n_sentences, has_brace, has_lorem, has_js,
             CAST(len(lines) AS INTEGER) AS n_lines,
             CAST(len(list_filter(lines,
                  x -> regexp_matches(x, '[.!?"]$')
                       AND len(string_split(x, ' ')) >= {_C4_LINE_MIN_WORDS}))
                  AS INTEGER) AS n_kept_lines,
             COALESCE(array_to_string(list_filter(lines,
                  x -> regexp_matches(x, '[.!?"]$')
                       AND len(string_split(x, ' ')) >= {_C4_LINE_MIN_WORDS}),
                  chr(10)), '') AS clean_text
      FROM t
    )
    SELECT doc_id, n_lines, n_kept_lines, n_sentences,
           has_brace, has_lorem, has_js,
           (n_sentences >= {_C4_MIN_SENTENCES})
             AND NOT has_brace AND NOT has_lorem AND NOT has_js
             AND n_kept_lines > 0 AS keep,
           clean_text
    FROM m
    """,
    section=_SEC,
)
def llm_quality_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style (Raffel et al. 2020) line-level quality filter as a single
    scan: per-document line metrics (terminal-punctuation + min-word line
    rule), sentence count, boilerplate flags (curly brace / lorem ipsum /
    javascript), the page-level keep verdict, AND the cleaned text (only
    surviving lines, rejoined) — C4 is a TRANSFORM, not just a filter, so
    the cleaned column is part of the contract. All array-lambda codegen
    (split/filter/array_join) — no explode, no shuffle, no Python; at
    100 TB this is a map-only pass like llm_quality_gopher, and the two
    together give the Gopher-rules + C4-rules pair every web-corpus
    pipeline runs. (The synthetic fixture has no punctuation or newlines,
    so the line rules mostly reject — the SQL oracle pins that behavior
    exactly; the rules fire for real on punctuated corpora.)"""
    lines = F.split("text", "\n")
    kept = F.filter(
        lines,
        lambda x: x.rlike('[.!?"]$')
        & (F.size(F.split(x, " ")) >= _C4_LINE_MIN_WORDS),
    )
    t = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        F.length(F.regexp_replace("text", "[^.!?]", "")).alias("n_sentences"),
        F.col("text").contains("{").alias("has_brace"),
        F.lower("text").contains("lorem ipsum").alias("has_lorem"),
        F.lower("text").contains("javascript").alias("has_js"),
        F.array_join(kept, "\n").alias("clean_text"),
    )
    return t.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        "has_brace",
        "has_lorem",
        "has_js",
        (
            (F.col("n_sentences") >= _C4_MIN_SENTENCES)
            & ~F.col("has_brace")
            & ~F.col("has_lorem")
            & ~F.col("has_js")
            & (F.col("n_kept_lines") > 0)
        ).alias("keep"),
        "clean_text",
    )


@register(
    "llm_repetition_ngram",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
      SELECT doc_id, toks,
        CASE WHEN len(toks) < 2 THEN []
             ELSE list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1])
        END AS bigrams
      FROM t
    )
    SELECT doc_id,
      CAST(len(bigrams) AS INTEGER) AS n_bigrams,
      FLOOR((CASE WHEN len(bigrams) = 0 THEN 0.0
        ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
      END) * 10000 + 0.5) / 10000 AS dup_bigram_frac,
      FLOOR((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
            * 10000 + 0.5) / 10000 AS dup_word_frac,
      (CASE WHEN len(bigrams) = 0 THEN 0.0
        ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
      END) < 0.2 AS passes
    FROM g
    """,
    section=_SEC,
)
def llm_repetition_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rule (Rae et al. 2021 §A1.1): the fraction of
    DUPLICATE word bigrams (and duplicate words) per document — the signal
    that catches boilerplate loops and keyboard-mash that the
    distinct-token fraction in llm_quality_gopher under-weights (a doc can
    have high distinct-word fraction yet repeat one phrase hundreds of
    times; the duplicate-bigram fraction sees the phrase). Documents pass
    at dup_bigram_frac < 0.2, Gopher's published threshold band.

    Pure-codegen array pipeline: split → `transform(sequence(...))` builds
    the bigram array in place → `array_distinct` sizes give the duplicate
    fractions. One scan, zero shuffles, zero Python — the cheapest kind of
    100 TB filter (runs map-side inside the ingest scan, like
    llm_quality_c4). Guards: a <2-token doc has no bigrams (Spark
    `sequence(0,-1)` would count DOWN, so the branch is explicit) and a
    0-bigram doc scores 0.0 (clean), not NULL."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    g = t.withColumn(
        "bigrams",
        F.when(
            F.size("toks") < 2, F.expr("CAST(array() AS ARRAY<STRING>)")
        ).otherwise(
            F.expr(
                "transform(sequence(0, size(toks)-2),"
                " i -> concat(toks[i], ' ', toks[i+1]))"
            )
        ),
    )
    n_big = F.size("bigrams")
    dup_big = F.when(n_big == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct("bigrams")).cast("double") / n_big
    )
    dup_word = F.lit(1.0) - F.size(F.array_distinct("toks")).cast("double") / F.size(
        "toks"
    )
    return g.select(
        "doc_id",
        n_big.cast("int").alias("n_bigrams"),
        dround(dup_big, 4).alias("dup_bigram_frac"),
        dround(dup_word, 4).alias("dup_word_frac"),
        (dup_big < 0.2).alias("passes"),
    )


@register(
    "llm_dup_cluster_stats",
    oracle="""
    WITH g AS (
      SELECT substr(text, 1, 64) AS pfx, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM documents GROUP BY pfx HAVING COUNT(*) >= 2
    )
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
    FROM g GROUP BY cluster_size ORDER BY cluster_size
    """,
    section=_SEC,
)
def llm_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution under the 64-char-prefix
    relation (llm_dedup_prefix's key) — the dedup DIAGNOSTIC every corpus
    report needs before anyone runs removal: how many clusters, how big,
    and how many docs a keep-one policy would delete (n_removable). Web
    crawls follow a power law here; a sudden spike in large clusters is
    the canonical symptom of a crawler trap or a mirror site entering the
    crawl, which makes this histogram a data-quality alarm, not just a
    curiosity.

    Plan: group by the 64-byte prefix — the full text column never
    shuffles, only the fixed-width key (the same trick every dedup key in
    llm.py uses, here it IS the whole job) — then a second ≤|distinct
    sizes| partial agg. Two map-combined exchanges, no joins, no Python;
    at 100 TB this runs as a side output of the ingest scan."""
    d = table(spark, sf_dir, "documents")
    g = (
        d.groupBy(F.substring("text", 1, 64).alias("pfx"))
        .agg(F.count("*").cast("bigint").alias("cluster_size"))
        .filter(F.col("cluster_size") >= 2)
    )
    return (
        g.groupBy("cluster_size")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
            F.sum(F.col("cluster_size") - 1).cast("bigint").alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@register(
    "llm_dataset_card",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents)
    SELECT 'n_docs' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM documents
    UNION ALL
    SELECT 'total_chars', CAST(SUM(n_chars) AS DOUBLE) FROM documents
    UNION ALL
    SELECT 'mean_chars',
           FLOOR(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
    FROM documents
    UNION ALL
    SELECT 'p50_chars', CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) FROM documents
    UNION ALL
    SELECT 'lang_frac:' || lang, FLOOR(COUNT(*) / nd * 10000 + 0.5) / 10000
    FROM documents, n GROUP BY lang, nd
    UNION ALL
    SELECT 'source_frac:' || source, FLOOR(COUNT(*) / nd * 10000 + 0.5) / 10000
    FROM documents, n GROUP BY source, nd
    UNION ALL
    SELECT 'prefix_dup_frac',
           COALESCE(FLOOR(SUM(cs) / MIN(nd) * 10000 + 0.5) / 10000, 0.0)
    FROM (SELECT substr(text, 1, 64) AS p, COUNT(*) AS cs
          FROM documents GROUP BY p HAVING COUNT(*) >= 2), n
    ORDER BY metric
    """,
    section=_SEC,
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card ("datasheets for datasets", Gebru et al. 2021 — the
    release artifact every published corpus ships): one long-format
    report with the headline composition numbers — volume (docs, chars,
    mean/median length), language and source mixes, and the
    prefix-duplicate rate — each a (metric, value) row so downstream
    tooling diffs cards across corpus versions mechanically. Composes the
    same metrics llm_corpus_stats / llm_dup_cluster_stats expose
    individually into the single publishable summary.

    Plan: one global agg (volume block), two tiny group-bys sharing the
    documents scan, the prefix-dup agg (fixed-width key shuffle only),
    and a broadcast of the 1-row total for the fractions; the unions are
    metadata-sized. Every number is exact (integer counts, integral
    char sums) — a card must be reproducible bit-for-bit or version
    diffs are noise. At 100 TB each block is a partial+final agg; the
    card costs one pass over doc METADATA (text touched only for the
    64-byte prefix)."""
    d = table(spark, sf_dir, "documents")
    # r14 (guide §1.2): the 1-row total broadcasts into THREE fraction
    # blocks and each reference used to re-run the full count scan — one
    # lazy localCheckpoint computes it once.
    nd = d.agg(F.count("*").cast("double").alias("nd")).localCheckpoint(
        eager=False
    )
    vol = d.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("n_chars").cast("double").alias("total_chars"),
        F.expr("percentile_disc(0.5) within group (order by n_chars)")
        .cast("double")
        .alias("p50_chars"),
    )
    card_rows = vol.select(
        F.explode(
            F.array(
                F.struct(F.lit("n_docs").alias("metric"), F.col("n_docs").alias("value")),
                F.struct(F.lit("total_chars").alias("metric"), F.col("total_chars").alias("value")),
                F.struct(
                    F.lit("mean_chars").alias("metric"),
                    dround(F.col("total_chars") / F.col("n_docs"), 4).alias("value"),
                ),
                F.struct(F.lit("p50_chars").alias("metric"), F.col("p50_chars").alias("value")),
            )
        ).alias("r")
    ).select("r.*")
    lang = (
        d.groupBy("lang")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(nd))
        .select(
            F.concat(F.lit("lang_frac:"), F.col("lang")).alias("metric"),
            dround(F.col("c") / F.col("nd"), 4).alias("value"),
        )
    )
    src = (
        d.groupBy("source")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(nd))
        .select(
            F.concat(F.lit("source_frac:"), F.col("source")).alias("metric"),
            dround(F.col("c") / F.col("nd"), 4).alias("value"),
        )
    )
    dup = (
        d.groupBy(F.substring("text", 1, 64).alias("p"))
        .agg(F.count("*").alias("cs"))
        .filter(F.col("cs") >= 2)
        .crossJoin(F.broadcast(nd))
        .agg(
            # a duplicate-free corpus leaves this agg with zero input rows:
            # MIN(nd) is then NULL and the quotient NULL — coalesce the
            # WHOLE metric to 0.0 (clean corpus), never emit a NULL card row
            F.coalesce(
                dround(F.sum("cs").cast("double") / F.min("nd"), 4), F.lit(0.0)
            ).alias("value")
        )
        .select(F.lit("prefix_dup_frac").alias("metric"), "value")
    )
    return card_rows.unionByName(lang).unionByName(src).unionByName(dup).orderBy("metric")


# ---------------------------------------------------------------------------
# Round 8: cross-doc boilerplate detection, importance sampling, winnowing
# ---------------------------------------------------------------------------

_BOILER_K = 8  # gram width for cross-doc boilerplate detection


@register(
    "llm_boilerplate_ngrams",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - {_BOILER_K - 1}),
               i -> array_to_string(list_slice(string_split(text, ' '),
                                               i, i + {_BOILER_K - 1}), ' ')))) AS gram
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_BOILER_K}
    ), boiler AS (
      SELECT source, gram
      FROM g GROUP BY source, gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), per_doc AS (
      SELECT g.doc_id, COUNT(*) AS n_grams,
             SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
      FROM g LEFT JOIN boiler b ON g.source = b.source AND g.gram = b.gram
      GROUP BY g.doc_id
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_boiler AS BIGINT) AS n_boiler,
           FLOOR(CAST(n_boiler AS DOUBLE) / n_grams * 10000 + 0.5) / 10000
             AS boiler_ratio
    FROM per_doc
    WHERE n_boiler > 0
    """,
    section=_SEC,
)
def llm_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: word 8-grams shared by >=2
    distinct docs of the SAME source are 'boilerplate' (headers, footers,
    licence blocks, template text — the shared spans that survive exact
    dedup because the surrounding doc differs); emits per-doc boilerplate
    counts and ratio for docs carrying any. The curation signal C4/Gopher
    filters don't give you: repetition ACROSS documents, localized to a
    source.

    Scale design: grams are per-doc DISTINCT before the explode (bounds the
    shuffle by unique spans, not positions) and shuffle as 128-bit digest
    STRUCTS (two independently-seeded xxhash64 values — a collision must
    win both, ~2^-128, so distinct grams cannot silently merge and drift
    from the oracle's raw-string compare), never the 8-word strings — the
    dedup family's convention; the boilerplate set is a groupBy(source,
    digest) with an early HAVING; the tag-back join is keyed (source,
    digest) — co-partitioned with the gram explode, never all-pairs."""
    d = _docs_tokens(spark, sf_dir, wide=True).filter(F.size("toks") >= _BOILER_K)
    grams = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(transform(sequence(1, size(toks) - {_BOILER_K - 1}),"
                    f" i -> array_join(slice(toks, i, {_BOILER_K}), ' ')),"
                    f" s -> named_struct('h1', xxhash64(s),"
                    f" 'h2', xxhash64(-7046029254386353131L, s)))"
                )
            )
        ).alias("gh"),
    )
    # r14 (guide §1.2): grams feeds BOTH the boilerplate-set build and the
    # tag-back join — one lazy localCheckpoint runs the 8-gram digest
    # explode (two xxhash64 per gram) once instead of twice.
    grams = grams.localCheckpoint(eager=False)
    boiler = (
        grams.groupBy("source", "gh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("source", "gh", F.lit(1).alias("is_boiler"))
    )
    per_doc = (
        grams.join(boiler, ["source", "gh"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).alias("n_boiler"),
        )
    )
    return per_doc.filter(F.col("n_boiler") > 0).select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_boiler").cast("bigint").alias("n_boiler"),
        dround(F.col("n_boiler").cast("double") / F.col("n_grams"), 4).alias(
            "boiler_ratio"
        ),
    )


@register(
    "llm_sample_importance",
    oracle=f"""
    SELECT doc_id,
           FLOOR(LEAST(CAST(n_chars AS DOUBLE) / 400, 1.0) * 10000 + 0.5) / 10000
             AS weight
    FROM documents
    WHERE CAST((doc_id * {KNUTH}) % {KNUTH_MOD} AS DOUBLE) / {KNUTH_MOD}
          < LEAST(CAST(n_chars AS DOUBLE) / 400, 1.0)
    """,
    section=_SEC,
)
def llm_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document importance sampling: keep doc i with probability equal
    to its weight (here a capped length prior — longer docs carry more
    training signal per scan), decided by comparing the Knuth multiplicative
    hash of doc_id against the weight. Row-level weighted sampling, the
    per-doc complement of llm_sample_temperature's per-LANGUAGE rates.

    Deterministic (same doc → same verdict on every run/engine/partition —
    a reproducible corpus build can't use rand()), zero-shuffle (pure
    codegen row predicate), and unbiased: hash(doc_id)/2^32 is uniform on
    [0,1) across the key space."""
    d = table(spark, sf_dir, "documents")
    weight = F.least(F.col("n_chars").cast("double") / 400, F.lit(1.0))
    u = (
        F.pmod(F.col("doc_id") * F.lit(KNUTH), F.lit(KNUTH_MOD)).cast("double")
        / F.lit(KNUTH_MOD)
    )
    return d.filter(u < weight).select("doc_id", dround(weight, 4).alias("weight"))


_WINNOW_K = 5  # gram width (tokens per k-gram)
_WINNOW_W = 4  # winnowing window (k-gram hashes per window)

# Portable 48-bit k-gram hash (md5 prefix), same scheme as llm_fingerprint.
_WN_HASH_SPARK = "CAST(conv(substring(md5({g}), 1, 12), 16, 10) AS BIGINT)"


@register(
    "llm_winnow_fingerprint",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= {_WINNOW_K + _WINNOW_W - 1}
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - {_WINNOW_K - 1}),
               i -> list_reduce(list_transform(
                      string_split(substring(md5(array_to_string(
                        list_slice(toks, i, i + {_WINNOW_K - 1}), ' ')), 1, 12), ''),
                      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                    (a, b) -> a * 16 + b)) AS gh
      FROM tok
    ), pos AS (
      SELECT doc_id, gh,
             unnest(generate_series(1, len(gh) - {_WINNOW_W - 1})) AS p
      FROM g
    )
    SELECT DISTINCT doc_id,
           p + list_max(list_transform(generate_series(1, {_WINNOW_W}),
                 i -> CASE WHEN gh[p + i - 1] =
                             list_min(list_slice(gh, p, p + {_WINNOW_W - 1}))
                      THEN i ELSE 0 END)) - 1 AS pos,
           list_min(list_slice(gh, p, p + {_WINNOW_W - 1})) AS fp
    FROM pos
    """,
    section=_SEC,
)
def llm_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every 5-token k-gram, slide a 4-hash window, keep the
    window minimum (rightmost on ties), dedupe — the guaranteed-coverage
    fingerprint subset (every match of >= k+w-1 tokens shares a selected
    fingerprint) at ~1/w the storage of full k-gram sets. The
    position-aware complement of MinHash: survives partial overlap and
    localizes WHERE docs overlap.

    Engine-portable per-gram hash (md5 48-bit prefix, the llm_fingerprint
    scheme) makes the whole selection carry a full hash oracle. All work is
    per-row higher-order array expressions — zero shuffle until the final
    distinct, whose input is already ~|doc|/w rows. At 100 TB the selected
    (fp, doc, pos) rows feed a groupBy(fp) to find cross-doc matches —
    postings-sized, never all-pairs."""
    d = _docs_tokens(spark, sf_dir, wide=True).filter(
        F.size("toks") >= _WINNOW_K + _WINNOW_W - 1
    )
    gram = f"array_join(slice(toks, i, {_WINNOW_K}), ' ')"
    gh = (
        f"transform(sequence(1, size(toks) - {_WINNOW_K - 1}),"
        f" i -> {_WN_HASH_SPARK.format(g=gram)})"
    )
    sel = (
        f"transform(sequence(1, size(gh) - {_WINNOW_W - 1}), p -> named_struct("
        f"'pos', CAST(p + aggregate(sequence(1, {_WINNOW_W}), 0,"
        f" (acc, i) -> IF(element_at(gh, p + i - 1) ="
        f"   array_min(slice(gh, p, {_WINNOW_W})), i, acc)) - 1 AS BIGINT),"
        f" 'fp', array_min(slice(gh, p, {_WINNOW_W}))))"
    )
    return (
        d.withColumn("gh", F.expr(gh))
        .select("doc_id", F.explode(F.expr(sel)).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
        .distinct()
    )


_CONTAIN_DF_CAP = 50  # stop-shingle cap: postings longer than this are dropped
_CONTAIN_T = 0.9  # containment threshold


@register(
    "llm_dedup_containment",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> array_to_string(list_slice(string_split(text, ' '),
                                               i, i + 2), ' '))) AS shingle
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh) t
      WHERE df <= {_CONTAIN_DF_CAP}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM capped GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
           FLOOR(CAST(n_common AS DOUBLE) / sa.n_sh * 10000 + 0.5) / 10000
             AS containment
    FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
    WHERE CAST(n_common AS DOUBLE) / sa.n_sh >= {_CONTAIN_T}
    """,
    section=_SEC,
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: emit (doc_a, doc_b) where >= 90% of
    doc_a's distinct 3-shingles also occur in doc_b — the 'A is embedded in
    B' relation Jaccard misses (a short doc quoted inside a long one has low
    Jaccard but containment ~1). The quote/excerpt detector a crawl dedup
    needs beside symmetric near-dup.

    Scale design: pair generation is a POSTINGS join on shingle (docs
    sharing a shingle meet; never all-pairs), with a document-frequency cap
    of {_CONTAIN_DF_CAP} dropping stop-shingles BEFORE the join — the
    standard bound that keeps a hot shingle ('in the the') from exploding
    the self-join quadratically; the cap is applied identically on both
    sides and in the denominator, so containment stays well-defined. At
    100 TB shingles shuffle as 64-bit digests, postings-partitioned."""
    d = _docs_tokens(spark, sf_dir, wide=True)
    sh = _shingles(d, 3)
    df_w = Window.partitionBy("shingle")
    # r14 (guide §1.2): capped feeds THREE consumers (both postings-join
    # sides and the per-doc sizes) and used to re-run the whole
    # tokenize -> shingle -> df-window pass for each. One lazy
    # localCheckpoint runs the data-scale pass once; the df-window already
    # hash-partitioned the postings by shingle, and the checkpoint
    # preserves that clustering for the self-join.
    capped = (
        sh.withColumn("df", F.count("*").over(df_w))
        .filter(F.col("df") <= _CONTAIN_DF_CAP)
        .select("doc_id", "shingle")
        .localCheckpoint(eager=False)
    )
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = capped.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = capped.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh"))
    contain = F.col("n_common").cast("double") / F.col("n_sh")
    return (
        pairs.join(sa, "doc_a")
        .filter(contain >= _CONTAIN_T)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            dround(contain, 4).alias("containment"),
        )
    )


_FH_DIMS = 64  # feature-hashing target dimensionality


@register(
    "llm_embed_feature_hash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), hashed AS (
      SELECT doc_id,
             {_md5_hex_fold_sql("t", 1, 12)} % {_FH_DIMS} AS dim,
             CASE WHEN ({_md5_hex_fold_sql("t", 1, 12)} // {_FH_DIMS}) % 2 = 0
                  THEN 1 ELSE -1 END AS sign
      FROM tok
    ), sparse AS (
      SELECT doc_id, dim, SUM(sign) AS raw
      FROM hashed GROUP BY doc_id, dim
      HAVING SUM(sign) <> 0
    ), normed AS (
      SELECT doc_id, dim, raw,
             sqrt(SUM(CAST(raw * raw AS DOUBLE)) OVER (PARTITION BY doc_id)) AS l2
      FROM sparse
    )
    SELECT doc_id, CAST(dim AS INTEGER) AS dim, CAST(raw AS BIGINT) AS raw,
           FLOOR(raw / l2 * 1000000 + 0.5) / 1000000 AS weight
    FROM normed
    """,
    section=_SEC,
)
def llm_embed_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (the hashing trick, Weinberger et al.
    2009 / sklearn HashingVectorizer): each token hashes to one of 64
    dimensions with a ±1 sign hash (the sign unbiases collisions), per-doc
    sums are L2-normalized — a deterministic, vocabulary-free document
    embedding computed entirely inside the engine. The stand-in (and the
    classical baseline) for the GPU encoder a 100 TB embedding job would
    plug in at this exact point in the pipeline; downstream ANN/dedup
    operators consume either.

    Output is SPARSE (doc, dim, weight) rows — only non-zero dims — so the
    shuffle carries O(nnz), not docs × dims. Per-token hash is the
    portable md5-48 fold, so the whole vectorizer (bucketing, sign,
    normalization) carries a DuckDB hash oracle. One explode + one
    (doc, dim) partial agg + one per-doc window: two exchanges total."""
    d = _docs_tokens(spark, sf_dir, wide=True)
    toks = d.select("doc_id", F.explode("toks").alias("t"))
    h = F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("bigint")
    hashed = toks.select(
        "doc_id",
        F.pmod(h, F.lit(_FH_DIMS)).alias("dim"),
        F.when(F.pmod(F.floor(h / _FH_DIMS), 2) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    sparse = (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("sign").alias("raw"))
        .filter(F.col("raw") != 0)
    )
    l2 = F.sqrt(
        F.sum((F.col("raw") * F.col("raw")).cast("double")).over(
            Window.partitionBy("doc_id")
        )
    )
    return sparse.select(
        "doc_id",
        F.col("dim").cast("int").alias("dim"),
        F.col("raw").cast("bigint").alias("raw"),
        dround(F.col("raw") / l2, 6).alias("weight"),
    )


# Deterministic "trained" weights for the linear quality classifier: one
# weight per feature-hash dimension, derived from the Knuth hash so both
# engines materialize the identical literal vector. Stands in for the
# coefficients a real fasttext/logistic quality model would ship; the
# serving plan (sparse-feature dot product + sigmoid) is the production
# shape either way.
_QCLF_W = [((d * KNUTH) % 1000) / 1000.0 - 0.5 for d in range(_FH_DIMS)]
_QCLF_BIAS = 0.1
_QCLF_THRESH = 0.5


@register(
    "llm_quality_classifier_linear",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), hashed AS (
      SELECT doc_id,
             {_md5_hex_fold_sql("t", 1, 12)} % {_FH_DIMS} AS dim,
             CASE WHEN ({_md5_hex_fold_sql("t", 1, 12)} // {_FH_DIMS}) % 2 = 0
                  THEN 1 ELSE -1 END AS sign
      FROM tok
    ), sparse AS (
      SELECT doc_id, dim, SUM(sign) AS raw
      FROM hashed GROUP BY doc_id, dim
      HAVING SUM(sign) <> 0
    ), normed AS (
      SELECT doc_id, dim,
             raw / sqrt(SUM(CAST(raw * raw AS DOUBLE)) OVER (PARTITION BY doc_id))
               AS weight
      FROM sparse
    ), scored AS (
      SELECT doc_id,
             1.0 / (1.0 + exp(-({_QCLF_BIAS} + SUM(weight *
               CASE dim {" ".join(f"WHEN {d} THEN {w!r}" for d, w in enumerate(_QCLF_W))} END))))
               AS score
      FROM normed GROUP BY doc_id
    )
    SELECT doc_id,
           FLOOR(score * 1000000 + 0.5) / 1000000 AS score,
           score >= {_QCLF_THRESH} AS keep
    FROM scored
    """,
    section=_SEC,
)
def llm_quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the fasttext/logistic pattern the
    big-corpus builds use (score every document with a trained linear
    classifier over hashed features; keep above threshold): sigmoid(b +
    w·x) over the L2-normalized feature-hash vector, weights shipped as a
    64-literal broadcast expression. The deterministic stand-in for a real
    model's coefficients — swapping in trained weights changes ONE literal
    list, not the plan.

    Serving plan: reuses the feature-hash vectorizer's sparse rows; the
    dot product is a per-(doc, dim) multiply against a CASE-literal weight
    lookup folded into the same (doc) aggregation — zero extra shuffles
    beyond the vectorizer's own two, no weight table to join. At 100 TB
    weights stay a codegen literal (64 floats) regardless of corpus
    size."""
    d = _docs_tokens(spark, sf_dir, wide=True)
    toks = d.select("doc_id", F.explode("toks").alias("t"))
    h = F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("bigint")
    hashed = toks.select(
        "doc_id",
        F.pmod(h, F.lit(_FH_DIMS)).alias("dim"),
        F.when(F.pmod(F.floor(h / _FH_DIMS), 2) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    sparse = (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("sign").alias("raw"))
        .filter(F.col("raw") != 0)
    )
    l2 = F.sqrt(
        F.sum((F.col("raw") * F.col("raw")).cast("double")).over(
            Window.partitionBy("doc_id")
        )
    )
    w_expr = F.coalesce(
        *[F.when(F.col("dim") == d_, F.lit(w)) for d_, w in enumerate(_QCLF_W)]
    )
    contrib = (F.col("raw") / l2) * w_expr
    scored = (
        sparse.select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg((1.0 / (1.0 + F.exp(-(F.lit(_QCLF_BIAS) + F.sum("c"))))).alias("score"))
    )
    return scored.select(
        "doc_id",
        dround(F.col("score"), 6).alias("score"),
        (F.col("score") >= _QCLF_THRESH).alias("keep"),
    )


@register(
    "llm_corpus_diff",
    oracle="""
    WITH bounds AS (
      SELECT MAX(doc_id) AS mx FROM documents
    ), snap_a AS (
      SELECT doc_id, source, md5(text) AS h
      FROM documents, bounds WHERE doc_id <= mx * 3 / 4
    ), snap_b AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 7 = 0 THEN reverse(text) ELSE text END) AS h
      FROM documents, bounds WHERE doc_id > mx / 4
    ), joined AS (
      SELECT COALESCE(a.source, b.source) AS source,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
    )
    SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM joined GROUP BY source, status
    ORDER BY source, status
    """,
    section=_SEC,
)
def llm_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the release-notes table every dataset version
    bump publishes: per source, how many documents were added, removed,
    changed (same id, different content hash), or unchanged between two
    snapshots. Snapshots here are overlapping id-range slices of the
    fixture (with a deterministic in-place edit on every 7th doc so the
    'changed' class is exercised); a real deployment passes two real
    snapshot frames to the same plan.

    Plan: one FULL OUTER JOIN on doc_id between the two snapshots'
    (id, source, content-hash) projections — the join carries 16-byte
    hashes, never text — then a tiny (source, status) rollup. At 100 TB
    both sides prune to the id/hash projection at the scan and the join
    is the only data-sized exchange."""
    d = table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id")).first()[0]
    snap_a = d.filter(F.col("doc_id") <= mx * 3 // 4).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    snap_b = d.filter(F.col("doc_id") > mx // 4).select(
        "doc_id",
        "source",
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.reverse("text")).otherwise(
                F.col("text")
            )
        ).alias("h"),
    )
    a = snap_a.select(
        F.col("doc_id").alias("aid"), F.col("source").alias("asrc"), F.col("h").alias("ah")
    )
    b = snap_b.select(
        F.col("doc_id").alias("bid"), F.col("source").alias("bsrc"), F.col("h").alias("bh")
    )
    joined = a.join(b, a.aid == b.bid, "full_outer").select(
        F.coalesce("asrc", "bsrc").alias("source"),
        F.when(F.col("aid").isNull(), "added")
        .when(F.col("bid").isNull(), "removed")
        .when(F.col("ah") != F.col("bh"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        joined.groupBy("source", "status")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("source", "status")
    )


# T5-style span-corruption planning: block the token stream into fixed
# windows; each block masks one deterministic span. Block 20 / span <= 3
# gives the canonical ~15% noise density; start <= 16 + len <= 3 keeps
# every span inside its block, so spans are NON-OVERLAPPING by
# construction (no interval-merge pass — the property that makes the
# plan one codegen explode).
_SPANC_BLOCK = 20
_SPANC_START_MOD = 17
_SPANC_LEN_MOD = 3


def _spanc_hash_sql(expr: str) -> str:
    # portable 48-bit md5 integer (the llm_fingerprint idiom)
    return (
        f"list_reduce(list_transform(string_split("
        f"substring(md5({expr}), 1, 12), ''),"
        f" c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),"
        f" (a, b) -> a * 16 + b)"
    )


@register(
    "llm_span_corruption",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ), blocks AS (
      SELECT doc_id, n_tok, UNNEST(generate_series(0,
               CAST(FLOOR(n_tok / {_SPANC_BLOCK}.0) AS BIGINT) - 1)) AS b
      FROM d WHERE n_tok >= {_SPANC_BLOCK}
    )
    SELECT doc_id, CAST(b AS INTEGER) AS span_id,
           CAST(b * {_SPANC_BLOCK}
                + {_spanc_hash_sql("'sc:' || doc_id || ':' || b")}
                  % {_SPANC_START_MOD} AS BIGINT) AS start_tok,
           CAST(1 + {_spanc_hash_sql("'sl:' || doc_id || ':' || b")}
                  % {_SPANC_LEN_MOD} AS BIGINT) AS span_len
    FROM blocks
    ORDER BY doc_id, span_id
    """,
    section=_SEC,
)
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption mask planning (the T5/UL2 denoising objective's
    data-prep step): per document, emit the (start, length) token spans
    to mask — one span per 20-token block, start and length drawn from a
    portable md5 hash of (doc, block), lengths 1-3 → ~15% noise density,
    spans non-overlapping BY CONSTRUCTION (each lives inside its block:
    start offset <= 16, len <= 3). Downstream, a packer replaces each
    span with a sentinel token and emits the span as the target — this
    operator is the deterministic, shardable plan both sides consume
    (reproducible across engines, partitionings and reruns, which is
    what makes mid-training dataset rebuilds byte-identical).

    Plan: token count is one codegen projection; blocks explode via
    sequence() (bounded: n_tok/20 rows per doc); start/len are pure md5
    arithmetic — no shuffle at all until a downstream consumer groups.
    The md5-integer idiom is llm_fingerprint's (bit-identical in every
    engine, unlike xxhash64)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    blocks = d.filter(F.col("n_tok") >= _SPANC_BLOCK).select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                # floor BEFORE the bigint cast: DuckDB's CAST(double AS
                # BIGINT) rounds half-even, Spark's truncates — the
                # explicit floor is the cross-engine-safe block count
                F.floor(F.col("n_tok") / _SPANC_BLOCK).cast("bigint") - 1,
            )
        ).alias("b"),
    )
    h = lambda salt: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat(
                    F.lit(salt),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    return blocks.select(
        "doc_id",
        F.col("b").cast("int").alias("span_id"),
        (F.col("b") * _SPANC_BLOCK + h("sc:") % _SPANC_START_MOD)
        .cast("bigint")
        .alias("start_tok"),
        (1 + h("sl:") % _SPANC_LEN_MOD).cast("bigint").alias("span_len"),
    ).orderBy("doc_id", "span_id")
