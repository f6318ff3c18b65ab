"""Full-text search — MySQL 5.6 InnoDB FULLTEXT ``MATCH ... AGAINST``
analogue (the deployed engine supports FULLTEXT on InnoDB as of 5.6;
[ENGINE] pinned at mysql-persistent-template.json:68).

Two modes, like the reference engine:

- natural-language mode → per-doc relevance score over the query terms.
  MySQL's internal ranking formula is undocumented/engine-specific; the
  portable semantics ("docs containing query terms, ranked by TF×IDF-style
  relevance, non-matching docs absent") are reproduced with an explicit
  TF × ln((N+1)/(df+1)) weight so the score is cross-engine exact.
- boolean mode → ``+term -term`` required/excluded predicates.

Scale notes: the inverted shape (token → doc postings) is built by an
explode + groupBy — the same distributed inverted-index construction as
llm_tfidf_topterms. The per-term df lookup is a broadcast join (query terms
are a handful of rows); the scan never re-shuffles by token for boolean
mode, which is a pure codegen array predicate pushed at the row level.
Per-term weights are snapped to the 1e-8 grid and summed as DECIMAL so
relevance is order-independent (AQE/partitioning re-plans at 100 TB cannot
change results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sdp_spark.functions.num import DEC, dround
from sdp_spark.memo import memo
from sdp_spark.plans.registry import register
from sdp_spark.sources.fixtures import table

_SEC = "2.13 fulltext"

# natural-language query: MATCH(text) AGAINST('query spark join')
_FT_TERMS = ("query", "spark", "join")
_FT_IN = "('" + "', '".join(_FT_TERMS) + "')"


# Matched-term postings (doc_id, token, tf), cached per (app, sf_dir): tf
# and df both consume it, so the corpus is tokenized ONCE, not once per
# subtree (at 100 TB each uncached subtree is a full corpus explode).
@memo
def _cached_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    tok = d.select("doc_id", F.explode("toks").alias("token"))
    matched = tok.filter(F.col("token").isin(*_FT_TERMS))
    return matched.groupBy("doc_id", "token").agg(F.count("*").alias("tf")).cache()


# Query expansion's postings strategy (r9 VERDICT #7, measured in
# SCALING.md round 10): a .cache()d full-vocabulary (doc_id, token, tf)
# postings frame was tried and REJECTED for the cold path — at 100x the
# cache WRITE of 11.6M postings costs more than the tokenizations it
# saves (42.5 s cold vs 30.5 s for the fused uncached plan), though it
# wins on repeat traffic (7 s/query warm vs 28.7 s). The driver and
# bench are run-once-per-key, so the operator ships the cold-optimal
# plan: ONE fused full-vocabulary harvest pass (pool ftf + corpus df in
# a single grouped aggregation) instead of the r9 cand -> canddf chain,
# with the tiny filtered tf postings still session-cached (_cached_tf).
# A repeat-query deployment adds .cache() to the harvest lineage — one
# line, hash-identical.


@register(
    "filter_fulltext",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t.token
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
           UNNEST(toks) AS t(token)
    ), tfq AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok WHERE token IN {_FT_IN} GROUP BY 1, 2
    ), dfq AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df
      FROM tok WHERE token IN {_FT_IN} GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tfq.doc_id,
           CAST(ROUND(SUM(CAST(
                  FLOOR(tfq.tf * ln((n.n_docs + 1.0) / (dfq.df + 1.0))
                        * 100000000 + 0.5) / 100000000
                AS DECIMAL(30,8))), 6) AS DOUBLE) AS relevance
    FROM tfq JOIN dfq USING (token) CROSS JOIN n
    GROUP BY 1
    """,
    section=_SEC,
)
def filter_fulltext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH(text) AGAINST('query spark join') in natural-language mode:
    docs containing >= 1 query term, scored SUM_term tf × ln((N+1)/(df+1)).
    Postings for the query terms only (filter pushed below the tf agg); the
    cached tf postings feed BOTH the per-doc scores and the df counts (one
    corpus tokenization), df = COUNT(*) per token over tf — each (doc,
    token) appears once, so it equals COUNT(DISTINCT doc). df/N sides are
    broadcast; the corpus shuffles once, by (doc_id, token), and only for
    rows matching the query terms."""
    d = table(spark, sf_dir, "documents")
    tf = _cached_tf(spark, sf_dir)
    dfc = tf.groupBy("token").agg(F.count("*").alias("df"))
    ndf = d.agg(F.count("*").alias("n_docs"))
    # per-term weight snapped to the 1e-8 grid, summed exactly as DECIMAL —
    # relevance is identical under any aggregation order
    w = (
        F.floor(
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            * 100000000
            + 0.5
        )
        / 100000000
    )
    return (
        tf.join(F.broadcast(dfc), "token")
        .crossJoin(F.broadcast(ndf))
        .withColumn("w", w.cast(DEC))
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).cast("double").alias("relevance"))
    )


@register(
    "filter_fulltext_bool",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE list_contains(string_split(text, ' '), 'stream')
      AND NOT list_contains(string_split(text, ' '), 'window')
    """,
    section=_SEC,
)
def filter_fulltext_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH(text) AGAINST('+stream -window' IN BOOLEAN MODE): required /
    excluded terms as row-level array predicates — one codegen Filter, no
    inverted index, no shuffle."""
    d = table(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    return d.filter(
        F.array_contains("toks", "stream") & ~F.array_contains("toks", "window")
    ).select("doc_id", "lang", "n_chars")


# BM25 constants (Robertson/Lucene defaults).
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "fulltext_bm25",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t.token
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
           UNNEST(toks) AS t(token)
    ), tfq AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok WHERE token IN {_FT_IN} GROUP BY 1, 2
    ), dfq AS (
      SELECT token, COUNT(*) AS df FROM tfq GROUP BY 1
    ), dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), n AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
      FROM documents
    )
    SELECT tfq.doc_id,
           CAST(ROUND(SUM(CAST(
                  FLOOR(ln(1.0 + (n.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                        * (tfq.tf * ({_BM25_K1} + 1.0))
                        / (tfq.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                             + {_BM25_B} * dl.dl / n.avgdl))
                        * 100000000 + 0.5) / 100000000
                AS DECIMAL(30,8))), 6) AS DOUBLE) AS bm25
    FROM tfq
    JOIN dfq USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN n
    GROUP BY 1
    """,
    section=_SEC,
)
def fulltext_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked natural-language fulltext (the modern ranking the
    reference engine's TF-IDF-style FULLTEXT relevance approximates;
    Robertson et al., k1=1.2 b=0.75). Per-term weight
    idf(t) * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)) with the
    Lucene-style non-negative idf = ln(1 + (N-df+0.5)/(df+0.5)).

    Plan: the SAME cached matched-term postings as `filter_fulltext` (one
    corpus tokenization per session), df re-aggregated from the postings
    (broadcast — query terms are a handful of rows), per-doc length joined
    only for matching docs, corpus-level N/avgdl a broadcast 1-row
    aggregate. Weights snap to the 1e-8 grid and sum as DECIMAL, so the
    score is order-independent under AQE re-plans at 100 TB. avgdl is an
    exact bigint-sum / count quotient — bit-identical cross-engine."""
    d = table(spark, sf_dir, "documents")
    tf = _cached_tf(spark, sf_dir)
    dfc = tf.groupBy("token").agg(F.count("*").alias("df"))
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    n = d.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " "))).cast("double") / F.count("*")
        ).alias("avgdl"),
    )
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    w = idf * (F.col("tf") * (_BM25_K1 + 1.0)) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    w_snapped = F.floor(w * 100000000 + 0.5) / 100000000
    return (
        tf.join(F.broadcast(dfc), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .withColumn("w", w_snapped.cast(DEC))
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).cast("double").alias("bm25"))
    )


@register(
    "llm_inverted_index",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.token
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
           UNNEST(toks) AS t(token)
    ), tfd AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), stats AS (
      SELECT token, CAST(COUNT(*) AS INTEGER) AS df,
             CAST(SUM(tf) AS BIGINT) AS total_tf
      FROM tfd GROUP BY 1
    ), ranked AS (
      SELECT token, doc_id,
             ROW_NUMBER() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
      FROM tfd
    ), tops AS (
      SELECT token,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS postings
      FROM ranked WHERE rn <= 5 GROUP BY 1
    )
    SELECT s.token, s.df, s.total_tf, tops.postings
    FROM stats s JOIN tops USING (token)
    ORDER BY s.df DESC, s.token ASC
    LIMIT 50
    """,
    section=_SEC,
)
def llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted-index build (the structure behind the engine's
    FULLTEXT index, made explicit as a dataset): per term, document
    frequency, total term frequency, and a CAPPED posting sample (top-5
    docs by tf). Output: the 50 highest-df terms.

    Plan: explode → (token, doc_id) partial-agg → one token-keyed shuffle
    shared by the df/total_tf aggregate and the top-5 window; posting lists
    are bounded by construction (rn <= 5), so no unbounded collect_list
    ever ships — the classic distributed index-build shape. At 100 TB the
    same plan emits the FULL postings partitioned by term prefix; the top-k
    cap here stands in for posting-block truncation."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tfd = tok.groupBy("token", "doc_id").agg(F.count("*").alias("tf"))
    stats = tfd.groupBy("token").agg(
        F.count("*").cast("int").alias("df"), F.sum("tf").alias("total_tf")
    )
    w = Window.partitionBy("token").orderBy(F.col("tf").desc(), F.col("doc_id").asc())
    tops = (
        tfd.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda x: x["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return (
        stats.join(tops, "token")
        .select("token", "df", "total_tf", "postings")
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(50)
    )


_RRF_K = 60       # Cormack et al. 2009 constant
_RRF_POOL = 100   # per-modality candidate pool (rank cutoff)


@register(
    "llm_hybrid_search_rrf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t.token
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
           UNNEST(toks) AS t(token)
    ), tfq AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok WHERE token IN {_FT_IN} GROUP BY 1, 2
    ), dfq AS (
      SELECT token, COUNT(*) AS df FROM tfq GROUP BY 1
    ), dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), n AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
      FROM documents
    ), bm AS (
      SELECT tfq.doc_id,
             CAST(ROUND(SUM(CAST(
                    FLOOR(ln(1.0 + (n.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                          * (tfq.tf * ({_BM25_K1} + 1.0))
                          / (tfq.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                               + {_BM25_B} * dl.dl / n.avgdl))
                          * 100000000 + 0.5) / 100000000
                  AS DECIMAL(30,8))), 6) AS DOUBLE) AS bm25
      FROM tfq JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN n
      GROUP BY 1
    ), sparse AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM bm) t WHERE r <= {_RRF_POOL}
    ), q AS (
      SELECT embedding FROM embeddings WHERE vec_id = 1
    ), coss AS (
      SELECT c.vec_id,
             FLOOR(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(CAST(q.embedding AS DOUBLE[]), x -> x * x)))
                      * sqrt(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x))))
                   * 10000 + 0.5) / 10000 AS cos
      FROM embeddings c CROSS JOIN q WHERE c.vec_id <> 1
    ), dense AS (
      SELECT vec_id, r FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r
        FROM coss) t WHERE r <= {_RRF_POOL}
    )
    SELECT COALESCE(s.doc_id, d.vec_id) AS id,
           FLOOR((COALESCE(1.0 / ({_RRF_K} + s.r), 0.0)
                + COALESCE(1.0 / ({_RRF_K} + d.r), 0.0)) * 100000000 + 0.5)
             / 100000000 AS rrf_score,
           CAST(s.r AS BIGINT) AS bm25_rank,
           CAST(d.r AS BIGINT) AS cos_rank
    FROM sparse s FULL JOIN dense d ON s.doc_id = d.vec_id
    ORDER BY rrf_score DESC, id
    LIMIT 20
    """,
    section=_SEC,
)
def llm_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al., SIGIR
    2009): fuse the BM25 keyword ranking with an embedding-cosine ranking
    (query = vec 1's embedding, docs keyed doc_id == vec_id) as
    SUM 1/(k + rank), k=60, over each modality's top-100 pool — the
    standard RAG retrieval stage that needs no score normalization across
    incomparable scales.

    Plan: each modality reduces to its top-100 FIRST via orderBy().limit()
    — TakeOrderedAndProject, a parallel partial top-k with no global sort
    — and only then ranks with row_number over the 100-row pool (a
    bounded, metadata-scale window: the registry's no-global-window rule
    holds). The fusion join touches ≤200 rows. At 100 TB the pools come
    from the ANN/inverted-index paths (llm_sim_search_ivf,
    llm_inverted_index); RRF itself never sees the corpus."""
    from sdp_spark.operators.llm import _emb_normed

    bm = fulltext_bm25(spark, sf_dir)
    sparse_pool = bm.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(_RRF_POOL)
    ws = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    sparse = sparse_pool.select(
        "doc_id", F.row_number().over(ws).cast("bigint").alias("bm25_rank")
    )

    emb = _emb_normed(spark, sf_dir)
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 1).select(
            F.col("dvec").alias("qv"), F.col("norm").alias("qn")
        )
    )
    c = emb.filter(F.col("vec_id") != 1).select(
        "vec_id", F.col("dvec").alias("cv"), F.col("norm").alias("cn")
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    # dround, not F.round: Spark's shortest-decimal HALF_UP and DuckDB's
    # raw-binary ROUND can split on the 1e-4 half-grid, flipping a pool
    # rank (num.py hazard #2); the floor-form is bit-identical on both
    coss = c.crossJoin(q).select(
        "vec_id", dround(dot / (F.col("qn") * F.col("cn")), 4).alias("cos")
    )
    dense_pool = coss.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(_RRF_POOL)
    wd = Window.orderBy(F.col("cos").desc(), F.col("vec_id"))
    dense = dense_pool.select(
        "vec_id", F.row_number().over(wd).cast("bigint").alias("cos_rank")
    )

    rrf = (
        F.coalesce(1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("cos_rank")), F.lit(0.0))
    )
    return (
        sparse.join(dense, sparse.doc_id == dense.vec_id, "full")
        .select(
            F.coalesce("doc_id", "vec_id").alias("id"),
            (F.floor(rrf * 100000000 + F.lit(0.5)) / 100000000).alias("rrf_score"),
            "bm25_rank",
            "cos_rank",
        )
        .orderBy(F.col("rrf_score").desc(), F.col("id"))
        .limit(20)
    )


# Query-expansion (pseudo-relevance feedback) parameters: feedback pool of
# top-10 first-pass docs, 5 expansion terms. MySQL's WITH QUERY EXPANSION
# uses an undocumented blind-feedback variant of the same shape; the
# portable semantics ("rank, harvest salient terms from the best docs,
# re-rank with the widened query") are pinned exactly.
_QE_TOP_DOCS = 50
_QE_TOP_TERMS = 5
# MySQL FULLTEXT drops terms present in >= 50% of rows as noise; the same
# rule here keeps the expansion from degenerating into stopwords that
# match every doc.
_QE_MAX_DF_FRAC = 0.5


@register(
    "fulltext_query_expansion",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t.token
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
           UNNEST(toks) AS t(token)
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf1 AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok WHERE token IN {_FT_IN} GROUP BY 1, 2
    ), df1 AS (
      SELECT token, COUNT(*) AS df FROM tf1 GROUP BY 1
    ), rel1 AS (
      SELECT tf1.doc_id,
             SUM(CAST(FLOOR(tf1.tf * ln((n.n_docs + 1.0) / (df1.df + 1.0))
                            * 100000000 + 0.5) / 100000000
                 AS DECIMAL(30,8))) AS rel
      FROM tf1 JOIN df1 USING (token) CROSS JOIN n GROUP BY 1
    ), topd AS (
      SELECT doc_id FROM rel1 ORDER BY rel DESC, doc_id LIMIT {_QE_TOP_DOCS}
    ), cand AS (
      SELECT token, COUNT(*) AS ftf
      FROM tok
      WHERE doc_id IN (SELECT doc_id FROM topd) AND token NOT IN {_FT_IN}
      GROUP BY 1
    ), canddf AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df
      FROM tok WHERE token IN (SELECT token FROM cand) GROUP BY 1
    ), expt AS (
      SELECT cand.token
      FROM cand JOIN canddf USING (token) CROSS JOIN n
      WHERE canddf.df <= n.n_docs * {_QE_MAX_DF_FRAC}
      ORDER BY FLOOR(cand.ftf * ln((n.n_docs + 1.0) / (canddf.df + 1.0))
                     * 100000000 + 0.5) / 100000000 DESC, cand.token
      LIMIT {_QE_TOP_TERMS}
    ), terms AS (
      SELECT t.token FROM (SELECT UNNEST({list(_FT_TERMS)}) AS token) t
      UNION ALL SELECT token FROM expt
    ), tf2 AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok WHERE token IN (SELECT token FROM terms) GROUP BY 1, 2
    ), df2 AS (
      SELECT token, COUNT(*) AS df FROM tf2 GROUP BY 1
    )
    SELECT tf2.doc_id,
           CAST(ROUND(SUM(CAST(
                  FLOOR(tf2.tf * ln((n.n_docs + 1.0) / (df2.df + 1.0))
                        * 100000000 + 0.5) / 100000000
                AS DECIMAL(30,8))), 6) AS DOUBLE) AS relevance
    FROM tf2 JOIN df2 USING (token) CROSS JOIN n
    GROUP BY 1
    """,
    section=_SEC,
)
def fulltext_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH ... AGAINST(... WITH QUERY EXPANSION) — the engine's THIRD
    fulltext mode (blind pseudo-relevance feedback, Rocchio 1971 shape):
    pass 1 ranks the base query in natural-language mode; the top-50
    docs form the feedback pool; the 5 most salient pool terms (feedback
    tf x corpus idf, the same snapped TF-IDF weight the ranker uses,
    originals and noise terms with df > 50% of docs excluded — MySQL's
    common-word cut) widen the query; pass 2 re-ranks the corpus over
    the widened term set with the `filter_fulltext` formula. Output is
    pass 2's (doc_id, relevance) — a strict superset of the pass-1 doc
    set whenever any expansion term matches a new doc (recall widening
    is pytest-pinned on a planted corpus).

    Scale design: the corpus tokenization is ONE explode shared by both
    passes and the df lookups (tok is cheap lineage, and every consumer
    filters it by a tiny term/doc set before any shuffle). The feedback
    pool is a TakeOrderedAndProject over pass-1 scores (no global sort);
    the candidate-term harvest joins tok against the BROADCAST 50-doc
    pool; candidate df re-scans tok semi-joined on the bounded candidate
    vocabulary; term selection is a bounded top-5; pass 2 filters the
    corpus by an 8-term broadcast set. No collect — expansion terms stay
    a DataFrame, so the whole two-pass plan is one lazy DAG. Ties are
    impossible cross-engine: scores snap to the 1e-8 grid and sum as
    DECIMAL, and every LIMIT carries a unique tiebreaker.

    Cold-start re-plan (r9 VERDICT #7): the r9 plan ran cand -> canddf
    as two sequential full-corpus passes; they are now ONE fused grouped
    aggregation over the per-(doc, token) postings (pool ftf via a
    broadcast pool-membership flag + corpus df in the same pass — exact
    rewrites: SUM(tf) == the token-instance count, and COUNT(*) over
    postings == COUNT(DISTINCT doc_id)), so the hash is unchanged while
    the corpus explodes 3x instead of 4x and one broadcast barrier
    disappears. Measured: 15.5 -> 12.9 s cold / 4.2 -> 2.6 s warm at
    sf0.1, 46.6 -> 30.5 s cold at 100x. A fully-cached postings variant
    was measured and rejected for this run-once path (see the strategy
    note above `_QE_TOP_DOCS`)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    ptf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    ndf = d.agg(F.count("*").alias("n_docs"))

    def snapped_w(tf_col: str, df_col: str):
        return (
            F.floor(
                F.col(tf_col)
                * F.log((F.col("n_docs") + 1.0) / (F.col(df_col) + 1.0))
                * 100000000
                + 0.5
            )
            / 100000000
        )

    # pass 1: exact filter_fulltext scoring (shared cached tiny postings;
    # df as a count-window over tf1 — same value as the groupBy+broadcast
    # twin, one fewer broadcast barrier on the critical path)
    tf1 = _cached_tf(spark, sf_dir)
    wdf = Window.partitionBy("token")
    rel1 = (
        tf1.withColumn("df", F.count("*").over(wdf))
        .crossJoin(F.broadcast(ndf))
        .withColumn("w", snapped_w("tf", "df").cast(DEC))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("rel"))
    )
    topd = rel1.orderBy(F.col("rel").desc(), F.col("doc_id")).limit(_QE_TOP_DOCS)

    # harvest candidate expansion terms from the feedback pool: corpus
    # df and pool ftf in ONE grouped pass over the shared postings (a
    # left join against the broadcast 50-doc pool marks membership; a
    # token is a candidate iff its pool tf sum is positive) — the
    # previous cand -> canddf chain re-scanned the postings and added a
    # sequential broadcast barrier
    pool_flag = topd.select("doc_id", F.lit(1).alias("in_pool"))
    cand = (
        ptf.join(F.broadcast(pool_flag), "doc_id", "left")
        .groupBy("token")
        .agg(
            F.sum(
                F.when(F.col("in_pool") == 1, F.col("tf")).otherwise(F.lit(0))
            ).alias("ftf"),
            F.count("*").alias("df"),
        )
        .filter((F.col("ftf") > 0) & ~F.col("token").isin(*_FT_TERMS))
    )
    expt = (
        cand.crossJoin(F.broadcast(ndf))
        .filter(F.col("df") <= F.col("n_docs") * _QE_MAX_DF_FRAC)
        .select("token", snapped_w("ftf", "df").alias("sal"))
        .orderBy(F.col("sal").desc(), F.col("token"))
        .limit(_QE_TOP_TERMS)
        .select("token")
    )
    base_terms = spark.createDataFrame(
        [(t,) for t in _FT_TERMS], "token string"
    )
    terms = base_terms.unionByName(expt)

    # pass 2: re-rank over the widened term set (same formula, df from
    # the widened postings; filter-before-shuffle — joining the full-
    # vocab ptf here would force its aggregation just to keep 8 terms)
    tf2 = (
        tok.join(F.broadcast(terms), "token")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf2.withColumn("df", F.count("*").over(wdf))
        .crossJoin(F.broadcast(ndf))
        .withColumn("w", snapped_w("tf", "df").cast(DEC))
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).cast("double").alias("relevance"))
    )


_FT_PHRASE = ("spark", "join")  # MATCH(text) AGAINST('"spark join"' IN BOOLEAN MODE)


@register(
    "filter_fulltext_phrase",
    oracle="""
    WITH toks0 AS (
      SELECT doc_id, t.word, t.pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS word,
                           generate_subscripts(string_split(text, ' '), 1)
                             AS pos) t
      WHERE t.word <> ''
    ), toks AS (
      SELECT doc_id, word,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS idx
      FROM toks0
    )
    SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS occ
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
    WHERE a.word = 'spark' AND b.word = 'join'
    GROUP BY a.doc_id
    ORDER BY occ DESC, a.doc_id
    LIMIT 100
    """,
    section=_SEC,
)
def filter_fulltext_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third boolean-mode operator: EXACT PHRASE match — MySQL's
    ``MATCH(text) AGAINST('"spark join"' IN BOOLEAN MODE)`` ([ENGINE]
    5.6 InnoDB FULLTEXT supports quoted phrases in boolean mode).
    filter_fulltext_bool answers term presence/absence; THIS requires
    the terms CONSECUTIVE and IN ORDER, ranked by occurrence count —
    the adjacency constraint an inverted index alone cannot express
    without positions, which is why real FULLTEXT indexes store them.

    Semantics: occurrences are counted at word grain over the same
    whitespace tokenization as the rest of the fulltext family (no
    substring false-positives: 'sparkly joint' does not match), and
    overlapping occurrences all count (relational adjacency pairs, not
    left-to-right string replace).

    Determinism: exact integer pair counts, unique (occ DESC, doc_id)
    order.

    Scale: the adjacency pairing is the _bigrams codegen expression —
    one corpus explode, zero joins on the Spark side (the oracle's
    positional self-join is the relational spelling); the filter on the
    two phrase words prunes before the per-doc count, so the exchange
    carries only matching pairs."""
    w1, w2 = _FT_PHRASE
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x != '')").alias("ws")
    ).filter(F.size("ws") >= 2)
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(element_at(ws, i) AS w1,"
                "             element_at(ws, i + 1) AS w2))"
            )
        ).alias("bg"),
    )
    return (
        pairs.filter((F.col("bg.w1") == w1) & (F.col("bg.w2") == w2))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("occ"))
        .orderBy(F.col("occ").desc(), "doc_id")
        .limit(100)
    )
