"""Inferential statistics & corpus-analysis — round-8 batch 20: two-sample
hypothesis tests, lead-lag cross-correlation, readability scoring, exact
k-NN graph construction, first-occurrence novelty attribution, and
priority (weighted-reservoir) sampling.

Capability rationale (reference = CDCgov/SDP, an OpenShift/Ansible IaC
deployment of a MySQL-backed surveillance platform — SURVEY.md §0): after
the detector layer (EARS / CUSUM / historical-limits in analytics.py and
insights.py) flags a signal, the surveillance analyst's next questions are
inferential — *is the severity distribution of this event class actually
different from that one?* (Welch's t / Mann-Whitney U — the parametric and
rank-based two-sample tests every epi textbook pairs), and *which signal
leads which?* (lead-lag cross-correlation between event streams, the
multivariate companion of insights.py's ts_autocorr). The corpus/LLM keys
extend the training-data pipeline the driver mandates: readability is a
standard quality-filter feature beside Gopher/C4 (corpus.py), the k-NN
graph is the common substrate of SemDedup/graph-clustering pipelines, the
novelty rate measures how much a crawl snapshot adds over what the corpus
already contains (the incremental-ingest question llm_dedup_incremental
answers at document grain, answered here at n-gram grain), and priority
sampling (Duffield-Lund-Thorup, JACM 2007) is the weighted-reservoir
scheme whose rank key needs only a division — no transcendental function
— so it is bit-deterministic across engines where Efraimidis-Spirakis'
u^(1/w) is not (pow/log differ in the last ulp between libm builds).

Cross-engine determinism: every statistic is assembled from exact BIGINT
counts or DECIMAL sums (num.py dsum convention), combined with the
identical IEEE expression on both engines (+ - * / sqrt are correctly
rounded; ln/pow are NOT and are avoided), and rounded once at the end
(`dround`). Pseudo-randomness is the repo's Knuth multiplicative hash
(num.KNUTH) — portable exact BIGINT arithmetic, same as
sample_systematic / llm_pipeline_train_corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sdp_spark.functions.num import (
    DEC,
    KNUTH,
    KNUTH_MOD,
    davg,
    dround,
    sql_davg,
    sql_dround,
)
from sdp_spark.operators.insights import _BIGRAM_SQL, _bigrams
from sdp_spark.memo import scratch
from sdp_spark.plans.registry import register
from sdp_spark.sources.fixtures import table

_SEC = "2.17 inferential stats & corpus analysis"

# Exact two-decimal event values square to four decimals: DECIMAL(18,4)
# products carry scale 8 / precision 37 on Spark and 36 on DuckDB — both
# inside the 38 cap, so SUM(v) and SUM(v*v) are exact and order-free on
# both engines (the histlimits BIGINT n*n trick, lifted to decimals).
_VDEC = "DECIMAL(18,4)"

# Shared per-type exact moment rollup (n, Σv, Σv²) — the partial+final
# aggregate both tests start from. One event-scale exchange to |types| rows.
_MOMENTS_SQL = f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(value AS {_VDEC})) AS sv,
           SUM(CAST(value AS {_VDEC}) * CAST(value AS {_VDEC})) AS svv
    FROM events GROUP BY event_type
"""


def _moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    v = F.col("value").cast(_VDEC)
    return e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(v).alias("sv"),
        F.sum(v * v).alias("svv"),
    )


@register(
    "agg_welch_ttest",
    oracle=f"""
    WITH m AS ({_MOMENTS_SQL}),
    s AS (
      SELECT event_type, n,
             CAST(sv AS DOUBLE) / n AS mean,
             (CAST(svv AS DOUBLE)
              - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1) AS var
      FROM m WHERE n >= 2
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           {sql_dround('a.mean - b.mean', 4)} AS mean_diff,
           {sql_dround(
               '(a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n)', 4)} AS t_stat,
           {sql_dround(
               '(a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n)'
               ' / ((a.var / a.n) * (a.var / a.n) / (a.n - 1)'
               '    + (b.var / b.n) * (b.var / b.n) / (b.n - 1))', 2)} AS df
    FROM s a JOIN s b ON a.event_type < b.event_type
    ORDER BY type_a, type_b
    """,
    section=_SEC,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between every pair of
    event classes on `value` (severity): t statistic plus the
    Welch-Satterthwaite effective degrees of freedom — the parametric
    "are these two signal severities different?" screen an epidemiologist
    runs after a detector fires.

    Determinism: group moments are exact DECIMAL sums (see _VDEC note);
    mean/var/t/df are the identical + - * / sqrt expression on both
    engines over those exact inputs, rounded once.

    Scale: ONE partial+final aggregate collapses the event stream to
    |types| moment rows; the pair join is a |types|² broadcast
    self-join over metadata — the event-scale work is a single exchange
    regardless of pair count. This moment-sketch shape is exactly how
    the test distributes at 100 TB (no per-pair passes over raw data)."""
    # The pair frame consumes the moment rollup twice (sides a and b);
    # localCheckpoint materializes the |types|-row sketch so events is
    # scanned ONCE — without it each self-join side replays the scan+agg
    # lineage (Catalyst has no automatic common-subplan reuse here).
    m = _moments(spark, sf_dir).filter(F.col("n") >= 2).localCheckpoint()
    s = m.select(
        "event_type",
        "n",
        (F.col("sv").cast("double") / F.col("n")).alias("mean"),
        (
            (
                F.col("svv").cast("double")
                - F.col("sv").cast("double") * F.col("sv").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var"),
    )
    a = s.select(*[F.col(c).alias(f"{c}_a") for c in s.columns])
    b = s.select(*[F.col(c).alias(f"{c}_b") for c in s.columns])
    va_n = F.col("var_a") / F.col("n_a")
    vb_n = F.col("var_b") / F.col("n_b")
    return (
        a.join(F.broadcast(b), F.col("event_type_a") < F.col("event_type_b"))
        .select(
            F.col("event_type_a").alias("type_a"),
            F.col("event_type_b").alias("type_b"),
            F.col("n_a"),
            F.col("n_b"),
            dround(F.col("mean_a") - F.col("mean_b"), 4).alias("mean_diff"),
            dround(
                (F.col("mean_a") - F.col("mean_b")) / F.sqrt(va_n + vb_n), 4
            ).alias("t_stat"),
            dround(
                (va_n + vb_n) * (va_n + vb_n)
                / (va_n * va_n / (F.col("n_a") - 1) + vb_n * vb_n / (F.col("n_b") - 1)),
                2,
            ).alias("df"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "agg_mann_whitney",
    oracle=f"""
    WITH types AS (SELECT DISTINCT event_type AS t FROM events),
    pairs AS (
      SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b ON a.t < b.t
    ), u AS (
      SELECT p.ta, p.tb, e.event_type, CAST(e.value AS {_VDEC}) AS v
      FROM pairs p JOIN events e ON e.event_type IN (p.ta, p.tb)
    ), ranked AS (
      SELECT ta, tb, event_type, v,
             RANK() OVER (PARTITION BY ta, tb ORDER BY v)
               + (CAST(COUNT(*) OVER (PARTITION BY ta, tb, v) AS DOUBLE) - 1) / 2
               AS avg_rank
      FROM u
    ), sums AS (
      SELECT ta, tb,
             CAST(COUNT(CASE WHEN event_type = ta THEN 1 END) AS BIGINT) AS n_a,
             CAST(COUNT(CASE WHEN event_type = tb THEN 1 END) AS BIGINT) AS n_b,
             SUM(CASE WHEN event_type = ta
                      THEN CAST(avg_rank * 2 AS BIGINT) END) AS r2a
      FROM ranked GROUP BY ta, tb
    ), ties AS (
      SELECT ta, tb, SUM(tc * tc * tc - tc) AS tsum
      FROM (SELECT ta, tb, v, CAST(COUNT(*) AS BIGINT) AS tc
            FROM u GROUP BY ta, tb, v) g
      GROUP BY ta, tb
    )
    SELECT s.ta AS type_a, s.tb AS type_b, s.n_a, s.n_b,
           CAST(r2a AS DOUBLE) / 2
             - CAST(n_a AS DOUBLE) * (n_a + 1) / 2 AS u_a,
           {sql_dround(
               "(CAST(r2a AS DOUBLE) / 2"
               " - CAST(n_a AS DOUBLE) * (n_a + 1) / 2"
               " - CAST(n_a AS DOUBLE) * n_b / 2)"
               " / sqrt(CAST(n_a AS DOUBLE) * n_b / 12"
               "   * ((n_a + n_b + 1)"
               "      - CAST(tsum AS DOUBLE)"
               "        / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))", 4)}
             AS z
    FROM sums s JOIN ties t ON s.ta = t.ta AND s.tb = t.tb
    WHERE (n_a + n_b + 1)
          - CAST(tsum AS DOUBLE)
            / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)) > 0
    ORDER BY type_a, type_b
    """,
    section=_SEC,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between every pair of event
    classes on `value`, with the tie-corrected normal approximation z —
    the distribution-free companion of agg_welch_ttest (rank-based, so
    heavy-tailed severity distributions can't distort it).

    Determinism: values are compared as exact DECIMALs; average ranks are
    multiples of 0.5, so `avg_rank * 2` is summed as an exact BIGINT and
    halved once (no float accumulation anywhere); the tie term Σ(t³-t)
    is pure BIGINT. z is one identical IEEE expression over those exact
    inputs.

    Scale: each event joins the |pairs| list containing its type
    (broadcast |types|² rows → fan-out factor |types|-1), then ONE rank
    window per pair partition computes all ranks — a sort per pair, the
    canonical distributed ranking shape. At petabyte grain the exact sort
    swaps for a fixed-width value histogram per pair (rank sums from
    cumulative bin counts) with the same downstream algebra; fixture
    scale certifies the exact path."""
    e = table(spark, sf_dir, "events")
    # r14 (guide §1.2): types feeds both pair sides, and each reference
    # used to re-scan + re-distinct the full events table. One lazy
    # localCheckpoint (|types| rows) runs that pass once.
    types = (
        e.select(F.col("event_type").alias("t"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ta = types.select(F.col("t").alias("ta"))
    tb = types.select(F.col("t").alias("tb"))
    pairs = ta.join(tb, F.col("ta") < F.col("tb"))
    u = e.select("event_type", F.col("value").cast(_VDEC).alias("v")).join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb")),
    )
    wr = Window.partitionBy("ta", "tb").orderBy("v")
    wt = Window.partitionBy("ta", "tb", "v")
    # tc = tie-group size alongside the average rank: summing (tc² - 1)
    # over the tc ROWS of each tied value contributes tc³ - tc, so ONE
    # groupBy computes the rank sum AND the tie correction — no second
    # pass over events, no ties join (the oracle spells the same Σ(t³-t)
    # as a separate CTE; the algebra is identical).
    ranked = u.select(
        "ta",
        "tb",
        "event_type",
        (
            F.rank().over(wr)
            + (F.count("*").over(wt).cast("double") - F.lit(1)) / 2
        ).alias("avg_rank"),
        F.count("*").over(wt).cast("bigint").alias("tc"),
    )
    sums = ranked.groupBy("ta", "tb").agg(
        F.count(F.when(F.col("event_type") == F.col("ta"), 1))
        .cast("bigint")
        .alias("n_a"),
        F.count(F.when(F.col("event_type") == F.col("tb"), 1))
        .cast("bigint")
        .alias("n_b"),
        F.sum(
            F.when(
                F.col("event_type") == F.col("ta"),
                (F.col("avg_rank") * 2).cast("bigint"),
            )
        ).alias("r2a"),
        F.sum(F.col("tc") * F.col("tc") - 1).alias("tsum"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    u_a = (
        F.col("r2a").cast("double") / 2 - n_a.cast("double") * (n_a + 1) / 2
    )
    nn = n_a.cast("double") * n_b
    sigma = F.sqrt(
        nn
        / 12
        * (
            (n_a + n_b + 1)
            - F.col("tsum").cast("double")
            / ((n_a + n_b).cast("double") * (n_a + n_b - 1))
        )
    )
    # sigma is 0 iff every value in the pair is identical (the tie term
    # then cancels N+1 exactly) — exclude the degenerate pair on both
    # sides rather than emit an engine-dependent division-by-zero.
    sigma_sq_pos = (
        (n_a + n_b + 1)
        - F.col("tsum").cast("double")
        / ((n_a + n_b).cast("double") * (n_a + n_b - 1))
    ) > 0
    return (
        sums.filter(sigma_sq_pos)
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "n_a",
            "n_b",
            u_a.alias("u_a"),
            dround((u_a - nn / 2) / sigma, 4).alias("z"),
        )
        .orderBy("type_a", "type_b")
    )


_XCORR_MAX_LAG = 3
_XCORR_MIN_PAIRS = 10

# Daily (type, day, n) rollup — same CTE shape as insights._DAILY_SQL but
# restated here so the module is import-order independent of that literal.
_XDAILY_SQL = """
    SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
"""


@register(
    "ts_cross_correlation",
    oracle=f"""
    WITH daily AS ({_XDAILY_SQL}),
    pairs AS (
      SELECT a.event_type AS type_lead, b.event_type AS type_lag,
             date_diff('day', a.day, b.day) AS lag, a.n AS x, b.n AS y
      FROM daily a JOIN daily b
        ON a.event_type < b.event_type
       AND date_diff('day', a.day, b.day) BETWEEN 0 AND {_XCORR_MAX_LAG}
    ), moments AS (
      SELECT type_lead, type_lag, lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pairs GROUP BY 1, 2, 3
      HAVING COUNT(*) >= {_XCORR_MIN_PAIRS}
    )
    SELECT type_lead, type_lag, lag, n_pairs,
           {sql_dround(
               "(n_pairs * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)"
               " / sqrt((n_pairs * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)"
               "      * (n_pairs * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))",
               4)} AS r
    FROM moments
    WHERE (n_pairs * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) > 0
      AND (n_pairs * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy) > 0
    ORDER BY type_lead, type_lag, lag
    """,
    section=_SEC,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between daily count series of distinct
    event classes: Pearson r of series A at day t vs series B at day
    t+lag, lag 0..3 — *which signal leads which?*, the multivariate
    companion of insights.ts_autocorr (e.g. does the `error` stream
    foreshadow the `purchase` drop). Pair ordering (A < B) with signed
    lag direction encoded by role: type_lead's value is read `lag` days
    before type_lag's.

    Determinism: daily counts are BIGINT; all five moments are exact
    integer sums; r is one identical IEEE expression, rounded once.

    Scale: identical to ts_autocorr — the (type, day) rollup is the only
    event-scale exchange; the lag join and moment aggregate run over the
    |types|·|days| metadata frame. Degenerate (zero-variance) windows are
    excluded on both sides before the division."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("timestamp").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    a = daily.select(
        F.col("event_type").alias("type_lead"),
        F.col("day").alias("day_a"),
        F.col("n").alias("x"),
    )
    b = daily.select(
        F.col("event_type").alias("type_lag"),
        F.col("day").alias("day_b"),
        F.col("n").alias("y"),
    )
    lag = F.datediff("day_b", "day_a")
    m = (
        a.join(
            b,
            (F.col("type_lead") < F.col("type_lag"))
            & lag.between(0, _XCORR_MAX_LAG),
        )
        .select(
            "type_lead", "type_lag", lag.cast("bigint").alias("lag"), "x", "y"
        )
        .groupBy("type_lead", "type_lag", "lag")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .filter(F.col("n_pairs") >= _XCORR_MIN_PAIRS)
    )
    vx = F.col("n_pairs") * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    vy = F.col("n_pairs") * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    cov = F.col("n_pairs") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    return (
        m.filter((vx > 0) & (vy > 0))
        .select(
            "type_lead",
            "type_lag",
            "lag",
            "n_pairs",
            dround(cov / F.sqrt(vx * vy), 4).alias("r"),
        )
        .orderBy("type_lead", "type_lag", "lag")
    )


_WORD_RE = "[A-Za-z]+"
_SENT_RE = "[.!?]+"
_SYLL_RE = "[aeiouyAEIOUY]+"


@register(
    "llm_readability",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{_WORD_RE}')) AS BIGINT) AS n_words,
             CAST(GREATEST(len(regexp_extract_all(text, '{_SENT_RE}')), 1) AS BIGINT)
               AS n_sents,
             CAST(len(regexp_extract_all(text, '{_SYLL_RE}')) AS BIGINT) AS n_syll
      FROM documents
    )
    SELECT doc_id, n_words, n_sents, n_syll,
           {sql_dround(
               "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)"
               " - 84.6 * (CAST(n_syll AS DOUBLE) / n_words)", 2)} AS fre,
           {sql_dround(
               "0.39 * (CAST(n_words AS DOUBLE) / n_sents)"
               " + 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59", 2)} AS fk_grade
    FROM c WHERE n_words >= 1
    ORDER BY doc_id
    """,
    section=_SEC,
)
def llm_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document from three
    regex counters (letter-runs = words, [.!?] runs = sentence ends,
    vowel-group runs = syllable estimate — the standard punctuation-free
    syllable heuristic). Readability is a stock quality-filter feature
    beside the Gopher/C4 rule sets (corpus.py): pre-training corpora are
    commonly screened to a readability band.

    Note the fixture corpus has no sentence punctuation, so n_sents
    clamps to 1 and the words-per-sentence term degenerates to doc
    length — the regex plumbing and formula are what this key certifies;
    real corpora exercise the sentence term.

    Determinism: three BIGINT regex counts ([A-Za-z], [.!?], vowel runs
    — identical semantics in Java regex and RE2); the two formulas are
    per-row IEEE over those integers, rounded once.

    Scale: pure per-row projection — NO shuffle, NO UDF; regexp_count
    runs inside whole-stage codegen, and only (doc_id, 3 counters)
    survive the scan."""
    d = table(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        F.regexp_count("text", F.lit(_WORD_RE)).cast("bigint").alias("n_words"),
        F.greatest(F.regexp_count("text", F.lit(_SENT_RE)), F.lit(1))
        .cast("bigint")
        .alias("n_sents"),
        F.regexp_count("text", F.lit(_SYLL_RE)).cast("bigint").alias("n_syll"),
    ).filter(F.col("n_words") >= 1)
    wps = F.col("n_words").cast("double") / F.col("n_sents")
    spw = F.col("n_syll").cast("double") / F.col("n_words")
    return c.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        dround(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 2).alias("fre"),
        dround(0.39 * wps + 11.8 * spw - 15.59, 2).alias("fk_grade"),
    ).orderBy("doc_id")


_KNN_K = 5


def _knn_scored_arrow(spark: SparkSession, sf_dir: str, a: DataFrame) -> DataFrame:
    """All-pairs (query × candidate) cosine scores, vectorized in numpy.

    Transport: the candidate matrix is written to a fresh per-invocation
    temp parquet by the EXECUTORS (one small job — never a driver collect;
    the bounded-driver-state audit stays clean) and loaded once per task
    inside the mapInArrow function — the guide §8 "co-locate instead of
    join" idiom. Every call rewrites the side file from the live frame, so
    each bench rep / oracle run still computes from the parquet inputs; the
    side dir is a memo.scratch dir, removed by release.

    Bit-exactness: per query row the dot is accumulated dimension-by-
    dimension into an acc column initialized 0.0 — ((0.0 + t0) + t1) + …,
    the identical IEEE evaluation order of the JVM
    aggregate(zip_with(va, vb, *), 0.0, +) fold (numpy float64 and JVM
    double are both round-to-nearest IEEE-754, and elementwise ufuncs keep
    per-element op order); cos = dot / (na · nb) matches the JVM
    parenthesization. Self-pairs are masked (the old join's
    vec_id != neighbor_id condition).

    Scale: candidate matrix per task is N×dim doubles — bounded by the same
    bound that makes an exact O(N²) graph feasible at all (the 100 TB path
    swaps the candidate generator, see llm_knn_graph docstring); the acc
    buffer is chunked to ~32 MB regardless of N."""
    from sdp_spark.operators.llm import _emb_normed

    side = scratch(spark, sf_dir, "sdp_knn_cands_")
    (
        _emb_normed(spark, sf_dir)
        .select("vec_id", "label", "dvec", "norm")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(side)
    )

    def score(batches):
        import glob as _glob
        import os as _os

        import numpy as _np
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        cand = _pq.read_table(
            sorted(_glob.glob(_os.path.join(side, "part-*.parquet")))
        )
        cid = cand["vec_id"].to_numpy()
        clab = cand["label"].to_numpy()
        cn = cand["norm"].to_numpy()
        n = len(cid)
        cv = _np.asarray(
            cand["dvec"].combine_chunks().flatten(), dtype=_np.float64
        ).reshape(n, -1)
        dim = cv.shape[1]
        out_schema = _pa.schema(
            [
                ("vec_id", _pa.int64()),
                ("neighbor_id", _pa.int64()),
                ("neighbor_label", _pa.int32()),
                ("cos", _pa.float64()),
            ]
        )
        chunk = max(1, (1 << 22) // max(1, n))  # ~32 MB double acc bound
        for b in batches:
            m_all = b.num_rows
            if m_all == 0:
                continue
            qid_all = b.column("vec_id").to_numpy()
            qn_all = b.column("norm").to_numpy()
            qv_all = _np.asarray(
                b.column("dvec").flatten(), dtype=_np.float64
            ).reshape(m_all, -1)
            if qv_all.shape[1] != dim:
                raise ValueError(
                    f"query vectors have dim {qv_all.shape[1]}, candidates {dim}"
                )
            for s in range(0, m_all, chunk):
                qid = qid_all[s : s + chunk]
                qn = qn_all[s : s + chunk]
                qv = qv_all[s : s + chunk]
                m = len(qid)
                acc = _np.zeros((m, n))
                for i in range(dim):
                    acc += qv[:, i : i + 1] * cv[:, i]
                cos = acc / (qn[:, None] * cn[None, :])
                rid = _np.repeat(qid, n)
                nid = _np.tile(cid, m)
                mask = rid != nid
                yield _pa.record_batch(
                    [
                        _pa.array(rid[mask], _pa.int64()),
                        _pa.array(nid[mask], _pa.int64()),
                        _pa.array(_np.tile(clab, m)[mask], _pa.int32()),
                        _pa.array(cos.ravel()[mask], _pa.float64()),
                    ],
                    schema=out_schema,
                )

    return a.mapInArrow(
        score, "vec_id bigint, neighbor_id bigint, neighbor_label int, cos double"
    )


@register(
    "llm_knn_graph",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
             {sql_dround(
                 "list_sum(list_transform(generate_series(1, 64),"
                 " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
                 " / (sqrt(list_sum(list_transform(CAST(a.embedding AS DOUBLE[]), x -> x * x)))"
                 "    * sqrt(list_sum(list_transform(CAST(b.embedding AS DOUBLE[]), x -> x * x))))",
                 4)} AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, neighbor_label, cos_sim, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
      FROM scored) t
    WHERE rnk <= {_KNN_K}
    ORDER BY vec_id, rnk
    """,
    section=_SEC,
)
def llm_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor graph (k=5, cosine) over the embedding
    table — every vector's top-k neighbor list, the substrate SemDedup
    (corpus.llm_semdedup), graph-based clustering, and kNN-classification
    pipelines all start from. llm_sim_search answers k-NN for a query
    set; this materializes the full self-graph.

    Determinism: cosine is the zip_with/aggregate fold whose order
    matches DuckDB list_sum (llm.py:_emb_normed contract), rounded to 4
    before ranking, with neighbor_id as the total tiebreaker.

    Scale: exact k-NN is O(N²) BY DEFINITION — 10× vectors = 100× scoring
    folds, and the 10× fixture measures exactly that (SCALING.md; two
    zero-shuffle re-plans were tried and rejected there: moving the fold
    into a per-row transform/array_sort loses codegen-friendly top-level
    column access and ran 2-4× slower than this join, whose narrow
    (id, id, score) window shuffle is NOT the bottleneck — the fold CPU
    is). The genuine 100 TB path swaps the candidate generator for the
    IVF cell equi-join (llm.llm_sim_search_ivf: broadcast centroids,
    per-cell candidates only) or hyperplane-LSH buckets
    (llm.llm_sim_search_lsh) and keeps this exact-rescore + top-k tail —
    the certified ranking/tiebreak algebra is the part both share."""
    from sdp_spark.operators.llm import _emb_normed

    emb = _emb_normed(spark, sf_dir)
    a = emb.select("vec_id", "dvec", "norm")
    # the N-per-query scoring is the job's entire CPU: spread the query
    # side across the full core width when the (cached, small) scan
    # yields fewer splits — the wide_table guard, applied post-cache
    target = spark.sparkContext.defaultParallelism
    if a.rdd.getNumPartitions() < target:
        a = a.repartition(target)
    # All-pairs cosine via mapInArrow (guide §4.2): the zip_with/aggregate
    # fold evaluates INTERPRETED per element (HOFs are CodegenFallback) —
    # the r14 profile put this job's entire CPU there (~58 µs/pair), and a
    # 64-term unrolled JVM expression measured 3.7× WORSE (r15 notes). The
    # Arrow stage accumulates the dot PER DIMENSION across rows
    # (acc += A[:,i]·B[:,i], acc init 0.0) — the exact left-fold order of
    # the aggregate per pair, so the doubles are IEEE-bit-identical, just
    # vectorized. dround + the certified ranking/tiebreak window stay in
    # the JVM below, unchanged.
    scored = _knn_scored_arrow(spark, sf_dir, a).select(
        "vec_id",
        "neighbor_id",
        "neighbor_label",
        dround(F.col("cos"), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _KNN_K)
        .orderBy("vec_id", "rnk")
    )


@register(
    "llm_novelty_rate",
    oracle=f"""
    {_BIGRAM_SQL},
    db AS (SELECT DISTINCT doc_id, w1, w2 FROM bigrams),
    first_seen AS (
      SELECT w1, w2, MIN(doc_id) AS first_doc FROM db GROUP BY w1, w2
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(COUNT(CASE WHEN f.first_doc = d.doc_id THEN 1 END) AS BIGINT)
             AS n_novel,
           {sql_dround(
               "CAST(COUNT(CASE WHEN f.first_doc = d.doc_id THEN 1 END) AS DOUBLE)"
               " / COUNT(*)", 4)} AS novelty
    FROM db d JOIN first_seen f ON d.w1 = f.w1 AND d.w2 = f.w2
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    section=_SEC,
)
def llm_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    bigrams whose first corpus occurrence (min doc_id, ingest order) is
    this doc — 'how much does each snapshot add over what the corpus
    already contains?', the n-gram-grain refinement of
    corpus.llm_dedup_incremental's document-grain answer. Low-novelty
    tails are boilerplate/near-dup indicators; the same first-occurrence
    attribution prices new crawl slices for training-data acquisition.

    Determinism: pure integer counting over exact group keys; one ratio
    rounded at the end. Docs with < 2 tokens emit nothing (bigram-less)
    on both sides.

    Scale: bigrams shuffle ONCE by (w1, w2) for the min-doc attribution
    and once by doc_id for the rollup — both carry tokens, not texts; at
    100 TB the (w1, w2) key swaps for its 64-bit hash (digest-width
    shuffle, the llm_dedup_exact trick) with identical downstream
    algebra. The bigram generation itself is the zero-join array
    expression shared with insights.llm_pmi_collocations."""
    db = _bigrams(spark, sf_dir).distinct()
    # first-occurrence attribution as a min-window over the (w1, w2)
    # partition instead of groupBy + self-join (r14 optimization, guide
    # §2.4 and the repo's df-lookup idiom): MIN(doc_id) OVER (PARTITION BY
    # w1, w2) == the joined first_seen lookup exactly, and it drops one
    # exchange plus the sort-merge self-join (the db subtree also stops
    # being referenced twice). The bigram stream shuffles ONCE by (w1, w2)
    # instead of once for the groupBy and again for the join probe.
    first_doc = F.min("doc_id").over(Window.partitionBy("w1", "w2"))
    return (
        db.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_novel",
            dround(
                F.col("n_novel").cast("double") / F.col("n_bigrams"), 4
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


_RESERVOIR_N = 100


@register(
    "sample_weighted_reservoir",
    oracle=f"""
    SELECT o_orderkey, o_totalprice,
           {sql_dround(
               f"o_totalprice / ((CAST((o_orderkey * {KNUTH}) % {KNUTH_MOD} AS DOUBLE)"
               f" + 0.5) / {KNUTH_MOD})", 2)} AS priority
    FROM orders
    ORDER BY priority DESC, o_orderkey
    LIMIT {_RESERVOIR_N}
    """,
    section=_SEC,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): weighted reservoir of
    n=100 orders with inclusion probability proportional to o_totalprice
    — each row draws u ~ U(0,1) from the repo's Knuth multiplicative
    hash of its key and ranks by priority = weight / u; the top-n by
    priority is the sample (near-optimal for weighted subset-sum
    estimation, JACM 54(6)).

    Chosen over Efraimidis-Spirakis u^(1/w) deliberately: the E-S key
    needs pow/log, which are NOT correctly-rounded IEEE ops and can
    differ in the last ulp between libm builds — priority sampling's
    single division is exact, so the selected set is bit-deterministic
    across engines and re-runs. Selection orders by the ROUNDED priority
    with o_orderkey as total tiebreaker, removing even the theoretical
    boundary sensitivity.

    Scale: Catalyst plans ORDER BY + LIMIT as TakeOrderedAndProject —
    per-partition top-n then a driver merge of |partitions|·n rows; NO
    global sort, NO shuffle of the data. This is exactly the
    deterministic distributed reservoir: same result any partitioning,
    same sample on every re-run (the reproducibility sample_hash_group
    gives per-group, here weighted and global)."""
    o = table(spark, sf_dir, "orders")
    u = (
        ((F.col("o_orderkey") * F.lit(KNUTH)) % F.lit(KNUTH_MOD)).cast("double")
        + F.lit(0.5)
    ) / F.lit(KNUTH_MOD)
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            # 2-dp, not 4: a near-zero u puts priority at ~1e15, and the
            # dround FLOOR trick must keep priority*10^n inside int64 on
            # the Spark side (floor returns LONG) — 1e17 fits, 1e19 wraps.
            dround(F.col("o_totalprice") / u, 2).alias("priority"),
        )
        .orderBy(F.col("priority").desc(), "o_orderkey")
        .limit(_RESERVOIR_N)
    )


# ---------------------------------------------------------------------------
# Round 8 batch 21: concentration, resampling, standardization, Rt,
# survey allocation, n-gram overlap scoring.
# ---------------------------------------------------------------------------

# Exact-decimal rollup of per-customer revenue inside each nation market —
# the (nation, firm, revenue) frame both concentration statistics read.
# DECIMAL(15,2) holds any per-customer revenue the fixtures (or 100 TB of
# them) can produce, and its square fits DECIMAL(31,4) < the 38 cap on
# both engines, so Σr and Σr² are exact and order-free.
_HHI_REV_SQL = """
    SELECT n.n_name, c.c_custkey,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(30,8))), 2)
                AS DECIMAL(15,2)) AS rev
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, c.c_custkey
"""


@register(
    "agg_hhi_concentration",
    oracle=f"""
    WITH rev AS ({_HHI_REV_SQL})
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_firms,
           CAST(SUM(rev) AS DOUBLE) AS market_rev,
           {sql_dround(
               "CAST(SUM(rev * rev) AS DOUBLE)"
               " / (CAST(SUM(rev) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE))"
               " * 10000", 4)} AS hhi,
           {sql_dround(
               "CAST(MAX(rev) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE)", 4)} AS cr1
    FROM rev GROUP BY n_name ORDER BY n_name
    """,
    section=_SEC,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per nation: each
    customer's share of their nation's order revenue, HHI = 10000·Σs²
    (the antitrust-standard 0..10000 scale) plus CR1, the largest single
    share — 'is this market one whale or many small accounts?', the same
    lens surveillance puts on reporter concentration (is one clinic
    producing all the signal?).

    Determinism: per-customer revenue is the exact decimal sum rounded to
    cents ONCE, then Σr and Σr² stay in DECIMAL (exact, order-free); HHI
    performs a single double division of exact numerators, rounded once —
    no float accumulates anywhere.

    Scale: partial-aggregated rollup to (nation, customer) — one
    data-scale exchange; the nation collapse is metadata-sized. The two
    dimension joins broadcast (nation 25 rows; customer pre-aggregation
    happens AFTER the orders rollup keyed by custkey, so the big join is
    one shuffle on the natural key)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 2)
            .cast("decimal(15,2)")
            .alias("rev")
        )
    )
    tot = F.sum("rev")
    sumsq = F.sum(F.col("rev") * F.col("rev"))
    return (
        rev.groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_firms"),
            tot.cast("double").alias("market_rev"),
            dround(
                sumsq.cast("double") / (tot.cast("double") * tot.cast("double")) * 10000,
                4,
            ).alias("hhi"),
            dround(F.max("rev").cast("double") / tot.cast("double"), 4).alias("cr1"),
        )
        .orderBy("n_name")
    )


_BOOT_REPS = 40
_BOOT_M = 500
_BOOT_SALT = 1000003


@register(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events),
    grid AS (
      SELECT r.rep, i.i FROM range({_BOOT_REPS}) r(rep)
      CROSS JOIN range({_BOOT_M}) i(i)
    ),
    pick AS (
      SELECT rep,
             ((rep * {_BOOT_SALT} + i) * {KNUTH}) % {KNUTH_MOD}
               % (SELECT n_rows FROM cnt) AS event_id
      FROM grid
    )
    SELECT CAST(rep AS BIGINT) AS rep,
           CAST(COUNT(*) AS BIGINT) AS n_drawn,
           {sql_davg('e.value', 4)} AS boot_mean
    FROM pick JOIN events e USING (event_id)
    GROUP BY rep ORDER BY rep
    """,
    section=_SEC,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic m-out-of-n bootstrap of the mean event value: 40
    replicates of 500 draws-with-replacement, each draw addressed by the
    Knuth multiplicative hash of (replicate, draw) — the nonparametric
    standard-error machine behind every 'mean ± CI' a surveillance or
    data-quality dashboard shows, with zero rand(): the same replicate
    set on every run, engine, and partitioning (a backfill reproduces
    yesterday's intervals bit-for-bit).

    Determinism: draw index = ((rep·P + i)·KNUTH mod 2³²) mod n — pure
    BIGINT (max intermediate ~5·10¹⁶ < int64); event_id is dense 0..n-1
    in the fixtures so the index IS the key; replicate means are exact
    decimal sums divided once.

    Scale: the replicate grid is tiny metadata (20k rows) joined to the
    fact table on its key — one broadcast-able join, no data-scale
    shuffle beyond it; replicate count and m scale independently of n
    (m-out-of-n bootstrap is exactly the variant built for when n is too
    big to resample fully)."""
    e = table(spark, sf_dir, "events")
    cnt = e.agg(F.count("*").cast("bigint").alias("n_rows"))
    grid = (
        spark.range(_BOOT_REPS)
        .select(F.col("id").alias("rep"))
        .select(
            "rep",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_M - 1))).alias("i"),
        )
        .crossJoin(F.broadcast(cnt))
    )
    idx = (
        (F.col("rep") * _BOOT_SALT + F.col("i")) * F.lit(KNUTH)
    ) % F.lit(KNUTH_MOD) % F.col("n_rows")
    pick = grid.select("rep", idx.alias("event_id"))
    return (
        F.broadcast(pick)
        .join(e.select("event_id", "value"), "event_id")
        .groupBy("rep")
        .agg(
            F.count("*").cast("bigint").alias("n_drawn"),
            davg("value", 4).alias("boot_mean"),
        )
        .orderBy("rep")
    )


@register(
    "agg_indirect_standardization",
    oracle=f"""
    WITH cust AS (
      SELECT n.n_name, c.c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), ord AS (
      SELECT n.n_name, c.c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n_ord
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), j AS (
      SELECT c.n_name, c.seg, c.n_cust, COALESCE(o.n_ord, 0) AS n_ord
      FROM cust c LEFT JOIN ord o ON c.n_name = o.n_name AND c.seg = o.seg
    ), ref AS (
      SELECT seg, CAST(SUM(n_ord) AS DOUBLE) / SUM(n_cust) AS rate
      FROM j GROUP BY seg
    ), x AS (
      SELECT j.n_name, j.n_ord,
             CAST(j.n_cust * r.rate AS DECIMAL(28,10)) AS exp_term
      FROM j JOIN ref r ON j.seg = r.seg
    )
    SELECT n_name, CAST(SUM(n_ord) AS BIGINT) AS observed,
           {sql_dround('CAST(SUM(exp_term) AS DOUBLE)', 4)} AS expected,
           {sql_dround('SUM(n_ord) / CAST(SUM(exp_term) AS DOUBLE)', 4)} AS sir
    FROM x GROUP BY n_name ORDER BY n_name
    """,
    section=_SEC,
)
def agg_indirect_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indirectly standardized incidence ratio (SIR/SMR) per nation:
    strata = market segment (the age-band analogue), reference rates =
    whole-population orders-per-customer within each stratum, expected_g
    = Σ_s exposure(g,s)·rate_s, SIR = observed/expected — THE classical
    epidemiology adjustment ('this region looks high only because its
    population skews old/BUILDING-heavy') applied to order incidence.

    Determinism: counts are exact BIGINT; each stratum rate is one
    double division identical cross-engine; the per-stratum expected
    terms are cast to DECIMAL(28,10) BEFORE summing, so the 5-term sum
    is exact and order-free (a bare double Σ would be
    evaluation-order-dependent); the final ratio divides once.

    Scale: two partial-aggregated rollups to (nation, segment) — each
    one data-scale exchange; everything after runs on ≤ |nations|·|segs|
    metadata rows with the reference-rate frame broadcast."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name", F.col("c_mktsegment").alias("seg")
    )
    cust = cn.groupBy("n_name", "seg").agg(
        F.count("*").cast("bigint").alias("n_cust")
    )
    ordc = (
        o.join(cn, o.o_custkey == cn.c_custkey)
        .groupBy("n_name", "seg")
        .agg(F.count("*").cast("bigint").alias("n_ord"))
    )
    j = cust.join(ordc, ["n_name", "seg"], "left").select(
        "n_name",
        "seg",
        "n_cust",
        F.coalesce(F.col("n_ord"), F.lit(0)).cast("bigint").alias("n_ord"),
    )
    # j is consumed twice (reference rates + the standardized rollup);
    # localCheckpoint pins the tiny (nation, segment) frame so the
    # orders-scale lineage is executed once, not replayed per branch.
    j = j.localCheckpoint()
    ref = j.groupBy("seg").agg(
        (F.sum("n_ord").cast("double") / F.sum("n_cust")).alias("rate")
    )
    x = j.join(F.broadcast(ref), "seg").select(
        "n_name",
        "n_ord",
        (F.col("n_cust") * F.col("rate")).cast("decimal(28,10)").alias("exp_term"),
    )
    return (
        x.groupBy("n_name")
        .agg(
            F.sum("n_ord").cast("bigint").alias("observed"),
            dround(F.sum("exp_term").cast("double"), 4).alias("expected"),
            dround(
                F.sum("n_ord") / F.sum("exp_term").cast("double"), 4
            ).alias("sir"),
        )
        .orderBy("n_name")
    )


# Discretized serial-interval weights (triangular, mode 3-4 days) as exact
# integer thirteenths: denominator Σw·n stays BIGINT, Rt divides once.
_RT_W = {1: 1, 2: 2, 3: 3, 4: 3, 5: 2, 6: 1, 7: 1}
_RT_W_TOT = sum(_RT_W.values())  # 13
_RT_W_SQL = "CASE date_diff('day', a.day, b.day) " + " ".join(
    f"WHEN {k} THEN {v}" for k, v in _RT_W.items()
) + " END"


# Shared by the batch key and the streaming twin's filtered oracle.
_RT_SQL = f"""
    WITH daily AS ({_XDAILY_SQL}),
    pairs AS (
      SELECT b.event_type, b.day, b.n, a.n * ({_RT_W_SQL}) AS wn
      FROM daily b JOIN daily a
        ON a.event_type = b.event_type
       AND date_diff('day', a.day, b.day) BETWEEN 1 AND 7
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day_s, n,
           CAST(SUM(wn) AS BIGINT) AS w_denom,
           {sql_dround(f'{_RT_W_TOT}.0 * n / SUM(wn)', 4)} AS rt
    FROM pairs GROUP BY event_type, day, n
"""

# Growth-alert threshold for the streaming twin: Rt > 1 means growing;
# 1.2 adds slack so day-scale noise around criticality doesn't flap.
RT_ALERT = 1.2


@register(
    "ts_rt_ratio",
    oracle=_RT_SQL + "    ORDER BY event_type, day_s\n    ",
    section=_SEC,
)
def ts_rt_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instantaneous reproduction-number estimate per event class: Rt =
    n_t / Σ_k w_k·n_(t-k), the case count over its serial-interval-
    weighted infectious pressure (Cori et al.'s Rt numerator/denominator
    with a fixed 7-day triangular serial interval, sans the gamma prior)
    — the 'is this outbreak growing (Rt>1) or dying (Rt<1)?' number next
    to the EARS/CUSUM/histlimits alarms. Missing days contribute zero
    pressure, the epidemiological convention (no cases = no exposure).

    Determinism: weights are exact integer thirteenths, so the
    denominator Σw·n is a BIGINT and Rt = 13·n_t / Σ is ONE double
    division of exact integers, rounded once.

    Scale: the (type, day) rollup is the only event-scale exchange; the
    lag join runs on the |types|·|days| metadata frame (self-join with a
    7-day band — at very long histories this becomes a range-partitioned
    interval join, same algebra)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("timestamp").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    return rt_scored(daily)


def rt_scored(daily: DataFrame) -> DataFrame:
    """Rt scoring over a (event_type, day, n) daily-count frame: the
    banded serial-interval self-join and the exact-integer ratio. Shared
    by the batch key and the streaming twin (`stream_rt_alerts`), so
    stream==batch is structural — the same guarantee every detector pair
    here carries."""
    # both self-join sides replay the daily rollup lineage otherwise; for
    # the stream twin the snapshot is also memory-sink-backed, where a
    # self-join additionally trips ambiguity resolution — the checkpoint
    # gives side `a` fresh attributes AND caps events to one pass
    daily = daily.localCheckpoint()
    a = daily.select(
        F.col("event_type").alias("et_a"),
        F.col("day").alias("day_a"),
        F.col("n").alias("n_a"),
    )
    k = F.datediff("day", "day_a")
    w = F.coalesce(
        *[F.when(k == kk, F.lit(vv)) for kk, vv in _RT_W.items()]
    )
    return (
        daily.join(
            a,
            (F.col("event_type") == F.col("et_a")) & k.between(1, 7),
        )
        .select("event_type", "day", "n", (F.col("n_a") * w).alias("wn"))
        .groupBy("event_type", "day", "n")
        .agg(F.sum("wn").cast("bigint").alias("w_denom"))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
            "n",
            "w_denom",
            dround(F.lit(float(_RT_W_TOT)) * F.col("n") / F.col("w_denom"), 4).alias(
                "rt"
            ),
        )
        .orderBy("event_type", "day_s")
    )


_NEYMAN_BUDGET = 1000


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH m AS ({_MOMENTS_SQL}),
    s AS (
      SELECT event_type, n,
             sqrt((CAST(svv AS DOUBLE)
                   - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1)) AS s_h
      FROM m WHERE n >= 2
    ), w AS (
      SELECT event_type, n, s_h,
             CAST(n * s_h AS DECIMAL(28,8)) AS ns,
             SUM(CAST(n * s_h AS DECIMAL(28,8))) OVER () AS tot
      FROM s
    ), alloc AS (
      SELECT event_type, n, s_h,
             {_NEYMAN_BUDGET}.0 * CAST(ns AS DOUBLE) / CAST(tot AS DOUBLE) AS a
      FROM w
    ), ranked AS (
      SELECT event_type, n, s_h, a,
             CAST(FLOOR(a) AS BIGINT) AS base,
             SUM(CAST(FLOOR(a) AS BIGINT)) OVER () AS base_tot,
             CAST(ROW_NUMBER() OVER (ORDER BY a - FLOOR(a) DESC, event_type)
                  AS BIGINT) AS rnk
      FROM alloc
    )
    SELECT event_type, n AS n_stratum,
           {sql_dround('s_h', 4)} AS s_h,
           {sql_dround('a', 4)} AS alloc_exact,
           CAST(base + CASE WHEN rnk <= {_NEYMAN_BUDGET} - base_tot
                            THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
    FROM ranked ORDER BY event_type
    """,
    section=_SEC,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sample allocation over event classes:
    n_h ∝ N_h·S_h (stratum size × stratum standard deviation) for a
    fixed budget of 1000 draws, with largest-remainder rounding so the
    integer allocations sum to the budget EXACTLY — the survey-sampling
    counterpart of llm_token_budget_alloc's water-filling (minimum-
    variance rather than capped-proportional), and the design step ahead
    of llm_sample_stratified.

    Determinism: N_h·S_h terms are decimal-cast before the total (exact,
    order-free); shares, floors, and fractional remainders are identical
    IEEE values cross-engine; the remainder rank breaks ties by
    event_type, making the +1 set unique.

    Scale: moments collapse the stream in one partial-aggregated
    exchange; everything after is a |strata|-row window — the allocation
    itself never touches data scale."""
    m = _moments(spark, sf_dir).filter(F.col("n") >= 2)
    s = m.select(
        "event_type",
        "n",
        F.sqrt(
            (
                F.col("svv").cast("double")
                - F.col("sv").cast("double") * F.col("sv").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("s_h"),
    )
    ns = (F.col("n") * F.col("s_h")).cast("decimal(28,8)")
    w_all = Window.partitionBy()
    a = F.lit(float(_NEYMAN_BUDGET)) * F.col("ns").cast("double") / F.col(
        "tot"
    ).cast("double")
    ranked = (
        s.select("event_type", "n", "s_h", ns.alias("ns"))
        .withColumn("tot", F.sum("ns").over(w_all))
        .withColumn("a", a)
        .withColumn("base", F.floor("a").cast("bigint"))
        .withColumn("base_tot", F.sum(F.floor("a").cast("bigint")).over(w_all))
        .withColumn(
            "rnk",
            F.row_number()
            .over(
                Window.orderBy(
                    (F.col("a") - F.floor("a")).desc(), F.col("event_type")
                )
            )
            .cast("bigint"),
        )
    )
    return ranked.select(
        "event_type",
        F.col("n").alias("n_stratum"),
        dround("s_h", 4).alias("s_h"),
        dround("a", 4).alias("alloc_exact"),
        (
            F.col("base")
            + F.when(
                F.col("rnk") <= F.lit(_NEYMAN_BUDGET) - F.col("base_tot"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alloc"),
    ).orderBy("event_type")


_ROUGE_MIN_F1 = 0.3


@register(
    "llm_rouge_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source, t.word AS tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS word) t
      WHERE t.word <> ''
      GROUP BY doc_id, lang, source, t.word
    ), lens AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len FROM toks GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS overlap
      FROM toks a JOIN toks b
        ON a.lang = b.lang AND a.source = b.source
       AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, overlap, la.len AS len_a, lb.len AS len_b,
           {sql_dround('2.0 * overlap / (la.len + lb.len)', 4)} AS rouge1_f1
    FROM pairs
    JOIN lens la ON doc_a = la.doc_id
    JOIN lens lb ON doc_b = lb.doc_id
    WHERE {sql_dround('2.0 * overlap / (la.len + lb.len)', 4)} >= {_ROUGE_MIN_F1}
    ORDER BY doc_a, doc_b
    """,
    section=_SEC,
)
def llm_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 F1 between document pairs blocked by (lang, source):
    unigram-multiset overlap Σ min(c_a, c_b) over both lengths — the
    n-gram recall/precision score dedup-eval and summarization-eval
    pipelines use, emitted for pairs above F1 ≥ 0.3 (the near-dup band
    the Jaccard/SimHash/MinHash chain flags, here with the
    multiset-aware metric that catches repeated-phrase inflation).

    Determinism: overlaps and lengths are exact BIGINTs; F1 is one
    division, rounded once, and the emission threshold compares the
    ROUNDED value so the emitted set is identical cross-engine.

    Scale: blocking bounds the token join to same-(lang, source) pairs —
    the all-pairs blowup never materializes; at corpus scale the block
    key swaps for MinHash-LSH bands (llm_dedup_near's candidate
    generator) and this exact multiset rescoring tail is unchanged — the
    certified part is precisely the part that survives."""
    from sdp_spark.operators.llm import _collapse_dense

    if _collapse_dense(spark, sf_dir):
        return _rouge_collapsed(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    return _rouge_pairs(d).orderBy("doc_a", "doc_b")


def _rouge_pairs(d: DataFrame) -> DataFrame:
    """The ROUGE-1 pair core over a (doc_id, lang, source, text) frame:
    blocked token join, multiset overlap, thresholded F1 (unsorted)."""
    toks = (
        d.select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias("tok"),
        )
        .groupBy("doc_id", "lang", "source", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
        # the plan references toks THREE times (a-side, b-side, lens), and
        # before r14 each reference re-scanned + re-exploded + re-aggregated
        # the corpus — 4 tokenizations per run counting the second lens copy
        # (plans/r14/llm_rouge_overlap_before.txt: 4 Scan+Generate+Exchange
        # chains, 22 Exchange nodes). One lazy localCheckpoint makes the
        # corpus-scale pass run once (after: 0 parquet scans / 0 Generates /
        # 14 Exchanges); the b-side join strategy is then decided from the
        # checkpoint's MEASURED size — broadcast while it fits, sort-merge
        # past the threshold — instead of a scan-cardinality estimate.
        .localCheckpoint(eager=False)
    )
    lens = toks.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("len"))
    a = toks.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "source",
        "tok",
        F.col("c").alias("ca"),
    )
    b = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("tok").alias("tok_b"),
        F.col("c").alias("cb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("tok") == F.col("tok_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("ca", "cb")).cast("bigint").alias("overlap"))
    )
    la = lens.select(F.col("doc_id").alias("doc_a"), F.col("len").alias("len_a"))
    lb = lens.select(F.col("doc_id").alias("doc_b"), F.col("len").alias("len_b"))
    f1 = dround(2.0 * F.col("overlap") / (F.col("len_a") + F.col("len_b")), 4)
    return (
        pairs.join(F.broadcast(la), "doc_a")
        .join(F.broadcast(lb), "doc_b")
        .select("doc_a", "doc_b", "overlap", "len_a", "len_b", f1.alias("rouge1_f1"))
        .filter(F.col("rouge1_f1") >= _ROUGE_MIN_F1)
    )


def _rouge_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-collapse branch of llm_rouge_overlap (the llm_dedup_near
    idiom): identical (lang, source, text) docs collapse to their
    min-doc_id representative, the blocked token join runs over UNIQUE
    texts only, and member pairs re-expand arithmetically — within-
    cluster pairs score F1 = 1.0 with overlap = len by identity, and
    cross-cluster member pairs inherit their representative pair's stats
    verbatim (identical text ⇒ identical token multiset ⇒ identical
    overlap/lens). Equality with the naive branch is pytest-pinned.
    Callable directly so the test can exercise it below the density
    gate."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    # ck is a 128-bit (two independently-seeded xxhash64) struct so a
    # collision would need BOTH hashes to agree (~2^-128) — a single
    # 64-bit collision here would silently merge distinct texts and emit
    # fabricated rouge1_f1 = 1.0 pairs.
    cl = d.select(
        "doc_id",
        "lang",
        "source",
        F.struct(
            F.xxhash64("lang", "source", "text").alias("h1"),
            F.xxhash64(F.lit(-7046029254386353131), "lang", "source", "text").alias(
                "h2"
            ),
        ).alias("ck"),
    ).withColumn("rep", F.min("doc_id").over(Window.partitionBy("ck")))
    cl = cl.localCheckpoint()  # consumed 5 times below; lineage runs once
    reps = d.join(
        cl.filter(F.col("doc_id") == F.col("rep")).select("doc_id"), "doc_id"
    )
    rep_pairs = _rouge_pairs(reps).localCheckpoint()
    # cross-cluster expansion: every (member of A) × (member of B) pair,
    # reordered so doc_a < doc_b with the len columns following the swap
    ma = cl.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("x"))
    mb = cl.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("y"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "overlap",
            F.when(F.col("x") < F.col("y"), F.col("len_a"))
            .otherwise(F.col("len_b"))
            .alias("len_a"),
            F.when(F.col("x") < F.col("y"), F.col("len_b"))
            .otherwise(F.col("len_a"))
            .alias("len_b"),
            "rouge1_f1",
        )
    )
    # within-cluster pairs: identical multisets — overlap = len, F1 = 1.0
    rep_lens = (
        reps.select(
            "doc_id",
            F.size(F.expr("filter(split(text, ' '), x -> x != '')"))
            .cast("bigint")
            .alias("len"),
        )
        .filter(F.col("len") > 0)
        .select(F.col("doc_id").alias("rep"), "len")
    )
    wa = cl.select("rep", F.col("doc_id").alias("x"))
    wb = cl.select(F.col("rep").alias("rep_b"), F.col("doc_id").alias("y"))
    within = (
        wa.join(wb, (F.col("rep") == F.col("rep_b")) & (F.col("x") < F.col("y")))
        .join(F.broadcast(rep_lens), "rep")
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            F.col("len").alias("overlap"),
            F.col("len").alias("len_a"),
            F.col("len").alias("len_b"),
            F.lit(1.0).alias("rouge1_f1"),
        )
    )
    return cross.unionAll(within).orderBy("doc_a", "doc_b")


# Capture threshold: "seen by a source" = at least one event of that type
# with value > 150 — the same severity cut agg_relative_risk uses, and for
# the same reason: unthresholded sightings saturate (every fixture user has
# ~67 events of every type, so n1 = n2 = m = N and the estimator is moot).
_CRC_V = 150


@register(
    "agg_capture_recapture",
    oracle=f"""
    WITH cap AS (
      SELECT DISTINCT event_type, user_id FROM events WHERE value > {_CRC_V}
    ), sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM cap GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS m_both
      FROM cap a JOIN cap b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, m_both,
           {sql_dround('CAST(sa.n AS DOUBLE) * sb.n / m_both', 2)} AS n_lp,
           {sql_dround(
               'CAST(sa.n + 1 AS DOUBLE) * (sb.n + 1) / (m_both + 1) - 1',
               2)} AS n_chapman
    FROM pairs
    JOIN sizes sa ON type_a = sa.event_type
    JOIN sizes sb ON type_b = sb.event_type
    ORDER BY type_a, type_b
    """,
    section=_SEC,
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source capture-recapture population estimation (Lincoln-
    Petersen N̂ = n1·n2/m plus Chapman's bias-corrected
    (n1+1)(n2+1)/(m+1) − 1) for every pair of event classes, where a
    class 'captures' a user when it sees a severe event from them — THE
    classical epidemiology answer to 'how many cases exist that NO
    surveillance stream saw?' (case under-ascertainment from the overlap
    of two incomplete registries, the analysis CDC runs across e.g.
    hospital + lab reporting systems).

    Determinism: n1, n2, m are exact BIGINT distinct-user counts; each
    estimator is one double expression over exact integers, rounded once.
    Pairs with m = 0 are absent by construction (inner overlap join) —
    Lincoln-Petersen is undefined there.

    Scale: the severity filter + distinct collapse is one event-scale
    exchange to (type, user) sightings; the overlap self-join shuffles
    captured user-ids only (16 bytes/row, never events), and the sizes
    frame is |types| rows broadcast twice."""
    e = table(spark, sf_dir, "events")
    cap = (
        e.filter(F.col("value") > _CRC_V)
        .select("event_type", "user_id")
        .distinct()
    )
    # consumed three times (sizes + both pair sides): pin the small
    # sighting frame so events is scanned once, not per branch
    cap = cap.localCheckpoint()
    sizes = cap.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    a = cap.select(F.col("event_type").alias("type_a"), "user_id")
    b = cap.select(F.col("event_type").alias("type_b"), F.col("user_id").alias("uid_b"))
    pairs = (
        a.join(b, (F.col("user_id") == F.col("uid_b")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("m_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    lp = F.col("n_a").cast("double") * F.col("n_b") / F.col("m_both")
    chapman = (
        (F.col("n_a") + 1).cast("double") * (F.col("n_b") + 1) / (F.col("m_both") + 1)
        - 1
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b", "n_a", "n_b", "m_both",
            dround(lp, 2).alias("n_lp"),
            dround(chapman, 2).alias("n_chapman"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "agg_proportion_ztest",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CAST(user_id % 2 AS INTEGER) AS arm,
             MAX(CASE WHEN event_type = 'purchase' AND value > {_CRC_V}
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conv) AS BIGINT) AS c
      FROM users GROUP BY arm
    )
    SELECT a.n AS n_a, a.c AS conv_a,
           {sql_dround('CAST(a.c AS DOUBLE) / a.n', 4)} AS p_a,
           b.n AS n_b, b.c AS conv_b,
           {sql_dround('CAST(b.c AS DOUBLE) / b.n', 4)} AS p_b,
           {sql_dround(
               'CAST(a.c AS DOUBLE) / a.n - CAST(b.c AS DOUBLE) / b.n',
               4)} AS risk_diff,
           {sql_dround(
               '(CAST(a.c AS DOUBLE) / a.n - CAST(b.c AS DOUBLE) / b.n)'
               ' / sqrt((CAST(a.c + b.c AS DOUBLE) / (a.n + b.n))'
               '        * (1 - CAST(a.c + b.c AS DOUBLE) / (a.n + b.n))'
               '        * (1.0 / a.n + 1.0 / b.n))', 4)} AS z
    FROM (SELECT * FROM arms WHERE arm = 0) a,
         (SELECT * FROM arms WHERE arm = 1) b
    """,
    section=_SEC,
)
def agg_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled) between deterministic A/B arms:
    arm = user_id mod 2, conversion = the user ever makes a high-value
    purchase (value > 150, the repo's severity cut) — the categorical
    companion of agg_welch_ttest (proportions, not means): the test
    behind every conversion A/B readout, and in surveillance the 'did
    attack rate differ between exposed and unexposed?' 2×2 z screen
    beside agg_relative_risk's effect-size view.

    Determinism: arm assignment is exact integer arithmetic (no rand()),
    conversions and arm sizes are exact BIGINTs, and p/risk-diff/z are
    one shared double expression over exact integers, rounded once.

    Scale: one partial-aggregated collapse of events to users, one more
    to 2 arm rows — a single data-scale exchange; the final cross of two
    1-row frames is metadata."""
    e = table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > _CRC_V), 1
            ).otherwise(0)
        ).alias("conv")
    ).select((F.col("user_id") % 2).cast("int").alias("arm"), "conv")
    # both filter branches consume the 2-row arm frame: pin it so the
    # events-scale rollup lineage runs once, not per branch
    arms = users.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    ).localCheckpoint()
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("c").alias("conv_a")
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("c").alias("conv_b")
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (p_a - p_b) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return a.crossJoin(b).select(
        "n_a", "conv_a", dround(p_a, 4).alias("p_a"),
        "n_b", "conv_b", dround(p_b, 4).alias("p_b"),
        dround(p_a - p_b, 4).alias("risk_diff"),
        dround(z, 4).alias("z"),
    )


@register(
    "agg_diagnostic_accuracy",
    oracle=f"""
    WITH flags AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'error' AND value > {_CRC_V}
                      THEN 1 ELSE 0 END) AS test_pos,
             MAX(CASE WHEN event_type = 'purchase' AND value > {_CRC_V}
                      THEN 1 ELSE 0 END) AS disease
      FROM events GROUP BY user_id
    ), cells AS (
      SELECT CAST(SUM(test_pos * disease) AS BIGINT) AS tp,
             CAST(SUM(test_pos * (1 - disease)) AS BIGINT) AS fp,
             CAST(SUM((1 - test_pos) * disease) AS BIGINT) AS fn,
             CAST(SUM((1 - test_pos) * (1 - disease)) AS BIGINT) AS tn
      FROM flags
    )
    SELECT tp, fp, fn, tn,
           {sql_dround('CAST(tp + fn AS DOUBLE) / (tp + fp + fn + tn)', 4)}
             AS prevalence,
           {sql_dround('CAST(tp AS DOUBLE) / (tp + fn)', 4)} AS sensitivity,
           {sql_dround('CAST(tn AS DOUBLE) / (fp + tn)', 4)} AS specificity,
           {sql_dround('CAST(tp AS DOUBLE) / (tp + fp)', 4)} AS ppv,
           {sql_dround('CAST(tn AS DOUBLE) / (fn + tn)', 4)} AS npv,
           {sql_dround('CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)', 4)}
             AS accuracy,
           {sql_dround('(CAST(tp AS DOUBLE) / (tp + fn))'
                       ' / (1 - CAST(tn AS DOUBLE) / (fp + tn))', 4)}
             AS lr_pos,
           {sql_dround('(1 - CAST(tp AS DOUBLE) / (tp + fn))'
                       ' / (CAST(tn AS DOUBLE) / (fp + tn))', 4)} AS lr_neg,
           {sql_dround('CAST(tp AS DOUBLE) / (tp + fn)'
                       ' + CAST(tn AS DOUBLE) / (fp + tn) - 1', 4)} AS youden_j
    FROM cells
    WHERE tp > 0 AND fp > 0 AND fn > 0 AND tn > 0
    """,
    section=_SEC,
)
def agg_diagnostic_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screening-test evaluation 2x2: treat 'user ever hit a severe
    error' as the screening test and 'user ever makes a high-value
    purchase' as the condition (both value > 150, the repo's severity
    cut shared with agg_relative_risk), then emit the full diagnostic
    panel every surveillance screening study reports: prevalence,
    sensitivity / specificity, predictive values (PPV/NPV), accuracy,
    likelihood ratios (LR+/LR-) and Youden's J. agg_relative_risk
    answers the etiologic question (does exposure change risk?); THIS
    answers the operational one (how good is the flag as a test?).

    Determinism: the confusion cells are exact BIGINT conditional sums;
    each metric is a single shared IEEE expression over them, rounded
    once. Degenerate tables (an empty cell would put 0 or inf in a
    ratio) emit nothing.

    Scale: one partial-agg collapse of events to users, one to a single
    4-cell row — nothing after the first exchange exceeds one row."""
    e = table(spark, sf_dir, "events")
    flags = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "error") & (F.col("value") > _CRC_V), 1
            ).otherwise(0)
        ).alias("test_pos"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > _CRC_V),
                1,
            ).otherwise(0)
        ).alias("disease"),
    )
    cells = flags.agg(
        F.sum(F.col("test_pos") * F.col("disease")).cast("bigint").alias("tp"),
        F.sum(F.col("test_pos") * (1 - F.col("disease")))
        .cast("bigint")
        .alias("fp"),
        F.sum((1 - F.col("test_pos")) * F.col("disease"))
        .cast("bigint")
        .alias("fn"),
        F.sum((1 - F.col("test_pos")) * (1 - F.col("disease")))
        .cast("bigint")
        .alias("tn"),
    )
    tp, fp = F.col("tp"), F.col("fp")
    fn, tn = F.col("fn"), F.col("tn")
    n_all = tp + fp + fn + tn
    sens = tp.cast("double") / (tp + fn)
    spec = tn.cast("double") / (fp + tn)
    return (
        cells.filter((tp > 0) & (fp > 0) & (fn > 0) & (tn > 0))
        .select(
            "tp",
            "fp",
            "fn",
            "tn",
            dround((tp + fn).cast("double") / n_all, 4).alias("prevalence"),
            dround(sens, 4).alias("sensitivity"),
            dround(spec, 4).alias("specificity"),
            dround(tp.cast("double") / (tp + fp), 4).alias("ppv"),
            dround(tn.cast("double") / (fn + tn), 4).alias("npv"),
            dround((tp + tn).cast("double") / n_all, 4).alias("accuracy"),
            dround(sens / (1 - spec), 4).alias("lr_pos"),
            dround((1 - sens) / spec, 4).alias("lr_neg"),
            dround(sens + spec - 1, 4).alias("youden_j"),
        )
    )


@register(
    "agg_cmh_stratified",
    oracle=f"""
    WITH users AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(CASE WHEN event_type = 'error' AND value > {_CRC_V}
                      THEN 1 ELSE 0 END) AS exposed,
             MAX(CASE WHEN event_type = 'purchase' AND value > {_CRC_V}
                      THEN 1 ELSE 0 END) AS outcome
      FROM events GROUP BY user_id
    ), strat AS (
      SELECT exposed, outcome,
             CAST(NTILE(3) OVER (ORDER BY n_events DESC, user_id)
                  AS INTEGER) AS stratum
      FROM users
    ), cells AS (
      SELECT stratum,
             CAST(SUM(exposed * outcome) AS BIGINT) AS a,
             CAST(SUM(exposed * (1 - outcome)) AS BIGINT) AS b,
             CAST(SUM((1 - exposed) * outcome) AS BIGINT) AS c,
             CAST(SUM((1 - exposed) * (1 - outcome)) AS BIGINT) AS d
      FROM strat GROUP BY stratum
    ), terms AS (
      SELECT stratum, a, b, c, d,
             CAST(CAST(a AS DOUBLE) * d / (a + b + c + d)
                  AS DECIMAL(30,8)) AS ad_n,
             CAST(CAST(b AS DOUBLE) * c / (a + b + c + d)
                  AS DECIMAL(30,8)) AS bc_n
      FROM cells
    )
    SELECT stratum, a, b, c, d,
           CASE WHEN b * c > 0 THEN
             {sql_dround('CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)', 4)}
           END AS or_stratum,
           CASE WHEN SUM(bc_n) OVER () > 0 THEN
             {sql_dround('CAST(SUM(ad_n) OVER () AS DOUBLE)'
                         ' / CAST(SUM(bc_n) OVER () AS DOUBLE)', 4)}
           END AS cmh_or,
           CASE WHEN SUM(b) OVER () * SUM(c) OVER () > 0 THEN
             {sql_dround('CAST(SUM(a) OVER () AS DOUBLE) * SUM(d) OVER ()'
                         ' / (CAST(SUM(b) OVER () AS DOUBLE)'
                         '    * SUM(c) OVER ())', 4)}
           END AS crude_or
    FROM terms
    ORDER BY stratum
    """,
    section=_SEC,
)
def agg_cmh_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified odds ratio: the confounder-
    adjusted companion of agg_relative_risk. Exposure/outcome are the
    repo's severe-error / high-value-purchase user flags; the potential
    confounder is user activity (total event count), stratified into
    deterministic tertiles (NTILE(3) ordered by n_events DESC with
    user_id as unique tiebreak - scale-invariant, unlike absolute count
    thresholds). Emits each stratum's 2x2 and odds ratio beside the
    pooled CMH estimate OR_mh = sum(a_i*d_i/n_i) / sum(b_i*c_i/n_i) and
    the crude (collapsed) OR - the crude-vs-adjusted gap IS the
    textbook confounding readout.

    Determinism: cells are exact BIGINTs; each CMH term is one IEEE
    expression over them cast to DECIMAL(30,8) before the cross-stratum
    sum, so the pooled numerator/denominator are order-free on both
    engines. Zero cells do NOT drop their stratum - tolerating sparse
    strata without correction terms is exactly why Mantel-Haenszel
    beats per-stratum ORs; only the per-stratum OR itself NULLs out
    when its b*c denominator is empty.

    Scale: events collapse to users (partial-agg), users to 3 strata
    rows; the NTILE is a single |users|-row sort - the only data-scale
    exchanges are the two rollups either side of it."""
    e = table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max(
            F.when(
                (F.col("event_type") == "error") & (F.col("value") > _CRC_V), 1
            ).otherwise(0)
        ).alias("exposed"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > _CRC_V),
                1,
            ).otherwise(0)
        ).alias("outcome"),
    )
    strat = users.select(
        "exposed",
        "outcome",
        F.ntile(3)
        .over(Window.orderBy(F.col("n_events").desc(), F.col("user_id")))
        .cast("int")
        .alias("stratum"),
    )
    cells = (
        strat.groupBy("stratum")
        .agg(
            F.sum(F.col("exposed") * F.col("outcome"))
            .cast("bigint")
            .alias("a"),
            F.sum(F.col("exposed") * (1 - F.col("outcome")))
            .cast("bigint")
            .alias("b"),
            F.sum((1 - F.col("exposed")) * F.col("outcome"))
            .cast("bigint")
            .alias("c"),
            F.sum((1 - F.col("exposed")) * (1 - F.col("outcome")))
            .cast("bigint")
            .alias("d"),
        )
    )
    n_i = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = cells.select(
        "stratum",
        "a",
        "b",
        "c",
        "d",
        (F.col("a").cast("double") * F.col("d") / n_i).cast(DEC).alias("ad_n"),
        (F.col("b").cast("double") * F.col("c") / n_i).cast(DEC).alias("bc_n"),
    )
    w_all = Window.partitionBy()
    cmh = F.sum("ad_n").over(w_all).cast("double") / F.sum("bc_n").over(
        w_all
    ).cast("double")
    crude = (
        F.sum("a").over(w_all).cast("double")
        * F.sum("d").over(w_all)
        / (F.sum("b").over(w_all).cast("double") * F.sum("c").over(w_all))
    )
    return terms.select(
        "stratum",
        "a",
        "b",
        "c",
        "d",
        F.when(
            F.col("b") * F.col("c") > 0,
            dround(
                F.col("a").cast("double") * F.col("d")
                / (F.col("b").cast("double") * F.col("c")),
                4,
            ),
        ).alias("or_stratum"),
        F.when(F.sum("bc_n").over(w_all) > 0, dround(cmh, 4)).alias("cmh_or"),
        F.when(
            F.sum("b").over(w_all) * F.sum("c").over(w_all) > 0,
            dround(crude, 4),
        ).alias("crude_or"),
    ).orderBy("stratum")


_MORAN_CELL = 15.0  # degrees per grid cell (families._GEO_CELL_DEG)
_MORAN_OFFS = [
    (-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)
]
_MORAN_OFFS_SQL = ", ".join(f"({dx}, {dy})" for dx, dy in _MORAN_OFFS)


@register(
    "agg_moran_grid",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey,
             ((((c_custkey + 17) * 2654435761) % 4294967296) % 1200) / 10.0
               - 60.0 AS lat,
             ((((c_custkey + 31) * 2654435761) % 4294967296) % 3600) / 10.0
               - 180.0 AS lon
      FROM customer
    ), cells AS (
      SELECT CAST(FLOOR(lon / {_MORAN_CELL}) AS INTEGER) AS cx,
             CAST(FLOOR(lat / {_MORAN_CELL}) AS INTEGER) AS cy,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cnt) AS BIGINT) AS s
      FROM cells
    ), z AS (
      SELECT cx, cy, cnt - CAST(t.s AS DOUBLE) / t.n AS zv
      FROM cells CROSS JOIN tot t
    ), pairs AS (
      SELECT CAST(SUM(CAST(a.zv * b.zv AS DECIMAL(30,8))) AS DOUBLE)
               AS num_d,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM z a
      JOIN (VALUES {_MORAN_OFFS_SQL}) o(dx, dy) ON TRUE
      JOIN z b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
    ), den AS (
      SELECT CAST(SUM(CAST(zv * zv AS DECIMAL(30,8))) AS DOUBLE) AS den_d
      FROM z
    )
    SELECT t.n AS n_cells, p.w AS w_links,
           {sql_dround('p.num_d', 4)} AS cross_sum,
           {sql_dround('d.den_d', 4)} AS sq_sum,
           {sql_dround('(t.n * p.num_d) / (p.w * d.den_d)', 6)} AS moran_i,
           {sql_dround('-1.0 / (t.n - 1)', 6)} AS expected_i
    FROM tot t CROSS JOIN pairs p CROSS JOIN den d
    """,
    section=_SEC,
)
def agg_moran_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I spatial autocorrelation over the customer point
    grid: are customer densities in neighboring map cells more alike
    than chance (clustered, I > E[I]) or checkerboarded (I < E[I])?
    The canonical first statistic of disease mapping - run before any
    cluster-detection scan to establish whether there IS spatial
    structure. Points are the repo's deterministic synthetic lat/lon
    (fn_geo_haversine's Knuth-hash derivation, same salts), binned into
    the 15-degree grid join_spatial_grid uses; the weight matrix is
    binary queen (8-neighbor) adjacency.

    Determinism: cell counts are exact BIGINTs; the mean is one double
    division; every z-product is computed identically per pair then
    cast to DECIMAL(30,8) before summation, so the quadratic-form sums
    are order-free on both engines; I is a single shared expression
    over the exact pieces, rounded once (the stats.py DECIMAL-sum
    convention).

    Scale: points collapse to grid cells FIRST (partial-agg, one
    exchange, output bounded by grid resolution not data volume); the
    neighbor join is an equi-join of the tiny cell frame against 8
    broadcast offsets - never a theta join. At 100 TB the cell frame
    is still O(resolution^2) rows; everything quadratic-form runs on
    it, not on points."""
    from sdp_spark.functions.num import KNUTH, KNUTH_MOD

    c = table(spark, sf_dir, "customer")
    lat = (
        ((F.col("c_custkey") + 17) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 1200
    ) / 10.0 - 60.0
    lon = (
        ((F.col("c_custkey") + 31) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 3600
    ) / 10.0 - 180.0
    cells = (
        c.select(
            F.floor(lon / _MORAN_CELL).cast("int").alias("cx"),
            F.floor(lat / _MORAN_CELL).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint()  # reused by tot / z / both pair sides
    )
    tot = cells.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s"),
    )
    z = cells.crossJoin(F.broadcast(tot)).select(
        "cx",
        "cy",
        (F.col("cnt") - F.col("s").cast("double") / F.col("n")).alias("zv"),
    )
    offs = spark.createDataFrame(_MORAN_OFFS, "dx int, dy int")
    a = z.select(
        F.col("cx").alias("acx"), F.col("cy").alias("acy"), F.col("zv").alias("azv")
    )
    pairs = (
        a.crossJoin(F.broadcast(offs))
        .join(
            z,
            (F.col("cx") == F.col("acx") + F.col("dx"))
            & (F.col("cy") == F.col("acy") + F.col("dy")),
        )
        .agg(
            F.sum((F.col("azv") * F.col("zv")).cast(DEC))
            .cast("double")
            .alias("num_d"),
            F.count("*").cast("bigint").alias("w"),
        )
    )
    den = z.agg(
        F.sum((F.col("zv") * F.col("zv")).cast(DEC)).cast("double").alias("den_d")
    )
    return (
        tot.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("n").alias("n_cells"),
            F.col("w").alias("w_links"),
            dround(F.col("num_d"), 4).alias("cross_sum"),
            dround(F.col("den_d"), 4).alias("sq_sum"),
            dround(
                (F.col("n") * F.col("num_d")) / (F.col("w") * F.col("den_d")), 6
            ).alias("moran_i"),
            dround(-1.0 / (F.col("n") - 1), 6).alias("expected_i"),
        )
    )


_RAKE_STOP = ("the", "a")
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOP)
_RAKE_TOPK = 50
_RAKE_MIN_OCC = 2


@register(
    "llm_keyword_rake",
    oracle=f"""
    {_BIGRAM_SQL.rstrip()}, marked AS (
      SELECT doc_id, word, idx,
             CASE WHEN word IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END AS stop
      FROM toks
    ), pid AS (
      SELECT doc_id, word, idx, stop,
             SUM(stop) OVER (PARTITION BY doc_id ORDER BY idx) AS phrase_id
      FROM marked
    ), pw AS (
      SELECT doc_id, phrase_id, word, idx FROM pid WHERE stop = 0
    ), plen AS (
      SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS plen
      FROM pw GROUP BY 1, 2
    ), wstat AS (
      SELECT w.word, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(p.plen) AS BIGINT) AS degree
      FROM pw w JOIN plen p
        ON w.doc_id = p.doc_id AND w.phrase_id = p.phrase_id
      GROUP BY w.word
    ), scored AS (
      SELECT w.doc_id, w.phrase_id, w.idx, w.word,
             CAST(CAST(s.degree AS DOUBLE) / s.freq AS DECIMAL(30,8))
               AS wscore
      FROM pw w JOIN wstat s ON w.word = s.word
    ), phrases AS (
      SELECT doc_id, phrase_id,
             STRING_AGG(word, ' ' ORDER BY idx) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(wscore) AS DOUBLE) AS pscore
      FROM scored GROUP BY 1, 2
    )
    SELECT phrase, MAX(n_words) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           {sql_dround('MAX(pscore)', 4)} AS score
    FROM phrases
    GROUP BY phrase
    HAVING COUNT(*) >= {_RAKE_MIN_OCC}
    ORDER BY score DESC, phrase
    LIMIT {_RAKE_TOPK}
    """,
    section=_SEC,
)
def llm_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free word runs; each word scores degree/frequency
    over the phrase corpus (degree = summed length of the phrases it
    appears in — rewards words that live in long collocations), and a
    phrase scores the sum of its word scores. The co-occurrence
    complement of llm_tfidf_topterms (which ranks WORDS by corpus
    rarity; RAKE ranks PHRASES by internal cohesion and needs no IDF
    table) and of llm_pmi_collocations (pairwise PMI; RAKE scores
    arbitrary-length runs). Stopword set is the fixture vocabulary's
    function words {_RAKE_STOP}.

    Determinism: phrase segmentation is an exact integer running sum of
    stopword flags; freq/degree are exact BIGINTs; word scores are one
    IEEE division cast to DECIMAL(30,8) before the per-phrase sum (so
    phrase scores are order-free); ties rank by phrase text.

    Scale: tokenize-explode (the _bigrams idiom), one window per doc
    for phrase ids, two partial-agg rollups, and one word-stat join
    whose build side is vocabulary-sized (broadcastable at any corpus
    scale); the final top-k is TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
            "idx", "word"
        ),
    )
    marked = toks.select(
        "doc_id",
        "word",
        "idx",
        F.when(F.col("word").isin(*_RAKE_STOP), 1).otherwise(0).alias("stop"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("idx")
    # r14 (guide §1.2): pw feeds THREE consumers (phrase lengths, word
    # stats, the scored join) and used to re-run the tokenize -> posexplode
    # -> stopword-window pass for each. One lazy localCheckpoint runs the
    # data-scale pass once; the doc_id window partitioning it preserves
    # satisfies the (doc_id, phrase_id) rollups by the subset rule.
    pw = (
        marked.withColumn("phrase_id", F.sum("stop").over(w_doc))
        .filter(F.col("stop") == 0)
        .select("doc_id", "phrase_id", "word", "idx")
        .localCheckpoint(eager=False)
    )
    plen = pw.groupBy("doc_id", "phrase_id").agg(
        F.count("*").cast("bigint").alias("plen")
    )
    wstat = (
        pw.join(plen, ["doc_id", "phrase_id"])
        .groupBy("word")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("degree"),
        )
    )
    scored = pw.join(F.broadcast(wstat), "word").select(
        "doc_id",
        "phrase_id",
        "idx",
        "word",
        (F.col("degree").cast("double") / F.col("freq")).cast(DEC).alias("wscore"),
    )
    phrases = scored.groupBy("doc_id", "phrase_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("wscore").cast("double").alias("pscore"),
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            dround(F.max("pscore"), 4).alias("score"),
        )
        .filter(F.col("n_occurrences") >= _RAKE_MIN_OCC)
        .orderBy(F.col("score").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )


_HOT_OFFS = [(0, 0)] + _MORAN_OFFS  # 3x3 window: center + queen neighbors
_HOT_OFFS_SQL = ", ".join(f"({dx}, {dy})" for dx, dy in _HOT_OFFS)
_HOT_TOPK = 10


@register(
    "query_spatial_hotspot",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey,
             ((((c_custkey + 17) * 2654435761) % 4294967296) % 1200) / 10.0
               - 60.0 AS lat,
             ((((c_custkey + 31) * 2654435761) % 4294967296) % 3600) / 10.0
               - 180.0 AS lon
      FROM customer
    ), cells AS (
      SELECT CAST(FLOOR(lon / {_MORAN_CELL}) AS INTEGER) AS cx,
             CAST(FLOOR(lat / {_MORAN_CELL}) AS INTEGER) AS cy,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cnt) AS BIGINT) AS total
      FROM cells
    ), wins AS (
      SELECT a.cx, a.cy,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(b.cnt) AS BIGINT) AS obs
      FROM cells a
      JOIN (VALUES {_HOT_OFFS_SQL}) o(dx, dy) ON TRUE
      JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
      GROUP BY a.cx, a.cy
    )
    SELECT w.cx, w.cy, w.k, w.obs,
           {sql_dround('CAST(t.total * w.k AS DOUBLE) / t.n', 4)} AS expected,
           {sql_dround('CAST(w.obs * t.n AS DOUBLE) / (t.total * w.k)', 4)}
             AS ratio
    FROM wins w CROSS JOIN tot t
    ORDER BY ratio DESC, w.cx, w.cy
    LIMIT {_HOT_TOPK}
    """,
    section=_SEC,
)
def query_spatial_hotspot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot scan over the customer grid: for every 3x3
    cell window (center + queen neighbors), compare the observed point
    count against the uniform expectation and rank windows by the
    observed/expected ratio — the 'WHERE is the cluster?' companion to
    agg_moran_grid's 'IS there clustering?' (the scan-window shape of
    Kulldorff's spatial scan statistic, with the obs/exp relative-risk
    surface instead of the Poisson LLR — ln is not correctly rounded
    cross-engine, the repo's stats convention avoids it; the RANKING is
    identical for fixed window size because LLR is monotone in obs/exp).
    Expectation is proportional to the window's OCCUPIED cell count k
    (sparse empty cells carry no mass at any scale; a real deployment
    would densify the grid first).

    Determinism: obs/k/N/n are exact BIGINTs; expected and ratio are
    single IEEE divisions of exact integer products, rounded once;
    (ratio, cx, cy) is a unique order.

    Scale: identical skeleton to agg_moran_grid — points collapse to
    resolution-bounded cells first, the window sum is a 9-offset
    broadcast equi-join on the tiny cell frame, and the top-k is
    TakeOrderedAndProject. Nothing downstream of the first exchange
    scales with data volume."""
    from sdp_spark.functions.num import KNUTH, KNUTH_MOD

    c = table(spark, sf_dir, "customer")
    lat = (
        ((F.col("c_custkey") + 17) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 1200
    ) / 10.0 - 60.0
    lon = (
        ((F.col("c_custkey") + 31) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 3600
    ) / 10.0 - 180.0
    cells = (
        c.select(
            F.floor(lon / _MORAN_CELL).cast("int").alias("cx"),
            F.floor(lat / _MORAN_CELL).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint()  # consumed by tot + both window-join sides
    )
    tot = cells.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("total"),
    )
    offs = spark.createDataFrame(_HOT_OFFS, "dx int, dy int")
    a = cells.select(F.col("cx").alias("acx"), F.col("cy").alias("acy"))
    wins = (
        a.crossJoin(F.broadcast(offs))
        .join(
            cells,
            (F.col("cx") == F.col("acx") + F.col("dx"))
            & (F.col("cy") == F.col("acy") + F.col("dy")),
        )
        .groupBy(F.col("acx").alias("wx"), F.col("acy").alias("wy"))
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.sum("cnt").cast("bigint").alias("obs"),
        )
    )
    return (
        wins.crossJoin(F.broadcast(tot))
        .select(
            F.col("wx").alias("cx"),
            F.col("wy").alias("cy"),
            "k",
            "obs",
            dround(
                (F.col("total") * F.col("k")).cast("double") / F.col("n"), 4
            ).alias("expected"),
            dround(
                (F.col("obs") * F.col("n")).cast("double")
                / (F.col("total") * F.col("k")),
                4,
            ).alias("ratio"),
        )
        .orderBy(F.col("ratio").desc(), "cx", "cy")
        .limit(_HOT_TOPK)
    )


# ---------------------------------------------------------------------------
# Shared Monte-Carlo case hash (used by BOTH scan statistics below)
# ---------------------------------------------------------------------------
# Case hash: an integer xorshift-multiply avalanche mix (Lehmer step,
# two xor-shift + multiply rounds; every operand bounded so BIGINT
# products stay under 2^63 on both engines). Two designs were REJECTED
# by measurement: (1) an AFFINE Knuth stride is low-discrepancy mod C
# (replicate cell marginals within ~2 of observed where multinomial sd
# is ~18) — systematic sampling, not a multinomial draw, shrinking the
# null max-LLR distribution and making p anti-conservative; (2) md5 of
# the case key disperses correctly but costs ~12x wall at the 100x
# fixture (203 s vs ~60 s) — the mix matches multinomial dispersion
# (sd 10.0 vs theoretical 9.95 in the unit test) at integer-op cost.
_ST_CASE_SALT = 100003
_ST_M31 = 2147483647
_ST_MIX2 = 2246822519
_ST_MIX3 = 3266489917


def _st_mix_sql(x: str, xor: str = "xor({a}, {b})") -> list[str]:
    """The mix as a chain of column expressions (h1..h5, h): each step
    references the previous step's NAME, so both engines evaluate the
    identical small expressions instead of one exponentially-repeated
    tree. `xor` is the dialect spelling (DuckDB xor(a,b); Spark a ^ b)."""
    return [
        f"(({x}) % {_ST_M31}) * 48271 % {_ST_M31}",          # h1
        xor.format(a="h1", b="(h1 >> 15)"),                  # h2
        f"h2 * {_ST_MIX2} % {_ST_M31}",                      # h3
        xor.format(a="h3", b="(h3 >> 13)"),                  # h4
        f"h4 * {_ST_MIX3} % 4294967296",                     # h5
        xor.format(a="h5", b="(h5 >> 16)"),                  # h
    ]


def _mix_cols(df: DataFrame) -> DataFrame:
    """Spark-side spelling of the same chain over an existing `x` column
    (bitwiseXOR/shiftright are the `a ^ b` dialect of _st_mix_sql)."""
    return (
        df.withColumn("h1", (F.col("x") % _ST_M31) * 48271 % _ST_M31)
        .withColumn("h2", F.col("h1").bitwiseXOR(F.shiftright("h1", 15)))
        .withColumn("h3", F.col("h2") * _ST_MIX2 % _ST_M31)
        .withColumn("h4", F.col("h3").bitwiseXOR(F.shiftright("h3", 13)))
        .withColumn("h5", F.col("h4") * _ST_MIX3 % 4294967296)
        .withColumn("h", F.col("h5").bitwiseXOR(F.shiftright("h5", 16)))
    )


# ---------------------------------------------------------------------------
# Kulldorff variable-window spatial scan statistic
# ---------------------------------------------------------------------------

# Candidate zones: square windows of Chebyshev radius 0/1/2 cells around
# every occupied cell (1x1 / 3x3 / 5x5) — the variable-window ladder that
# lets the scan localize BOTH a single hot cell and a spread cluster, which
# the fixed 3x3 of query_spatial_hotspot cannot (its own docstring names
# this upgrade). Kulldorff's circles become squares on the cell grid; the
# likelihood machinery is unchanged.
_KULL_RADII = (0, 1, 2)
_KULL_OFFS = [
    (dx, dy, max(abs(dx), abs(dy)))
    for dx in range(-2, 3)
    for dy in range(-2, 3)
]
_KULL_OFFS_SQL = ", ".join(f"({dx}, {dy}, {ch})" for dx, dy, ch in _KULL_OFFS)
_KULL_REPS = 999  # conditional Monte-Carlo replicates -> p floor 1/1000
# (SaTScan's published convention; 0.01-level inference is real. Measured
# overhead-dominated, not R-dominated: warm sf0.1 wall 5.6 s at R=999 vs
# 13.4 s cold at R=99 — the replicate explode rides all cores.)
_KULL_TOPK = 10

# Shared LLR expression (spelled identically in Spark and DuckDB): the
# Poisson scan-statistic log-likelihood ratio over exact integer obs (c)
# and total C, for any expectation expression e. Zero when the zone is
# not in excess (c <= e); the second term drops when the zone holds ALL
# cases (C == c).
def _llr_sql(c: str, e: str, ctot: str) -> str:
    return (
        f"CASE WHEN {c} > {e} AND {ctot} > {c} THEN"
        f" {c} * ln({c} / {e})"
        f" + ({ctot} - {c}) * ln(({ctot} - {c}) / ({ctot} - {e}))"
        f" WHEN {c} > {e} THEN {c} * ln({c} / {e})"
        f" ELSE 0.0 END"
    )


def _kull_llr_sql(c: str, k: str, ctot: str, n: str) -> str:
    # spatial-scan expectation: uniform over the n occupied cells
    return _llr_sql(c, f"(CAST({ctot} * {k} AS DOUBLE) / {n})", ctot)


def _kulldorff_oracle() -> str:
    llr = _kull_llr_sql("z.obs", "z.k", "t.total", "t.n")
    llr6 = sql_dround("llr_raw", 6)
    mix = _st_mix_sql("x")
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             ((((c_custkey + 17) * {KNUTH}) % {KNUTH_MOD}) % 1200) / 10.0
               - 60.0 AS lat,
             ((((c_custkey + 31) * {KNUTH}) % {KNUTH_MOD}) % 3600) / 10.0
               - 180.0 AS lon
      FROM customer
    ), cells0 AS (
      SELECT CAST(FLOOR(lon / 15.0) AS INTEGER) AS cx,
             CAST(FLOOR(lat / 15.0) AS INTEGER) AS cy,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2
    ), cells AS (
      SELECT cx, cy, cnt,
             (CAST(cx AS BIGINT) + 12) * 8 + (CAST(cy AS BIGINT) + 4) AS cid
      FROM cells0
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cnt) AS BIGINT) AS total
      FROM cells
    ), vals AS (
      SELECT cx, cy, ROW_NUMBER() OVER (ORDER BY cid) AS pos FROM cells
    ), sim0 AS (
      -- synthetic case i of replicate j lands in the hash-chosen cell:
      -- the conditional multinomial null (total C fixed, uniform over
      -- the n occupied cells), deterministic per (i, j). Hash = the
      -- shared xorshift-multiply mix; the affine Knuth stride this key
      -- first shipped with is a low-discrepancy lattice mod n that
      -- under-disperses replicate marginals (anti-conservative p) —
      -- see the mix's rationale comment and the dispersion pytest.
      SELECT r.j, t.n, s.i * {_KULL_REPS + 1} + r.j AS x
      FROM tot t,
           UNNEST(generate_series(1, t.total)) AS s(i),
           range(1, {_KULL_REPS + 1}) r(j)
    ), sim1 AS (SELECT *, {mix[0]} AS h1 FROM sim0
    ), sim2 AS (SELECT *, {mix[1]} AS h2 FROM sim1
    ), sim3 AS (SELECT *, {mix[2]} AS h3 FROM sim2
    ), sim4 AS (SELECT *, {mix[3]} AS h4 FROM sim3
    ), sim5 AS (SELECT *, {mix[4]} AS h5 FROM sim4
    ), sim AS (
      SELECT j, 1 + ({mix[5]}) % n AS pos FROM sim5
    ), simc AS (
      SELECT j, pos, CAST(COUNT(*) AS BIGINT) AS cnt FROM sim GROUP BY 1, 2
    ), pcells AS (
      -- j = 0: observed counts; j >= 1: simulated counts on the FIXED
      -- zone geometry (zero-case cells stay, with cnt 0)
      SELECT 0 AS j, cx, cy, cnt FROM cells
      UNION ALL
      SELECT r.j, v.cx, v.cy, COALESCE(s.cnt, 0) AS cnt
      FROM vals v
      CROSS JOIN range(1, {_KULL_REPS + 1}) r(j)
      LEFT JOIN simc s ON s.j = r.j AND s.pos = v.pos
    ), wins AS (
      SELECT a.j, a.cx, a.cy, o.ch,
             CAST(COUNT(*) AS BIGINT) AS kk, CAST(SUM(b.cnt) AS BIGINT) AS oo
      FROM pcells a
      JOIN (VALUES {_KULL_OFFS_SQL}) o(dx, dy, ch) ON TRUE
      JOIN pcells b ON b.j = a.j AND b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
      GROUP BY 1, 2, 3, 4
    ), zones AS (
      SELECT j, cx, cy, rr.r,
             SUM(CASE WHEN ch <= rr.r THEN kk ELSE 0 END) AS k,
             SUM(CASE WHEN ch <= rr.r THEN oo ELSE 0 END) AS obs
      FROM wins CROSS JOIN (VALUES (0), (1), (2)) rr(r)
      GROUP BY 1, 2, 3, 4
    ), scoredz AS (
      SELECT z.j, z.cx, z.cy, z.r,
             CAST(z.k AS BIGINT) AS k, CAST(z.obs AS BIGINT) AS obs,
             {sql_dround('CAST(t.total * z.k AS DOUBLE) / t.n', 4)}
               AS expected,
             {llr} AS llr_raw
      FROM zones z CROSS JOIN tot t
    ), repmax AS (
      SELECT j, MAX({llr6}) AS m6 FROM scoredz WHERE j >= 1 GROUP BY j
    ), obsz AS (
      SELECT cx, cy, r, k, obs, expected, llr_raw, {llr6} AS llr6
      FROM scoredz WHERE j = 0
    )
    SELECT o.cx, o.cy, CAST(o.r AS INTEGER) AS r, o.k, o.obs, o.expected,
           {sql_dround('o.llr_raw', 4)} AS llr,
           {sql_dround(
               f'(1.0 + SUM(CASE WHEN m.m6 >= o.llr6 THEN 1 ELSE 0 END))'
               f' / {_KULL_REPS + 1}.0', 4)} AS p_value
    FROM obsz o CROSS JOIN repmax m
    GROUP BY o.cx, o.cy, o.r, o.k, o.obs, o.expected, o.llr_raw, o.llr6
    ORDER BY {sql_dround('o.llr_raw', 4)} DESC, o.cx, o.cy, o.r
    LIMIT {_KULL_TOPK}
    """


@register(
    "query_spatial_scan_kulldorff",
    oracle=_kulldorff_oracle(),
    section=_SEC,
)
def query_spatial_scan_kulldorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kulldorff spatial scan statistic (Kulldorff 1997) with VARIABLE
    window sizes — the upgrade `query_spatial_hotspot`'s docstring names:
    the fixed 3x3 obs/exp scan smears a single-cell cluster across nine
    windows and under-scores a spread one, while the scan ladder (1x1 /
    3x3 / 5x5 Chebyshev windows around every occupied cell) scores each
    candidate zone by the Poisson log-likelihood ratio
    LLR = c*ln(c/e) + (C-c)*ln((C-c)/(C-e)) for zones in excess — the
    likelihood-ratio ordering is NOT monotone in obs/exp across different
    window sizes, which is exactly why Kulldorff ranks by LLR.

    Significance is Kulldorff's conditional Monte-Carlo: each replicate
    redistributes the C cases MULTINOMIALLY over the n occupied cells
    (total fixed, uniform null — matching e = C*k/n) on the FIXED zone
    geometry, recomputes the max zone LLR, and p(zone) =
    (1 + #{replicates whose max >= zone's LLR}) / (R+1) — secondary
    zones compare against the same max-distribution, as in SaTScan
    practice. (Permuting cell COUNTS would be wrong here: an extreme
    count stays extreme under permutation, so a genuine cluster would
    get p = 1 — the planted-cluster pytest guards this.) Replicates are
    DETERMINISTIC hash-addressed draws (the agg_bootstrap_ci idiom):
    case i of replicate j lands in cell rank 1 + mix(i*(R+1)+j) % n via
    the shared xorshift-multiply avalanche mix, so every engine and
    partitioning replays the identical simulation set. (The affine
    Knuth stride this key first shipped with is a low-discrepancy
    lattice mod n: replicate cell marginals hugged the uniform mean far
    tighter than a multinomial draw, shrinking the null max-LLR and
    making p anti-conservative — the dispersion pytest now pins the
    mix's multinomial spread.)

    Determinism: counts/zone sizes/totals are exact BIGINTs; LLR is one
    shared IEEE expression chain (ln agrees across engines on these
    arguments — the dq_benford/agg_entropy precedent), snapped to the
    1e-6 grid before any >= comparison and to 1e-4 for output; every
    ranking carries a unique (cx, cy, r) tiebreak.

    Scale: points collapse to resolution-bounded cells in the ONE
    data-scale pass (same skeleton as agg_moran_grid); the permutation
    frame is |cells| x (R+1) rows, the window join fans out 25 offsets
    on the tiny cell frame, and the top-k is TakeOrderedAndProject. At
    100 TB only the first grouped exchange grows; everything downstream
    is O(cells * R), independent of data volume."""
    c = table(spark, sf_dir, "customer")
    lat = (
        ((F.col("c_custkey") + 17) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 1200
    ) / 10.0 - 60.0
    lon = (
        ((F.col("c_custkey") + 31) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 3600
    ) / 10.0 - 180.0
    cells = (
        c.select(
            F.floor(lon / 15.0).cast("int").alias("cx"),
            F.floor(lat / 15.0).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn(
            "cid",
            (F.col("cx").cast("bigint") + 12) * 8
            + (F.col("cy").cast("bigint") + 4),
        )
        .localCheckpoint()  # tiny; consumed by tot, perm, vals
    )
    tot = cells.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("total"),
    )
    reps = spark.range(1, _KULL_REPS + 1).select(F.col("id").cast("bigint").alias("j"))
    vals = cells.select(
        "cx", "cy", F.row_number().over(Window.orderBy("cid")).alias("pos")
    )
    # conditional multinomial null: case i of replicate j -> cell rank
    # 1 + mix(i*(R+1) + j) % n via the shared xorshift-multiply mix
    # (deterministic on every engine; the affine stride it replaces is
    # a low-discrepancy lattice mod n — see the mix rationale above).
    # tot is ONE row, so the explode would land all `total` rows on a
    # single core — the repartition spreads the total*R simulate across
    # the cluster (explode-parallelism guard, as in the space-time scan).
    sim = (
        tot.select(
            "n", F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("total"))).alias("i")
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(reps))
        .withColumn("x", F.col("i") * (_KULL_REPS + 1) + F.col("j"))
    )
    sim = _mix_cols(sim).select(
        "j", (F.lit(1) + F.col("h") % F.col("n")).alias("pos")
    )
    simc = sim.groupBy("j", "pos").agg(F.count("*").cast("bigint").alias("cnt"))
    # broadcast the replicate-count lookup and the window-join build side
    # (r14 optimization, guide §3.1): both frames are METADATA-bounded by
    # construction — <= |cells| x (R+1) rows where cells <= 192 (fixed 15°
    # grid) and R is a constant — so the hash relations are a few MB at ANY
    # data scale. Without the hints both of these checkpointed (size-opaque)
    # frames planned as sort-merge joins: two exchanges + sorts per join on
    # frames that never grow with the data.
    pcells = (
        cells.select(F.lit(0).cast("bigint").alias("j"), "cx", "cy", "cnt")
        .unionByName(
            vals.crossJoin(F.broadcast(reps))
            .join(F.broadcast(simc), ["j", "pos"], "left")
            .select(
                "j", "cx", "cy", F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt")
            )
        )
        .localCheckpoint()  # both sides of the window self-join
    )

    offs = spark.createDataFrame(_KULL_OFFS, "dx int, dy int, ch int")
    a = pcells.select(
        F.col("j").alias("aj"), F.col("cx").alias("acx"), F.col("cy").alias("acy")
    )
    wins = (
        a.crossJoin(F.broadcast(offs))
        .join(
            F.broadcast(pcells),
            (F.col("j") == F.col("aj"))
            & (F.col("cx") == F.col("acx") + F.col("dx"))
            & (F.col("cy") == F.col("acy") + F.col("dy")),
        )
        .groupBy("aj", "acx", "acy", "ch")
        .agg(
            F.count("*").cast("bigint").alias("kk"),
            F.sum("cnt").cast("bigint").alias("oo"),
        )
    )
    radii = spark.createDataFrame([(r,) for r in _KULL_RADII], "r int")
    zones = (
        wins.crossJoin(F.broadcast(radii))
        .groupBy(
            F.col("aj").alias("j"),
            F.col("acx").alias("cx"),
            F.col("acy").alias("cy"),
            "r",
        )
        .agg(
            F.sum(F.when(F.col("ch") <= F.col("r"), F.col("kk")).otherwise(0))
            .cast("bigint")
            .alias("k"),
            F.sum(F.when(F.col("ch") <= F.col("r"), F.col("oo")).otherwise(0))
            .cast("bigint")
            .alias("obs"),
        )
    )
    scoredz = zones.crossJoin(F.broadcast(tot)).withColumn(
        "llr_raw",
        F.expr(_kull_llr_sql("obs", "k", "total", "n")),
    ).withColumn("expected", dround((F.col("total") * F.col("k")).cast("double") / F.col("n"), 4))
    scoredz = scoredz.localCheckpoint()  # obs zones + replicate maxima
    repmax = (
        scoredz.filter(F.col("j") >= 1)
        .groupBy("j")
        .agg(F.max(dround(F.col("llr_raw"), 6)).alias("m6"))
    )
    obsz = scoredz.filter(F.col("j") == 0).withColumn(
        "llr6", dround(F.col("llr_raw"), 6)
    )
    return (
        obsz.crossJoin(F.broadcast(repmax))
        .groupBy("cx", "cy", "r", "k", "obs", "expected", "llr_raw", "llr6")
        .agg(
            dround(
                (
                    F.lit(1.0)
                    + F.sum(
                        F.when(F.col("m6") >= F.col("llr6"), 1).otherwise(0)
                    )
                )
                / F.lit(float(_KULL_REPS + 1)),
                4,
            ).alias("p_value")
        )
        .select(
            "cx",
            "cy",
            F.col("r").cast("int").alias("r"),
            "k",
            "obs",
            "expected",
            dround(F.col("llr_raw"), 4).alias("llr"),
            "p_value",
        )
        .orderBy(F.col("llr").desc(), "cx", "cy", "r")
        .limit(_KULL_TOPK)
    )


@register(
    "agg_direct_standardization",
    oracle=f"""
    WITH cn AS (
      SELECT c.c_custkey, n.n_name, c.c_mktsegment AS seg
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), cust AS (
      SELECT n_name, seg, CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM cn GROUP BY 1, 2
    ), ord AS (
      SELECT cn.n_name, cn.seg, CAST(COUNT(*) AS BIGINT) AS n_ord
      FROM orders o JOIN cn ON o.o_custkey = cn.c_custkey
      GROUP BY 1, 2
    ), j AS (
      SELECT c.n_name, c.seg, c.n_cust, COALESCE(o.n_ord, 0) AS n_ord
      FROM cust c LEFT JOIN ord o ON c.n_name = o.n_name AND c.seg = o.seg
    ), tot AS (
      SELECT CAST(SUM(n_cust) AS BIGINT) AS n_all FROM j
    ), refw AS (
      SELECT seg, CAST(SUM(n_cust) AS DOUBLE) / t.n_all AS w
      FROM j CROSS JOIN tot t GROUP BY seg, t.n_all
    ), x AS (
      SELECT j.n_name, j.n_cust, j.n_ord,
             CAST(FLOOR(r.w * (j.n_ord / CAST(j.n_cust AS DOUBLE))
                  * 100000000 + 0.5) / 100000000 AS DECIMAL(30,8)) AS term
      FROM j JOIN refw r ON j.seg = r.seg
    )
    SELECT n_name,
           CAST(SUM(n_ord) AS BIGINT) AS observed,
           {sql_dround('SUM(n_ord) / CAST(SUM(n_cust) AS DOUBLE)', 4)}
             AS crude_rate,
           {sql_dround('CAST(SUM(term) AS DOUBLE)', 4)} AS dsr
    FROM x GROUP BY n_name ORDER BY n_name
    """,
    section=_SEC,
)
def agg_direct_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directly standardized rate (DSR) per nation — the companion to
    `agg_indirect_standardization` and the other half of THE classical
    epidemiology adjustment pair: indirect answers 'how does this
    group's observed count compare to what the reference rates predict
    for its population?' (SIR — stable when group strata are thin);
    direct answers 'what WOULD this group's rate be on the reference
    population structure?' (DSR — the only form whose values are
    comparable BETWEEN groups, which is why published inter-regional
    rate tables are direct). DSR_g = sum_s w_s * rate(g, s) with w_s the
    reference (whole-population) share of stratum s and rate(g, s) the
    group's stratum-specific orders-per-customer; strata the group lacks
    contribute 0 by the standard convention.

    Determinism: counts exact BIGINT; w_s and rate(g, s) are single
    IEEE divisions; each product snaps to the 1e-8 grid and sums as
    DECIMAL, so the 5-term weighted sum is order-independent; crude rate
    divides exact sums once.

    Scale: the same two partial-aggregated (nation, segment) rollups as
    the indirect key — the only data-scale exchanges; reference weights
    are a broadcast |segments| frame and everything downstream is
    |nations x segments| metadata."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name", F.col("c_mktsegment").alias("seg")
    )
    cust = cn.groupBy("n_name", "seg").agg(
        F.count("*").cast("bigint").alias("n_cust")
    )
    ordc = (
        o.join(cn, o.o_custkey == cn.c_custkey)
        .groupBy("n_name", "seg")
        .agg(F.count("*").cast("bigint").alias("n_ord"))
    )
    j = (
        cust.join(ordc, ["n_name", "seg"], "left")
        .select(
            "n_name",
            "seg",
            "n_cust",
            F.coalesce(F.col("n_ord"), F.lit(0)).cast("bigint").alias("n_ord"),
        )
        .localCheckpoint()  # consumed by weights + the standardized rollup
    )
    tot = j.agg(F.sum("n_cust").cast("bigint").alias("n_all"))
    refw = (
        j.crossJoin(F.broadcast(tot))
        .groupBy("seg", "n_all")
        .agg(F.sum("n_cust").alias("segsum"))
        .select(
            "seg", (F.col("segsum").cast("double") / F.col("n_all")).alias("w")
        )
    )
    term = (
        F.floor(
            F.col("w")
            * (F.col("n_ord") / F.col("n_cust").cast("double"))
            * 100000000
            + F.lit(0.5)
        )
        / 100000000
    ).cast(DEC)
    x = j.join(F.broadcast(refw), "seg").select(
        "n_name", "n_cust", "n_ord", term.alias("term")
    )
    return (
        x.groupBy("n_name")
        .agg(
            F.sum("n_ord").cast("bigint").alias("observed"),
            dround(
                F.sum("n_ord") / F.sum("n_cust").cast("double"), 4
            ).alias("crude_rate"),
            dround(F.sum("term").cast("double"), 4).alias("dsr"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Prospective space-time permutation scan (Kulldorff et al. 2005)
# ---------------------------------------------------------------------------

_ST_EPOCH = "2024-01-01"
_ST_END_T = 29            # last event day index in the fixture window
_ST_WINS = (1, 3, 7)      # trailing window lengths (days) ending at T
_ST_RADII = (0, 1)        # Chebyshev cell radii (1x1 / 3x3 zones)
_ST_OFFS = [(dx, dy, max(abs(dx), abs(dy)))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
_ST_OFFS_SQL = ", ".join(f"({dx}, {dy}, {ch})" for dx, dy, ch in _ST_OFFS)
_ST_TOPK = 10
_ST_REPS = 999         # Monte-Carlo replicates -> p floor 1/1000
# (SaTScan's convention — r12 raised 99 -> 999 after measuring the
# simulate is overhead-dominated at fixture scale: warm sf0.1 wall
# 14.7 s at R=999 vs 6.2 s at R=99, nowhere near the linear 10x.)
# Case hash: the shared xorshift-multiply mix `_st_mix_sql` / `_mix_cols`
# defined with the Kulldorff scan above (rationale + rejected designs
# documented there; dispersion pinned by
# test_spacetime_mix_hash_portable_and_dispersed).


def _st_scan_oracle() -> str:
    mix = _st_mix_sql("x")
    wsel = ", ".join(
        f"CAST(SUM(CASE WHEN b.t >= {_ST_END_T + 1 - ln} THEN b.n ELSE 0 END)"
        f" AS BIGINT) AS nw{ln}"
        for ln in _ST_WINS
    )
    gsel = ", ".join(
        f"CAST(SUM(CASE WHEN t >= {_ST_END_T + 1 - ln} THEN n ELSE 0 END)"
        f" AS BIGINT) AS w{ln}"
        for ln in _ST_WINS
    )
    warm = " ".join(f"WHEN {ln} THEN t.w{ln}" for ln in _ST_WINS)
    e = "(CAST(z.n_space * z.wmarg_i AS DOUBLE) / z.c_all)"
    llr = _llr_sql("z.obs", e, "z.c_all")
    llr6 = sql_dround("llr_raw", 6)
    return f"""
    WITH ev AS (
      SELECT CAST(FLOOR(((((user_id + 31) * {KNUTH}) % {KNUTH_MOD}) % 3600)
                  / 10.0 / 15.0 - 12.0) AS INTEGER) AS cx,
             CAST(FLOOR(((((user_id + 17) * {KNUTH}) % {KNUTH_MOD}) % 1200)
                  / 10.0 / 15.0 - 4.0) AS INTEGER) AS cy,
             date_diff('day', DATE '{_ST_EPOCH}', date_trunc('day', ts)) AS t
      FROM events
    ), cellday AS (
      SELECT cx, cy, t, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY 1, 2, 3
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS c_all, {gsel} FROM cellday
    ), cells0 AS (
      SELECT cx, cy, CAST(SUM(n) AS BIGINT) AS ns FROM cellday GROUP BY 1, 2
    ), cum AS (
      SELECT cx, cy, ns,
             SUM(ns) OVER (ORDER BY (CAST(cx AS BIGINT) + 12) * 8
                           + (CAST(cy AS BIGINT) + 4)) AS cum_hi
      FROM cells0
    ), daymarg AS (
      SELECT t, CAST(SUM(n) AS BIGINT) AS nt FROM cellday GROUP BY 1
    ), sim0 AS (
      SELECT r.j, dm.t, tt.c_all,
             (dm.t * {_ST_CASE_SALT} + s.i) * {_ST_REPS + 1} + r.j AS x
      FROM daymarg dm,
           UNNEST(generate_series(1, dm.nt)) AS s(i),
           range(1, {_ST_REPS + 1}) r(j),
           tot tt
    ), sim1 AS (SELECT *, {mix[0]} AS h1 FROM sim0
    ), sim2 AS (SELECT *, {mix[1]} AS h2 FROM sim1
    ), sim3 AS (SELECT *, {mix[2]} AS h3 FROM sim2
    ), sim4 AS (SELECT *, {mix[3]} AS h4 FROM sim3
    ), sim5 AS (SELECT *, {mix[4]} AS h5 FROM sim4
    ), sim AS (
      SELECT j, t, ({mix[5]}) % c_all AS h FROM sim5
    ), simcell AS (
      SELECT s.j, c.cx, c.cy, s.t, CAST(COUNT(*) AS BIGINT) AS n
      FROM sim s JOIN cum c ON s.h >= c.cum_hi - c.ns AND s.h < c.cum_hi
      GROUP BY 1, 2, 3, 4
    ), pc AS (
      SELECT 0 AS j, cx, cy, t, n FROM cellday
      UNION ALL
      SELECT j, cx, cy, t, n FROM simcell
    ), reps AS (
      SELECT 0 AS j UNION ALL SELECT j FROM range(1, {_ST_REPS + 1}) r(j)
    ), wins AS (
      SELECT r2.j, a.cx, a.cy, o.ch,
             CAST(SUM(b.n) AS BIGINT) AS n_all, {wsel}
      FROM (SELECT DISTINCT cx, cy FROM cellday) a
      CROSS JOIN reps r2
      JOIN (VALUES {_ST_OFFS_SQL}) o(dx, dy, ch) ON TRUE
      JOIN pc b ON b.j = r2.j AND b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
      GROUP BY 1, 2, 3, 4
    ), zones0 AS (
      SELECT j, cx, cy, rr.r,
             {", ".join(
                 f"SUM(CASE WHEN ch <= rr.r THEN nw{ln} ELSE 0 END) AS nw{ln}"
                 for ln in _ST_WINS)},
             SUM(CASE WHEN ch <= rr.r THEN n_all ELSE 0 END) AS n_space
      FROM wins CROSS JOIN (VALUES (0), (1)) rr(r)
      GROUP BY 1, 2, 3, 4
    ), zones AS (
      SELECT z0.j, z0.cx, z0.cy, z0.r, ww.win_days,
             CAST(z0.n_space AS BIGINT) AS n_space,
             CAST(CASE ww.win_days {" ".join(
                 f"WHEN {ln} THEN z0.nw{ln}" for ln in _ST_WINS)} END
                  AS BIGINT) AS obs
      FROM zones0 z0
      CROSS JOIN (VALUES {", ".join(f"({ln})" for ln in _ST_WINS)}) ww(win_days)
    ), scoredz AS (
      SELECT z.j, z.cx, z.cy, CAST(z.r AS INTEGER) AS r,
             CAST(z.win_days AS INTEGER) AS win_days,
             z.obs, z.n_space, z.wmarg_i, z.c_all,
             {llr} AS llr_raw
      FROM (SELECT zz.*, CAST(CASE zz.win_days {warm} END AS BIGINT)
                     AS wmarg_i, t.c_all
            FROM zones zz CROSS JOIN tot t) z
    ), repmax AS (
      SELECT j, MAX({llr6}) AS m6 FROM scoredz WHERE j >= 1 GROUP BY j
    ), obsz AS (
      SELECT cx, cy, r, win_days, obs, n_space, wmarg_i, c_all,
             llr_raw, {llr6} AS llr6
      FROM scoredz WHERE j = 0
    )
    SELECT o.cx, o.cy, o.r, o.win_days, o.obs,
           {sql_dround('CAST(o.n_space * o.wmarg_i AS DOUBLE) / o.c_all', 4)}
             AS expected,
           {sql_dround('o.llr_raw', 4)} AS llr,
           {sql_dround(
               f'(1.0 + SUM(CASE WHEN m.m6 >= o.llr6 THEN 1 ELSE 0 END))'
               f' / {_ST_REPS + 1}.0', 4)} AS p_value
    FROM obsz o CROSS JOIN repmax m
    GROUP BY o.cx, o.cy, o.r, o.win_days, o.obs, o.n_space, o.wmarg_i,
             o.c_all, o.llr_raw, o.llr6
    ORDER BY {sql_dround('o.llr_raw', 4)} DESC, o.cx, o.cy, o.r, o.win_days
    LIMIT {_ST_TOPK}
    """


@register(
    "query_spacetime_scan",
    oracle=_st_scan_oracle(),
    section=_SEC,
)
def query_spacetime_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROSPECTIVE space-time permutation scan (Kulldorff, Heffernan,
    Hartman, Assuncao, Mostashari 2005) — the algorithm live syndromic
    surveillance actually schedules nightly (SaTScan's daily mode): is
    there a cylinder (spatial zone x trailing time window ending NOW)
    with more cases than its own space and time marginals predict? The
    permutation-model expectation e(z, w) = space_marginal(z) x
    time_marginal(w) / C needs NO population denominator — purely the
    case stream — which is what makes it deployable on an events feed.
    Cylinders: 1x1 / 3x3 cell zones x {{1, 3, 7}}-day trailing windows;
    only windows touching the study end are evaluated (the prospective
    restriction — elapsed clusters are the RETROSPECTIVE
    `query_spatial_scan_kulldorff`'s job). Ranked by the same Poisson
    LLR (`_llr_sql`, shared expression text); p-values come from
    {_ST_REPS} conditional Monte-Carlo replicates whose case-to-cell
    assignment is the hash-addressed multinomial draw (`_st_mix_sql` /
    `_mix_cols`) — p = (1 + #replicate maxima >= observed LLR) / (R+1),
    the standard scan-statistic convention.

    Event geography is the user_id Knuth hash (the repo's derived-
    attribute idiom; the fixture has no native coordinates).

    Determinism: all marginals and observed counts are exact BIGINTs;
    e is one exact integer product cast to double and divided once; LLR
    is the shared ln chain rounded to 1e-4 with a unique (cx, cy, r,
    win) tiebreak.

    Scale: the (cell, day) rollup is the ONLY data-scale pass (a single
    partial-aggregated exchange); zones are |cells| x 9 offsets with the
    per-window sums as conditional aggregates in the SAME pass, and the
    marginals frame is one broadcast row. At 100 TB/day the rollup
    shuffles day-local cell states and everything downstream is
    O(cells x radii x windows) metadata."""
    e = table(spark, sf_dir, "events")
    ev = e.select(
        F.floor(
            (((F.col("user_id") + 31) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 3600)
            / 10.0
            / 15.0
            - 12.0
        )
        .cast("int")
        .alias("cx"),
        F.floor(
            (((F.col("user_id") + 17) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 1200)
            / 10.0
            / 15.0
            - 4.0
        )
        .cast("int")
        .alias("cy"),
        F.datediff(
            F.date_trunc("day", "ts"), F.lit(_ST_EPOCH).cast("date")
        ).alias("t"),
    )
    cellday = ev.groupBy("cx", "cy", "t").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return spacetime_scored(cellday)


def spacetime_scored(cellday: DataFrame) -> DataFrame:
    """Space-time permutation scoring over a (cx, cy, t, n) cell-day
    count frame: marginals, cylinder sums, permutation-model
    expectations, Poisson LLR ranking, and Monte-Carlo p-values. Each
    replicate redraws every case's CELL from the observed space
    marginal while keeping its DAY fixed (a deterministic multinomial:
    case i of day t in replicate j hashes to the cell whose cumulative
    space-marginal interval contains mix((t*salt + i)*10 + j) % C, the
    xorshift-multiply avalanche mix — NOT an affine stride, which is
    low-discrepancy mod C and under-disperses the null, and NOT md5,
    which disperses correctly at 12x the cost; constants note) — the time
    marginal is preserved EXACTLY by construction and
    the space marginal in expectation; Kulldorff 2005 permutes, which
    preserves both, but permutation is not expressible as deterministic
    order-free arithmetic, and the multinomial null is the same
    conditional family (the spatial key documents the identical
    choice). p(cylinder) = (1 + #{replicates whose MAX cylinder LLR >=
    this LLR}) / (R+1), the SaTScan convention for secondary clusters.

    Exact BIGINT marginals + single IEEE divisions + the shared ln
    chain, 1e-6-snapped before comparisons — identical under any
    partitioning/trigger schedule. Shared by the batch capstone and the
    streaming twin (stream == batch structural).

    Scale: the simulate explodes R x C synthetic case rows (a LINEAR
    constant of 9; at true deployment scale the replicates run per-cell
    binomial draws on the margins instead), assigns cells via a
    broadcast range probe against the resolution-bounded cumulative
    table, and shuffles once to (j, cell, day); everything downstream
    is O(cells x radii x windows x R) metadata."""
    spark = cellday.sparkSession
    cellday = cellday.localCheckpoint()  # marginals + zone join + sims
    tot = cellday.agg(
        F.sum("n").cast("bigint").alias("c_all"),
        *[
            F.sum(F.when(F.col("t") >= _ST_END_T + 1 - ln, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias(f"w{ln}")
            for ln in _ST_WINS
        ],
    )
    # deterministic multinomial replicates: cumulative space marginal...
    cum = (
        cellday.groupBy("cx", "cy")
        .agg(F.sum("n").cast("bigint").alias("ns"))
        .withColumn(
            "cum_hi",
            F.sum("ns").over(
                Window.orderBy(
                    (F.col("cx").cast("bigint") + 12) * 8
                    + (F.col("cy").cast("bigint") + 4)
                )
            ),
        )
    )
    # the per-day explode inherits daymarg's partitioning (|days| rows in
    # ONE partition after the agg) — without this spread the 90M-row
    # simulate at 100x runs on a single core (measured 79 s -> ~4 s; the
    # memory'd wide_table parallelism guard, applied inline)
    daymarg = (
        cellday.groupBy("t")
        .agg(F.sum("n").cast("bigint").alias("nt"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    repsj = spark.range(1, _ST_REPS + 1).select(F.col("id").cast("bigint").alias("j"))
    sim = (
        daymarg.crossJoin(F.broadcast(tot.select("c_all")))
        .select(
            "t",
            "c_all",
            F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("nt"))).alias("i"),
        )
        .crossJoin(F.broadcast(repsj))
        .withColumn(
            "x",
            (F.col("t") * _ST_CASE_SALT + F.col("i")) * (_ST_REPS + 1)
            + F.col("j"),
        )
    )
    sim = _mix_cols(sim).select(
        "j", "t", (F.col("h") % F.col("c_all")).alias("h")
    )
    # Bucketed interval probe (r14 optimization, guide §3.1/§3.3): the cell
    # intervals [cum_hi - ns, cum_hi) have no equi conjunct against h, so the
    # raw join plans as a BroadcastNestedLoopJoin — every one of the R x C
    # sim rows evaluates EVERY interval (~|cells| compares per row; ~9.6e9
    # predicate evaluations at sf0.1). Expanding each interval over
    # fixed-width h-buckets turns it into a BroadcastHashJoin on the bucket
    # id with the interval bounds as residual: ~2 candidate intervals per
    # probe regardless of |cells|. Bucket width bw = ceil(c_all / n_cells)
    # keeps the expanded table at <= 2 x n_cells rows (still
    # metadata-bounded, derived from the marginals — nothing tuned to local
    # mode). Bucket coverage [lo DIV bw, (hi-1) DIV bw] is exact, so the
    # matched (row, interval) pairs — and the output — are IDENTICAL.
    bw = cum.agg(
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.max("cum_hi") / F.count("*")).cast("bigint"),
        ).alias("bw")
    )
    cumb = (
        cum.crossJoin(F.broadcast(bw))
        .select(
            "cx",
            "cy",
            (F.col("cum_hi") - F.col("ns")).alias("lo"),
            "cum_hi",
            F.explode(
                F.expr(
                    "sequence((cum_hi - ns) DIV bw, (cum_hi - 1) DIV bw)"
                )
            ).alias("bucket"),
        )
    )
    # Day-grain collapse BEFORE the window join (r14 optimization, guide
    # §2.3 "aggregate before you shuffle" / §2.4): downstream only ever
    # consumes SUM(n) and the three trailing-window conditional sums — the
    # per-day resolution of (j, cell, t) is thrown away by `wins`. Folding
    # the window conditionals into the simulate's FIRST aggregation
    # collapses the replicate frame from |cells| x R x days rows to
    # |cells| x R (30x at sf0.1), so the neighbor-offset join probes a
    # metadata-bounded frame: cells are resolution-bounded (<=192) and R
    # is fixed, so pc is <=192 x (R+1) rows at ANY data scale — small
    # enough to broadcast BY CONSTRUCTION, which removes both sort-merge
    # exchanges the old per-day join paid. All sums are exact BIGINTs, so
    # regrouping is associative and the output is bit-identical (sweep-
    # proved vs the unchanged per-day oracle at sf0.01 and sf0.1).
    simagg = (
        sim.crossJoin(F.broadcast(bw))
        .select("j", "t", "h", F.expr("h DIV bw").alias("bucket"))
        .join(
            F.broadcast(cumb),
            ["bucket"],
        )
        .filter((F.col("h") >= F.col("lo")) & (F.col("h") < F.col("cum_hi")))
        .groupBy("j", "cx", "cy")
        .agg(
            F.count("*").cast("bigint").alias("n_all"),
            *[
                F.sum(
                    F.when(F.col("t") >= _ST_END_T + 1 - ln, 1).otherwise(0)
                )
                .cast("bigint")
                .alias(f"nw{ln}")
                for ln in _ST_WINS
            ],
        )
    )
    obsagg = (
        cellday.groupBy("cx", "cy")
        .agg(
            F.sum("n").cast("bigint").alias("n_all"),
            *[
                F.sum(
                    F.when(F.col("t") >= _ST_END_T + 1 - ln, F.col("n")).otherwise(0)
                )
                .cast("bigint")
                .alias(f"nw{ln}")
                for ln in _ST_WINS
            ],
        )
        .select(
            F.lit(0).cast("bigint").alias("j"),
            "cx",
            "cy",
            "n_all",
            *[f"nw{ln}" for ln in _ST_WINS],
        )
    )
    pc = obsagg.unionByName(simagg.select(obsagg.columns))

    offs = spark.createDataFrame(_ST_OFFS, "dx int, dy int, ch int")
    reps_all = spark.range(0, _ST_REPS + 1).select(
        F.col("id").cast("bigint").alias("aj")
    )
    a = (
        cellday.select("cx", "cy")
        .distinct()
        .select(F.col("cx").alias("acx"), F.col("cy").alias("acy"))
        .crossJoin(F.broadcast(reps_all))
    )
    wins = (
        a.crossJoin(F.broadcast(offs))
        .join(
            F.broadcast(pc),
            (F.col("j") == F.col("aj"))
            & (F.col("cx") == F.col("acx") + F.col("dx"))
            & (F.col("cy") == F.col("acy") + F.col("dy")),
        )
        .groupBy("aj", "acx", "acy", "ch")
        .agg(
            F.sum("n_all").cast("bigint").alias("n_all"),
            *[
                F.sum(f"nw{ln}").cast("bigint").alias(f"nw{ln}")
                for ln in _ST_WINS
            ],
        )
    )
    radii = spark.createDataFrame([(r,) for r in _ST_RADII], "r int")
    zones0 = (
        wins.crossJoin(F.broadcast(radii))
        .groupBy(
            F.col("aj").alias("j"),
            F.col("acx").alias("cx"),
            F.col("acy").alias("cy"),
            "r",
        )
        .agg(
            *[
                F.sum(
                    F.when(F.col("ch") <= F.col("r"), F.col(f"nw{ln}")).otherwise(0)
                ).alias(f"nw{ln}")
                for ln in _ST_WINS
            ],
            F.sum(
                F.when(F.col("ch") <= F.col("r"), F.col("n_all")).otherwise(0)
            ).alias("n_space"),
        )
    )
    winsdf = spark.createDataFrame([(ln,) for ln in _ST_WINS], "win_days int")
    obs_expr = None
    for ln in _ST_WINS:
        obs_expr = (
            F.when(F.col("win_days") == ln, F.col(f"nw{ln}"))
            if obs_expr is None
            else obs_expr.when(F.col("win_days") == ln, F.col(f"nw{ln}"))
        )
    wmarg_expr = None
    for ln in _ST_WINS:
        wmarg_expr = (
            F.when(F.col("win_days") == ln, F.col(f"w{ln}"))
            if wmarg_expr is None
            else wmarg_expr.when(F.col("win_days") == ln, F.col(f"w{ln}"))
        )
    zones = (
        zones0.crossJoin(F.broadcast(winsdf))
        .crossJoin(F.broadcast(tot))
        .select(
            "j",
            "cx",
            "cy",
            F.col("r").cast("int").alias("r"),
            F.col("win_days").cast("int").alias("win_days"),
            obs_expr.cast("bigint").alias("obs"),
            F.col("n_space").cast("bigint").alias("n_space"),
            wmarg_expr.cast("bigint").alias("wmarg_i"),
            "c_all",
        )
    )
    llr = F.expr(
        _llr_sql("obs", "(CAST(n_space * wmarg_i AS DOUBLE) / c_all)", "c_all")
    )
    scoredz = zones.withColumn("llr_raw", llr).localCheckpoint()
    repmax = (
        scoredz.filter(F.col("j") >= 1)
        .groupBy("j")
        .agg(F.max(dround(F.col("llr_raw"), 6)).alias("m6"))
    )
    obsz = scoredz.filter(F.col("j") == 0).withColumn(
        "llr6", dround(F.col("llr_raw"), 6)
    )
    return (
        obsz.crossJoin(F.broadcast(repmax))
        .groupBy(
            "cx", "cy", "r", "win_days", "obs", "n_space", "wmarg_i",
            "c_all", "llr_raw", "llr6",
        )
        .agg(
            dround(
                (
                    F.lit(1.0)
                    + F.sum(
                        F.when(F.col("m6") >= F.col("llr6"), 1).otherwise(0)
                    )
                )
                / F.lit(float(_ST_REPS + 1)),
                4,
            ).alias("p_value")
        )
        .select(
            "cx",
            "cy",
            "r",
            "win_days",
            "obs",
            dround(
                (F.col("n_space") * F.col("wmarg_i")).cast("double")
                / F.col("c_all"),
                4,
            ).alias("expected"),
            dround(F.col("llr_raw"), 4).alias("llr"),
            "p_value",
        )
        .orderBy(F.col("llr").desc(), "cx", "cy", "r", "win_days")
        .limit(_ST_TOPK)
    )


# ---------------------------------------------------------------------------
# Probabilistic record linkage (Fellegi & Sunter 1969)
# ---------------------------------------------------------------------------

# The fixture's slim customer table carries (name, nation, acctbal,
# segment); a 7-digit pseudo-phone is derived per key with the repo's
# Knuth multiplicative hash (the same fixture-augmentation idiom the
# spatial ops use for lat/lon) — shared SQL text, exact BIGINT
# arithmetic in both engines.
def _rl_phone_sql(key: str) -> str:
    """7-digit pseudo-phone of a key column — shared SQL text (also used
    by the incremental-linkage stream, keyed on user_id there)."""
    return (
        f"lpad(CAST(({key} + 7) * {KNUTH} % {KNUTH_MOD} % 10000000"
        " AS STRING), 7, '0')"
    )


_RL_PHONE = _rl_phone_sql("c_custkey")

# System B = the customer master deterministically corrupted per key (the
# two-reporting-systems shape a surveillance platform links nightly:
# case reports re-keyed by a lab system with casing, typo, and
# lost-attribute noise). Corruption expressions are shared SQL evaluated
# VERBATIM by both engines.
_RL_B_NAME = "CASE WHEN c_custkey % 3 = 0 THEN lower(c_name) ELSE c_name END"
_RL_B_PHONE = (
    "CASE WHEN c_custkey % 5 = 0"
    f" THEN concat(substr({_RL_PHONE}, 1, 6), '9')"
    f" ELSE {_RL_PHONE} END"
)
_RL_B_BAL = (
    "CASE WHEN c_custkey % 7 = 0"
    " THEN c_acctbal + CAST(0.01 AS DOUBLE) ELSE c_acctbal END"
)
_RL_B_SEG = (
    "CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END"
)

# Fellegi-Sunter field weights: agreement weight ln(m/u), disagreement
# weight ln((1-m)/(1-u)), PRECOMPUTED to fixed 4-dp literals (model
# constants, like any published m/u table) so the score is an exact
# shared decimal expression — no transcendental evaluated at query time.
#   name  m=0.67  u=0.0001  (1/3 of B names case-folded)
#   phone m=0.80  u=0.0001  (1/5 of B phones last-digit typo)
#   bal   m=0.857 u=0.0001  (1/7 of B balances off by a cent)
#   seg   m=0.909 u=0.2     (1/11 corrupted; 5 segments -> u = 1/5)
_RL_SCORE = (
    "CAST(CASE WHEN a_name = b_name THEN 8.8099 ELSE -1.1086 END AS DOUBLE)"
    " + CAST(CASE WHEN a_phone = b_phone THEN 8.9872 ELSE -1.6093 END"
    " AS DOUBLE)"
    " + CAST(CASE WHEN a_bal = b_bal THEN 9.0560 ELSE -1.9448 END"
    " AS DOUBLE)"
    " + CAST(CASE WHEN a_seg = b_seg THEN 1.5140 ELSE -2.1738 END"
    " AS DOUBLE)"
)
_RL_LINK = 12.0      # >= : classify 'link' (auto-accept)
_RL_POSSIBLE = 2.0   # >= : classify 'possible' (clerical review)
# Pass-1 block-entropy ladder: phone digits appended to the
# (nation, segment) block as the corpus grows — the join_geo_nearest
# density doctrine applied to linkage blocking (a fixed coarse block
# makes within-block pairs quadratic in deployment scale). The appended
# digits are phone PREFIX positions the typo corruption never touches.
_RL_LADDER = "CASE WHEN n <= 20000 THEN 0 WHEN n <= 200000 THEN 1 ELSE 2 END"

_RL_PAIR_COLS = (
    "a_key, a_name, a_phone, a_bal, a_seg, "
    "b_key, b_name, b_phone, b_bal, b_seg"
)


# Engine-shared blocking CTE chain (sources + block keys) and the
# candidate-pair union built on it — the linkage oracle and the
# EM-training key compose these.
_RL_BLOCK_CTES = f"""kcfg AS (
      SELECT {_RL_LADDER} AS k FROM (SELECT COUNT(*) AS n FROM customer) t
    ), a AS (
      SELECT c_custkey AS a_key, c_name AS a_name,
             {_RL_PHONE} AS a_phone, c_acctbal AS a_bal,
             c_mktsegment AS a_seg, c_nationkey AS a_nat
      FROM customer
    ), b AS (
      SELECT c_custkey AS b_key,
             {_RL_B_NAME} AS b_name,
             {_RL_B_PHONE} AS b_phone,
             {_RL_B_BAL} AS b_bal,
             {_RL_B_SEG} AS b_seg,
             c_nationkey AS b_nat
      FROM customer
    ), a1 AS (
      SELECT a.*, concat(CAST(a_nat AS STRING), '|', a_seg, '|',
                         substr(a_phone, 1, kcfg.k)) AS blk
      FROM a CROSS JOIN kcfg
    ), b1 AS (
      SELECT b.*, concat(CAST(b_nat AS STRING), '|', b_seg, '|',
                         substr(b_phone, 1, kcfg.k)) AS blk
      FROM b CROSS JOIN kcfg
    )"""

_RL_PAIRS_CTES = f"""{_RL_BLOCK_CTES}, pairs AS (
      SELECT {_RL_PAIR_COLS}
      FROM a1 JOIN b1 ON a1.blk = b1.blk
      UNION
      SELECT {_RL_PAIR_COLS}
      FROM a JOIN b
        ON substr(upper(a.a_name), 1, 17) = substr(upper(b.b_name), 1, 17)
    )"""


def _record_linkage_oracle() -> str:
    return f"""
    WITH {_RL_PAIRS_CTES}, scored AS (
      SELECT a_key, b_key,
             CAST(CASE WHEN a_name = b_name THEN 1 ELSE 0 END AS INT)
               AS agree_name,
             CAST(CASE WHEN a_phone = b_phone THEN 1 ELSE 0 END AS INT)
               AS agree_phone,
             CAST(CASE WHEN a_bal = b_bal THEN 1 ELSE 0 END AS INT)
               AS agree_bal,
             CAST(CASE WHEN a_seg = b_seg THEN 1 ELSE 0 END AS INT)
               AS agree_seg,
             {sql_dround(_RL_SCORE, 4)} AS score
      FROM pairs
    )
    SELECT a_key, b_key, agree_name, agree_phone, agree_bal, agree_seg,
           score,
           CASE WHEN score >= {_RL_LINK} THEN 'link'
                ELSE 'possible' END AS match_class
    FROM scored
    WHERE score >= {_RL_POSSIBLE}
    ORDER BY score DESC, a_key, b_key
    """


@register(
    "query_record_linkage",
    oracle=_record_linkage_oracle(),
    section=_SEC,
)
def query_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter, JASA 1969) — the
    algorithm public-health platforms run to match case reports across
    reporting systems without a shared key. System B is the customer
    master under deterministic per-key corruption (case-folded names,
    last-digit phone typos, off-by-a-cent balances, lost segments);
    each candidate pair gets a log-likelihood score = sum over fields of
    ln(m/u) on agreement or ln((1-m)/(1-u)) on disagreement (precomputed
    literal weights — the published-m/u-table shape), then three-way
    classification: link (auto-accept), possible (clerical review),
    non-link (dropped from output). A pair with too much corruption
    (name+phone+bal all hit: keys = 0 mod 105, except those whose
    pseudo-phone already ends in '9' so the typo is a no-op) scores
    below the review cutoff and is correctly LOST — the false-negative
    band every real linkage operation owns and monitors.

    Candidate generation is MULTI-PASS BLOCKING, the production recall
    strategy (any single block key can itself be corrupted): pass 1
    blocks on (nation, segment) + a DENSITY-LADDERED phone-prefix
    suffix (0/1/2 digits by corpus size — a fixed coarse block makes
    within-block pairs QUADRATIC in deployment scale, the
    join_geo_nearest doctrine; the appended digits come from phone
    positions the typo never touches, so true-pair recall is unharmed),
    pass 2 blocks on the case-normalized 17-char name prefix (catches
    the pairs whose segment was corrupted away from pass 1). Both
    passes are plain equi-joins — Catalyst never sees a cartesian — and
    the UNION dedups the overlap. Scoring and classification are pure
    projection; only link/possible rows (≈ one per true entity) are
    emitted.

    Cross-engine exactness: corruption, pseudo-phone, and score
    expressions are shared SQL text; weights are fixed decimal literals
    cast to double and summed in one fixed order, snapped to 4 dp
    before the threshold compares."""
    c = table(spark, sf_dir, "customer")
    kcfg = c.agg(F.count("*").alias("n")).select(
        F.expr(_RL_LADDER).alias("k")
    )
    a = c.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        F.expr(_RL_PHONE).alias("a_phone"),
        F.col("c_acctbal").alias("a_bal"),
        F.col("c_mktsegment").alias("a_seg"),
        F.col("c_nationkey").alias("a_nat"),
    )
    b = c.select(
        F.col("c_custkey").alias("b_key"),
        F.expr(_RL_B_NAME).alias("b_name"),
        F.expr(_RL_B_PHONE).alias("b_phone"),
        F.expr(_RL_B_BAL).alias("b_bal"),
        F.expr(_RL_B_SEG).alias("b_seg"),
        F.col("c_nationkey").alias("b_nat"),
    )
    pair_cols = [s.strip() for s in _RL_PAIR_COLS.split(",")]
    # the block id is a COLUMN so the ladder digits join as part of the
    # hash key (a join-condition substr on a runtime k would demote to a
    # residual filter AFTER the coarse pairing — the exact quadratic
    # blowup the ladder exists to prevent)
    a1 = a.crossJoin(F.broadcast(kcfg)).withColumn(
        "blk",
        F.expr(
            "concat(CAST(a_nat AS STRING), '|', a_seg, '|',"
            " substr(a_phone, 1, k))"
        ),
    )
    b1 = b.crossJoin(F.broadcast(kcfg)).withColumn(
        "blk",
        F.expr(
            "concat(CAST(b_nat AS STRING), '|', b_seg, '|',"
            " substr(b_phone, 1, k))"
        ),
    )
    pass1 = a1.join(b1.drop("k"), "blk").select(*pair_cols)
    pass2 = a.join(
        b,
        F.expr(
            "substr(upper(a_name), 1, 17) = substr(upper(b_name), 1, 17)"
        ),
    ).select(*pair_cols)
    pairs = pass1.unionByName(pass2).distinct()
    scored = pairs.select(
        "a_key",
        "b_key",
        F.expr("CASE WHEN a_name = b_name THEN 1 ELSE 0 END")
        .cast("int")
        .alias("agree_name"),
        F.expr("CASE WHEN a_phone = b_phone THEN 1 ELSE 0 END")
        .cast("int")
        .alias("agree_phone"),
        F.expr("CASE WHEN a_bal = b_bal THEN 1 ELSE 0 END")
        .cast("int")
        .alias("agree_bal"),
        F.expr("CASE WHEN a_seg = b_seg THEN 1 ELSE 0 END")
        .cast("int")
        .alias("agree_seg"),
        dround(F.expr(_RL_SCORE), 4).alias("score"),
    )
    return (
        scored.filter(F.col("score") >= _RL_POSSIBLE)
        .withColumn(
            "match_class",
            F.when(F.col("score") >= _RL_LINK, F.lit("link")).otherwise(
                F.lit("possible")
            ),
        )
        .orderBy(F.col("score").desc(), "a_key", "b_key")
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter EM weight training (Winkler 1988): estimate m/u/p from
# the candidate pairs themselves — the step the published-table linkage
# key takes as given. ONE engine-shared SQL text (both engines evaluate
# the identical arithmetic): agreement vectors collapse to <= 16 pattern
# counts, then _RL_EM_ITERS unrolled EM iterations run over that
# metadata-sized table with DECIMAL-exact sums and 1e-12 grid snapping
# per scalar — the Holt-recursion portability discipline, so the chain
# is bit-identical across engines and the key is fully HASH-ORACLED
# despite being an iterative fit.
# ---------------------------------------------------------------------------

_RL_EM_ITERS = 10
_RL_EM_FIELDS = ["name", "phone", "bal", "seg"]  # g1..g4 in this order


def _em_dec8(e: str) -> str:
    return f"CAST(FLOOR(({e}) * 100000000 + 0.5) / 100000000 AS DECIMAL(30,8))"


def _em_snap12(e: str) -> str:
    return f"FLOOR(({e}) * 1000000000000 + 0.5) / 1000000000000"


def _em_clamp(e: str) -> str:
    # Winkler's boundary clamp: a parameter pinned at 0/1 freezes EM and
    # makes ln(m/u) infinite; 1e-6 is the conventional floor
    return f"GREATEST(0.000001, LEAST(0.999999, {e}))"


def _em_step(prev: str) -> str:
    pm = " * ".join(
        f"(CASE WHEN g{i} = 1 THEN it.m{i} ELSE 1 - it.m{i} END)"
        for i in range(1, 5)
    )
    pu = " * ".join(
        f"(CASE WHEN g{i} = 1 THEN it.u{i} ELSE 1 - it.u{i} END)"
        for i in range(1, 5)
    )
    sums = [
        f"CAST(SUM({_em_dec8('w * cnt')}) AS DOUBLE) AS sw",
        f"CAST(SUM({_em_dec8('(1 - w) * cnt')}) AS DOUBLE) AS sv",
        f"CAST(SUM({_em_dec8('cnt')}) AS DOUBLE) AS nn",
    ]
    for i in range(1, 5):
        sums.append(
            f"CAST(SUM({_em_dec8(f'w * cnt * g{i}')}) AS DOUBLE) AS swg{i}"
        )
        sums.append(
            f"CAST(SUM({_em_dec8(f'(1 - w) * cnt * g{i}')}) AS DOUBLE)"
            f" AS svg{i}"
        )
    # p gets the same Winkler clamp as m/u (ADVICE r12 #2): on a
    # degenerate pattern table p can snap to exactly 0 or 1, after which
    # sw (or sv) = 0 and the next M-step divides by it — NaN would then
    # propagate silently through the remaining unrolled iterations
    sel = [_em_clamp(_em_snap12("sw / nn")) + " AS p"]
    for i in range(1, 5):
        sel.append(_em_clamp(_em_snap12(f"swg{i} / sw")) + f" AS m{i}")
        sel.append(_em_clamp(_em_snap12(f"svg{i} / sv")) + f" AS u{i}")
    return f"""SELECT {", ".join(sel)} FROM (
      SELECT {", ".join(sums)} FROM (
        SELECT cnt, g1, g2, g3, g4,
               {_em_snap12(f"(it.p * {pm}) / (it.p * {pm} + (1 - it.p) * {pu})")} AS w
        FROM pat CROSS JOIN {prev} it
      ) e
    ) s"""


def _linkage_em_pat_sql() -> str:
    """Data-scale half: blocked pairs -> <=16 agreement-pattern counts.
    Agreement bits are computed INSIDE each blocking pass so the
    pair-identity dedup (a pair both passes find must count once) runs
    over 6 NARROW columns, not the 10 wide attribute strings the
    linkage key's pairs CTE dedups — the g's are functions of the pair,
    so the two dedups are equivalent and the shuffle shrinks ~5x
    (measured 97.9 s -> 31 s at the dup-dense 10x's 31.4M candidates)."""
    agr = ", ".join(
        f"CAST(CASE WHEN a_{f} = b_{f} THEN 1 ELSE 0 END AS INT) AS g{i}"
        for i, f in enumerate(_RL_EM_FIELDS, 1)
    )
    return f"""
    WITH {_RL_BLOCK_CTES}, cand AS (
      SELECT DISTINCT a_key, b_key, g1, g2, g3, g4 FROM (
        SELECT a_key, b_key, {agr}
        FROM a1 JOIN b1 ON a1.blk = b1.blk
        UNION ALL
        SELECT a_key, b_key, {agr}
        FROM a JOIN b
          ON substr(upper(a.a_name), 1, 17) = substr(upper(b.b_name), 1, 17)
      ) u
    )
    SELECT g1, g2, g3, g4, CAST(COUNT(*) AS DOUBLE) AS cnt
    FROM cand GROUP BY g1, g2, g3, g4
    """


def _em_final_select(it_rel: str) -> str:
    """The weight-emitting final SELECT over a fitted parameter relation
    (one row: p, m1..4, u1..4) — shared verbatim by the DuckDB oracle
    (over its it10 CTE) and the Spark key (over a literal one-row CTE
    holding the driver-fitted parameters), so the ln()/micro-nat tail is
    the identical expression chain on both engines."""
    m_case = "CASE f.i " + " ".join(
        f"WHEN {i} THEN it.m{i}" for i in range(1, 5)
    ) + " END"
    u_case = "CASE f.i " + " ".join(
        f"WHEN {i} THEN it.u{i}" for i in range(1, 5)
    ) + " END"

    def micronat(e: str) -> str:
        return (
            f"CAST(CAST(FLOOR(LN({e}) * 1000000 + 0.5) AS BIGINT)"
            " AS DOUBLE) / 1000000"
        )

    vals = ", ".join(
        f"({i}, '{f}')" for i, f in enumerate(_RL_EM_FIELDS, 1)
    )
    return f"""
    SELECT f.field,
           {m_case} AS m,
           {u_case} AS u,
           {micronat(f"({m_case}) / ({u_case})")} AS w_agree,
           {micronat(f"(1 - ({m_case})) / (1 - ({u_case}))")} AS w_disagree,
           it.p AS match_prevalence
    FROM {it_rel} it
    CROSS JOIN (SELECT * FROM (VALUES {vals}) AS t(i, field)) f
    ORDER BY f.field
    """


def _linkage_em_pat_fast_sql() -> str:
    """The Spark-side pattern pass, inclusion-exclusion shape (r13): the
    DISTINCT text above shuffles EVERY candidate pair (31.4M narrow rows
    at the dup-dense 10x) just to unify the two blocking passes' finds.
    But each record carries exactly ONE blk and one name-prefix, so each
    pass emits a given pair AT MOST ONCE, and per-pattern counts obey
    |A ∪ B| = |A| + |B| - |A ∩ B| — with the overlap A∩B computable as a
    third equi-join on BOTH keys at once. Each branch then collapses to
    <= 16 pattern rows via groupBy with MAP-SIDE partial aggregation: no
    pair-grain exchange exists anywhere in the plan (the exchanges carry
    <= 16 rows per task). Counts are provably equal to the DISTINCT
    text's — the oracle keeps that text, the hash match proves the
    algebra, and the pytest diffs the two shapes directly."""
    agr = ", ".join(
        f"CAST(CASE WHEN a_{f} = b_{f} THEN 1 ELSE 0 END AS INT) AS g{i}"
        for i, f in enumerate(_RL_EM_FIELDS, 1)
    )
    grp = "g1, g2, g3, g4"
    return f"""
    WITH {_RL_BLOCK_CTES},
    p1 AS (
      SELECT {grp}, COUNT(*) AS c FROM (
        SELECT {agr} FROM a1 JOIN b1 ON a1.blk = b1.blk
      ) t GROUP BY {grp}
    ),
    p2 AS (
      SELECT {grp}, COUNT(*) AS c FROM (
        SELECT {agr} FROM a JOIN b
          ON substr(upper(a.a_name), 1, 17) = substr(upper(b.b_name), 1, 17)
      ) t GROUP BY {grp}
    ),
    p12 AS (
      SELECT {grp}, COUNT(*) AS c FROM (
        SELECT {agr} FROM a1 JOIN b1
          ON a1.blk = b1.blk
         AND substr(upper(a1.a_name), 1, 17) = substr(upper(b1.b_name), 1, 17)
      ) t GROUP BY {grp}
    )
    SELECT {grp}, CAST(SUM(c) AS DOUBLE) AS cnt FROM (
      SELECT {grp}, c FROM p1
      UNION ALL SELECT {grp}, c FROM p2
      UNION ALL SELECT {grp}, -c FROM p12
    ) u GROUP BY {grp}
    """


def _linkage_em_iter_sql(pat_rel: str) -> str:
    """The unrolled EM chain over a pattern relation — the ORACLE side
    (DuckDB materializes the multi-referenced CTE and its analyzer is
    untroubled by 10 nested aggregate CTEs). The Spark side no longer
    executes this text: it fits driver-side over the collected <= 16
    pattern rows (_em_fit_driver) and runs only _em_final_select."""
    iters = ",\n    ".join(
        f"it{k} AS ({_em_step(f'it{k - 1}')})".replace(
            "FROM pat ", f"FROM {pat_rel} "
        )
        for k in range(1, _RL_EM_ITERS + 1)
    )
    return f"""
    WITH it0 AS (SELECT CAST(0.1 AS DOUBLE) AS p,
                   CAST(0.9 AS DOUBLE) AS m1, CAST(0.9 AS DOUBLE) AS m2,
                   CAST(0.9 AS DOUBLE) AS m3, CAST(0.9 AS DOUBLE) AS m4,
                   CAST(0.1 AS DOUBLE) AS u1, CAST(0.1 AS DOUBLE) AS u2,
                   CAST(0.1 AS DOUBLE) AS u3, CAST(0.1 AS DOUBLE) AS u4),
    {iters}
    {_em_final_select(f"it{_RL_EM_ITERS}")}
    """


def _em_fit_driver(rows) -> dict[str, float]:
    """The 10-iteration EM fit over the collected agreement-pattern rows,
    mirroring _em_step's SQL arithmetic BIT-FOR-BIT (VERDICT r12
    next-round #4: the unrolled 10-CTE chain cost ~18 s of
    data-independent Catalyst analysis per invocation; the pattern table
    is <= 2^4 rows — collected-bounded driver state, the k-means-fit
    doctrine — so the fit belongs on the driver):

    - per-pattern E-step terms replay the SQL's FLOOR-double / 1e8 ->
      DECIMAL(30,8) pipeline VERBATIM (dec8): floor as a double (exact
      at any magnitude — a double's floor is always representable),
      one IEEE division by 1e8, then DuckDB's double->DECIMAL cast,
      which is round-HALF-EVEN of the double product c*1e8 (verified
      against the live engine over 40k adversarial magnitudes spanning
      2^26..2^34, where ADVICE r13 #1 showed the naive exact-int
      shortcut can misround — below 2^26 the two provably coincide);
      the resulting grid ints sum exactly (order-free == DECIMAL SUM);
    - CAST(SUM(DECIMAL) AS DOUBLE) is int->double THEN /1e8 — NOT the
      correctly-rounded rational (float(s)/1e8 matched DuckDB 300/300
      on >2^53 sums where true division diverges 70/300);
    - every scalar snaps to the 1e-12 grid exactly as the SQL does
      (floor returns a < 2**53 int, / 10**12 is one IEEE division);
    - products and quotients evaluate in the SQL's left-associated
      order — p (and 1-p) fold into the running product FIRST, matching
      `it.p * c1 * c2 * c3 * c4` == ((((p*c1)*c2)*c3)*c4), not
      p * (c1*c2*c3*c4) (ADVICE r13 #1: the two associations can differ
      by 1 ulp, which a 1e-12/1e-8 snap boundary then amplifies);
    - p, m_i, u_i all take the Winkler 1e-6 clamp (ADVICE r12 #2).

    Python floats ARE IEEE doubles, so matching the expression order
    makes this the same computation the oracle runs — pinned by the
    hash oracle and by the pytest that diffs the fit against the pure
    SQL chain directly."""
    import math

    pats = [
        (
            float(r["cnt"]),
            (int(r["g1"]), int(r["g2"]), int(r["g3"]), int(r["g4"])),
        )
        for r in rows
    ]

    def snap12(x: float) -> float:
        return math.floor(x * 1000000000000 + 0.5) / 1000000000000

    def dec8(x: float) -> int:
        # The SQL term CAST(FLOOR(x*1e8 + 0.5)/1e8 AS DECIMAL(30,8)),
        # op-for-op (docstring bullet 2; pinned against the live DuckDB
        # by test_em_dec8_emulates_duckdb_cast): float(floor) is always
        # exact (a double's floor is representable), /1e8 is one IEEE
        # division, and the decimal cast is round-half-even of the
        # double product — Python round() IS half-even. Below 2**26
        # this provably equals the plain floor int (ulp < grid step);
        # above it (dup-dense 100x pattern counts reach 1.1e9) the
        # emulation is what keeps the fit == the oracle, where the
        # old exact-int shortcut misrounded ~0.6% of terms.
        c = float(math.floor(x * 100000000 + 0.5)) / 1e8
        return round(c * 1e8)

    def clamp(x: float) -> float:
        return max(0.000001, min(0.999999, x))

    p, m, u = 0.1, [0.9] * 4, [0.1] * 4
    for _ in range(_RL_EM_ITERS):
        sw = sv = nn = 0
        swg, svg = [0] * 4, [0] * 4
        for cnt, gs in pats:
            # SQL is `it.p * c1 * c2 * c3 * c4` — left-associated, p
            # first — so seed the running products with p / (1-p) and
            # fold the per-field factors in order (ADVICE r13 #1).
            pm, pu = p, 1 - p
            for i in range(4):
                pm *= m[i] if gs[i] == 1 else 1 - m[i]
                pu *= u[i] if gs[i] == 1 else 1 - u[i]
            w = snap12(pm / (pm + pu))
            sw += dec8(w * cnt)
            sv += dec8((1 - w) * cnt)
            nn += dec8(cnt)
            for i in range(4):
                swg[i] += dec8(w * cnt * gs[i])
                svg[i] += dec8((1 - w) * cnt * gs[i])
        # CAST(SUM AS DOUBLE) == float(int) THEN /1e8 (docstring bullet
        # 3) — int/int true division is correctly rounded and diverges
        # from the engine above 2**53
        sw_d, sv_d, nn_d = float(sw) / 1e8, float(sv) / 1e8, float(nn) / 1e8
        p = clamp(snap12(sw_d / nn_d))
        m = [clamp(snap12(float(swg[i]) / 1e8 / sw_d)) for i in range(4)]
        u = [clamp(snap12(float(svg[i]) / 1e8 / sv_d)) for i in range(4)]
    out = {"p": p}
    for i in range(4):
        out[f"m{i + 1}"] = m[i]
        out[f"u{i + 1}"] = u[i]
    return out


def _linkage_em_oracle() -> str:
    """DuckDB gets the whole thing as ONE text (it materializes the
    multi-referenced pattern CTE; Spark runs the two halves split —
    see _linkage_em_iter_sql)."""
    iter_sql = _linkage_em_iter_sql("pat").strip()
    assert iter_sql.startswith("WITH ")
    return f"""
    WITH pat AS ({_linkage_em_pat_sql()}),
    {iter_sql[len("WITH "):]}
    """


@register(
    "query_linkage_em_weights", oracle=_linkage_em_oracle(), section=_SEC
)
def query_linkage_em_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM-trained Fellegi-Sunter parameters (Winkler 1988; Jaro's
    UNIMATCH lineage) — the step `query_record_linkage` takes as given:
    estimate each field's m = P(agree | match), u = P(agree | unmatch)
    and the match prevalence p FROM THE CANDIDATE PAIRS THEMSELVES, no
    labeled truth, then emit the ln(m/u) / ln((1-m)/(1-u)) agreement
    weights a production linkage run would score with. This is how a
    real linkage shop calibrates: published tables start somewhere, but
    every new reporting system's error rates are estimated by EM over
    its own blocked pairs.

    Spark shape: the two-pass blocked pairs (the SAME shared CTE text
    the linkage key certifies) collapse to <= 2^4 agreement-pattern
    counts — ONE data-scale aggregation — and the {_RL_EM_ITERS}
    unrolled EM iterations run entirely over that 16-row table:
    E-step responsibilities and M-step re-estimates are plain SQL
    arithmetic, so 100 TB of pairs cost one groupBy; the fit itself is
    metadata-sized regardless of corpus. FULLY HASH-ORACLED despite
    being iterative: per-pattern terms snap to the 1e-8 grid and sum as
    DECIMAL (order-free), every scalar snaps to the 1e-12 grid, and
    both engines evaluate the IDENTICAL SQL text (spark.sql == DuckDB
    oracle), so the 10-step recursion is bit-portable — the Holt-
    smoothing discipline. Weights land on the micro-nat grid (ln needs
    only 5e-7 cross-engine agreement). Winkler's 1e-6 boundary clamp
    keeps ln finite when a field's u estimate collapses to zero inside
    blocked candidates (blocking removes most unmatched disagreement
    mass — a real phenomenon the clamp convention exists for)."""
    from sdp_spark.sources.fixtures import load_tables

    load_tables(spark, sf_dir)
    # Split execution (r13 shape, VERDICT r12 next-round #4): the
    # data-scale half (blocked pairs -> <= 16 pattern counts) runs in
    # Spark and is COLLECTED — bounded driver state, the k-means-fit
    # doctrine — then the 10 EM iterations run driver-side in
    # _em_fit_driver (bit-mirroring the oracle's SQL arithmetic), and
    # ONE metadata-scale statement emits the weights from the fitted
    # parameters as literals. The r12 shape ran the chain as 10 unrolled
    # nested-aggregate CTEs, which cost ~18 s of DATA-INDEPENDENT
    # Catalyst analysis per invocation (and needed a raised
    # analyzer.maxIterations); the fit itself is arithmetic over 16
    # rows, so the analyzer wall bought nothing. DuckDB replays the
    # identical arithmetic as one SQL text (the oracle, unchanged).
    pat_rows = spark.sql(_linkage_em_pat_fast_sql()).collect()
    fit = _em_fit_driver(pat_rows)
    lit = ", ".join(
        f"CAST({fit[c]!r} AS DOUBLE) AS {c}"
        for c in ("p", "m1", "m2", "m3", "m4", "u1", "u2", "u3", "u4")
    )
    return spark.sql(
        f"WITH itN AS (SELECT {lit})\n{_em_final_select('itN')}"
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes: distributed TRAINING as aggregation
# ---------------------------------------------------------------------------

# Deterministic 80/20 split on the Knuth hash (the sample_systematic
# idiom) — shared SQL text.
_NB_TRAIN = (
    f"CASE WHEN (doc_id * {KNUTH}) % {KNUTH_MOD} % 10 < 8"
    " THEN 1 ELSE 0 END"
)
# Per-(token, class) Laplace-smoothed log-likelihood and the class
# prior, both snapped to INTEGER MICRO-NATS (floor(ln(x)*1e6 + 0.5) as
# BIGINT): per-token terms become exact integers, so per-document sums
# are order-free BIGINT arithmetic on both engines — the ln need only
# be reproducible to 5e-7, far coarser than libm's ~1-ulp agreement on
# identical IEEE arguments (the dq_benford/agg_entropy precedent).
_NB_LL = (
    "CAST(FLOOR(LN((n_tc + 1.0) / (t_c + v)) * 1000000 + 0.5) AS BIGINT)"
)
_NB_PRIOR = (
    "CAST(FLOOR(LN(CAST(d_c AS DOUBLE) / CAST(d_all AS DOUBLE))"
    " * 1000000 + 0.5) AS BIGINT)"
)


def _nb_oracle() -> str:
    return f"""
    WITH docs AS (
      SELECT doc_id, lang, text, {_NB_TRAIN} AS is_train FROM documents
    ), tok AS (
      SELECT doc_id, lang, is_train, unnest(string_split(text, ' ')) AS token
      FROM docs
    ), cls AS (
      SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS d_c
      FROM docs WHERE is_train = 1 GROUP BY lang
    ), pri AS (
      SELECT c, {_NB_PRIOR} AS pr_micro
      FROM cls, (SELECT CAST(COUNT(*) AS BIGINT) AS d_all
                 FROM docs WHERE is_train = 1)
    ), cnt AS (
      SELECT token, lang AS c, CAST(COUNT(*) AS BIGINT) AS n_tc0
      FROM tok WHERE is_train = 1 GROUP BY token, lang
    ), tot AS (
      SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS t_c
      FROM tok WHERE is_train = 1 GROUP BY lang
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v
      FROM tok WHERE is_train = 1
    ), grid AS (
      SELECT tt.token, cls.c
      FROM (SELECT DISTINCT token FROM tok WHERE is_train = 0) tt
           CROSS JOIN cls
    ), lik AS (
      SELECT g.token, g.c,
             {_NB_LL.replace("n_tc", "COALESCE(cnt.n_tc0, 0)")} AS ll_micro
      FROM grid g
      LEFT JOIN cnt ON cnt.token = g.token AND cnt.c = g.c
      JOIN tot ON tot.c = g.c
      CROSS JOIN vocab
    ), sums AS (
      SELECT t.doc_id, t.lang AS lang_true, l.c AS cand,
             SUM(l.ll_micro) AS s
      FROM tok t JOIN lik l ON l.token = t.token
      WHERE t.is_train = 0
      GROUP BY t.doc_id, t.lang, l.c
    ), post AS (
      SELECT s.doc_id, s.lang_true, s.cand,
             ROW_NUMBER() OVER (
               PARTITION BY s.doc_id
               ORDER BY s.s + p.pr_micro DESC, s.cand) AS rn
      FROM sums s JOIN pri p ON p.c = s.cand
    )
    SELECT lang_true, cand AS lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM post WHERE rn = 1
    GROUP BY lang_true, cand
    ORDER BY lang_true, lang_pred
    """


@register("llm_nb_classifier", oracle=_nb_oracle(), section=_SEC)
def llm_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes text classifier, TRAINED AND APPLIED in
    one declarative plan — the classic demonstration that NB training IS
    aggregation (per-(token, class) counts + class totals + vocabulary
    size), which is why it is the one classifier a 100 TB engine can fit
    with nothing but groupBy: the 'model' is a (V x C) count table built
    by one explode+groupBy pass with map-side partial aggregation, and
    scoring is a token-level equi-join + BIGINT sum. Deterministic 80/20
    Knuth-hash split; Laplace smoothing; argmax with a lexicographic
    tiebreak; output is the holdout confusion matrix (lang_true x
    lang_pred counts).

    The fixture's `lang` labels are independent of `text` BY
    CONSTRUCTION (one shared vocabulary, uniform word draws), so
    holdout accuracy lands at the majority-class floor — the NULL
    behavior an honest learner must show on signal-free data; the
    planted-corpus pytest shows the same plan reaching a perfect
    diagonal when class vocabularies actually differ (the
    Kulldorff-style signal/no-signal pair, applied to ML).

    Cross-engine exactness: every log term is snapped to integer
    micro-nats (floor(ln(x)*1e6 + 0.5) AS BIGINT, shared expression
    text) BEFORE summation, so per-document posteriors are exact
    order-free BIGINT sums — ln needs to reproduce only to 5e-7 across
    engines, versus libm's ~1-ulp agreement on identical IEEE args.

    Scale: training = one token-level exchange to (V x C) rows; the
    likelihood table is model-sized (V x C, the executor-RAM bound any
    NB deployment carries) and broadcastable; scoring shuffles only
    (doc, class) partial sums. No data-scale join ever exceeds the
    token explode."""
    from sdp_spark.operators.llm import _docs_tokens

    docs = _docs_tokens(spark, sf_dir).select(
        "doc_id", "lang", "toks"
    ).withColumn("is_train", F.expr(_NB_TRAIN))
    tok = docs.select(
        "doc_id", "lang", "is_train", F.explode("toks").alias("token")
    )
    # r14 (guide §1.2): tok feeds FIVE consumers (token-class counts, class
    # token totals, vocabulary size, the test-token grid, the scoring join)
    # and used to re-run the tokenize+explode pass for each. One lazy
    # localCheckpoint runs the corpus-scale pass once; rows are narrow
    # (3 ids + token).
    tok = tok.localCheckpoint(eager=False)
    train_tok = tok.filter(F.col("is_train") == 1)
    cls = (
        docs.filter(F.col("is_train") == 1)
        .groupBy(F.col("lang").alias("c"))
        .agg(F.count("*").cast("bigint").alias("d_c"))
    )
    d_all = docs.filter(F.col("is_train") == 1).agg(
        F.count("*").cast("bigint").alias("d_all")
    )
    pri = cls.crossJoin(F.broadcast(d_all)).select(
        "c", F.expr(_NB_PRIOR).alias("pr_micro")
    )
    cnt = train_tok.groupBy(
        "token", F.col("lang").alias("c")
    ).agg(F.count("*").cast("bigint").alias("n_tc0"))
    tot = train_tok.groupBy(F.col("lang").alias("c")).agg(
        F.count("*").cast("bigint").alias("t_c")
    )
    vocab = train_tok.agg(
        F.countDistinct("token").cast("bigint").alias("v")
    )
    test_tok = tok.filter(F.col("is_train") == 0)
    grid = (
        test_tok.select("token").distinct()
        .crossJoin(F.broadcast(cls.select("c")))
    )
    lik = (
        grid.join(cnt, ["token", "c"], "left")
        .join(F.broadcast(tot), "c")
        .crossJoin(F.broadcast(vocab))
        .select(
            "token",
            "c",
            F.expr(
                _NB_LL.replace("n_tc", "COALESCE(n_tc0, 0)")
            ).alias("ll_micro"),
        )
    )
    sums = (
        test_tok.join(lik, "token")
        .groupBy(
            "doc_id", F.col("lang").alias("lang_true"), F.col("c").alias("cand")
        )
        .agg(F.sum("ll_micro").alias("s"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("s") + F.col("pr_micro")).desc(), F.col("cand")
    )
    post = (
        sums.join(F.broadcast(pri), sums.cand == pri.c)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        post.groupBy("lang_true", F.col("cand").alias("lang_pred"))
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


# ---------------------------------------------------------------------------
# Cori gamma-posterior Rt (EpiEstim's estimate_R) — ts_rt_ratio's
# inferential upgrade
# ---------------------------------------------------------------------------

# EpiEstim defaults: prior R ~ Gamma(shape a=1, rate 1/b=0.2). Posterior
# over a trailing 7-day window: shape = a + Σ cases, rate = 1/b + Σ Λ.
_RT_PRIOR_A = 1.0
_RT_PRIOR_INVB = 0.2
_RT_TAU = 7  # smoothing window (days), EpiEstim's weekly default
# Shared posterior expressions over exact BIGINTs cases_w (window case
# sum) and wn_w (window Σw·n in integer thirteenths): mean = (a+C)/R,
# sd = sqrt(a+C)/R — + / sqrt only, identical IEEE on both engines.
_RT_RATE = f"({_RT_PRIOR_INVB} + CAST(wn_w AS DOUBLE) / {_RT_W_TOT}.0)"
_RT_MEAN = f"(({_RT_PRIOR_A} + cases_w) / {_RT_RATE})"
_RT_SD = f"(sqrt({_RT_PRIOR_A} + cases_w) / {_RT_RATE})"


def _rt_cori_oracle() -> str:
    return f"""
    WITH daily AS ({_XDAILY_SQL}),
    lam AS (
      -- LEFT join: a day with no prior-7-day history still belongs to
      -- later tau-windows' CASE SUMS (wn = 0, cases counted) — an
      -- inner join would silently drop its cases from cases_w
      SELECT b.event_type, b.day, b.n,
             CAST(COALESCE(SUM(a.n * ({_RT_W_SQL})), 0) AS BIGINT) AS wn
      FROM daily b LEFT JOIN daily a
        ON a.event_type = b.event_type
       AND date_diff('day', a.day, b.day) BETWEEN 1 AND 7
      GROUP BY b.event_type, b.day, b.n
    ), win AS (
      SELECT b.event_type, b.day,
             CAST(SUM(a.n) AS BIGINT) AS cases_w,
             CAST(SUM(a.wn) AS BIGINT) AS wn_w
      FROM lam b JOIN lam a
        ON a.event_type = b.event_type
       AND date_diff('day', a.day, b.day) BETWEEN 0 AND {_RT_TAU - 1}
      GROUP BY b.event_type, b.day
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day_s, cases_w,
           {sql_dround(f'CAST(wn_w AS DOUBLE) / {_RT_W_TOT}.0', 4)}
             AS lambda_w,
           {sql_dround(_RT_MEAN, 4)} AS rt_mean,
           {sql_dround(f'{_RT_MEAN} - 1.96 * {_RT_SD}', 4)} AS rt_low,
           {sql_dround(f'{_RT_MEAN} + 1.96 * {_RT_SD}', 4)} AS rt_high,
           CASE WHEN {sql_dround(f'{_RT_MEAN} - 1.96 * {_RT_SD}', 4)} > 1.0
                THEN 'growing'
                WHEN {sql_dround(f'{_RT_MEAN} + 1.96 * {_RT_SD}', 4)} < 1.0
                THEN 'declining'
                ELSE 'uncertain' END AS trend
    FROM win WHERE wn_w > 0
    ORDER BY event_type, day_s
    """


@register("ts_rt_cori", oracle=_rt_cori_oracle(), section=_SEC)
def ts_rt_cori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian instantaneous reproduction number (Cori, Ferguson,
    Fraser, Cauchemez, AJE 2013 — the EpiEstim estimate_R algorithm):
    the inferential upgrade of `ts_rt_ratio`'s point ratio. Cases in a
    trailing tau=7-day window are Poisson with mean R·Λ; under the
    conjugate Gamma(a=1, rate=0.2) prior the posterior is
    Gamma(a + Σ cases, 0.2 + Σ Λ), reported as mean and a 95% interval
    (normal approximation mean ± 1.96·sd of the Gamma posterior —
    exact-quantile Gamma inversion is not portable SQL; for the a+C
    (> 30 in any reportable window) regimes this differs from the exact
    quantile by < 2% and is stated as such). The window answers the
    operational question the per-day ratio cannot: 'is Rt > 1
    STATISTICALLY, or is today's blip noise?' — trend = growing /
    declining only when the interval excludes 1.

    Determinism: Λ keeps the serial-interval weights as exact integer
    thirteenths (the ts_rt_ratio convention), so window sums cases_w
    and wn_w are BIGINTs; the posterior mean/sd are one shared +,/,sqrt
    expression over those integers, snapped to 4 dp before the trend
    compares.

    Scale: one event-scale (type, day) rollup; both the serial-interval
    join and the tau-window join run on the |types|·|days| metadata
    frame (banded self-joins — range-partitionable at long-history
    scale, same algebra)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("timestamp").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    return rt_cori_scored(daily)


def rt_cori_scored(daily: DataFrame) -> DataFrame:
    """Cori posterior scoring over a (event_type, day, n) daily-count
    frame: serial-interval Λ, tau-window sums, Gamma posterior, trend
    classification. Shared by the batch key and the streaming twin
    (`stream_rt_cori_alerts`), so stream==batch is structural — the
    tenth batch+stream detector pair's shared core."""
    daily = daily.localCheckpoint()
    a = daily.select(
        F.col("event_type").alias("et_a"),
        F.col("day").alias("day_a"),
        F.col("n").alias("n_a"),
    )
    k = F.datediff("day", "day_a")
    w = F.coalesce(
        *[F.when(k == kk, F.lit(vv)) for kk, vv in _RT_W.items()]
    )
    # LEFT join keeps history-less days (first day, post-gap days) in
    # the frame with wn = 0 so their CASES still count into later
    # tau-windows' cases_w — the inner-join shape would under-count the
    # posterior shape a+C exactly where early-window inference happens
    lam = (
        daily.join(
            a,
            (F.col("event_type") == F.col("et_a")) & k.between(1, 7),
            "left",
        )
        .select("event_type", "day", "n", (F.col("n_a") * w).alias("wn1"))
        .groupBy("event_type", "day", "n")
        .agg(
            F.coalesce(F.sum("wn1"), F.lit(0)).cast("bigint").alias("wn")
        )
        .localCheckpoint()
    )
    la = lam.select(
        F.col("event_type").alias("et_a"),
        F.col("day").alias("day_a"),
        F.col("n").alias("n_a"),
        F.col("wn").alias("wn_a"),
    )
    kk = F.datediff("day", "day_a")
    win = (
        lam.join(
            la,
            (F.col("event_type") == F.col("et_a"))
            & kk.between(0, _RT_TAU - 1),
        )
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_a").cast("bigint").alias("cases_w"),
            F.sum("wn_a").cast("bigint").alias("wn_w"),
        )
        .filter(F.col("wn_w") > 0)
    )
    mean_c = dround(F.expr(_RT_MEAN), 4)
    low_c = dround(F.expr(f"{_RT_MEAN} - 1.96 * {_RT_SD}"), 4)
    high_c = dround(F.expr(f"{_RT_MEAN} + 1.96 * {_RT_SD}"), 4)
    return (
        win.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
            "cases_w",
            dround(
                F.col("wn_w").cast("double") / F.lit(float(_RT_W_TOT)), 4
            ).alias("lambda_w"),
            mean_c.alias("rt_mean"),
            low_c.alias("rt_low"),
            high_c.alias("rt_high"),
            F.when(low_c > 1.0, F.lit("growing"))
            .when(high_c < 1.0, F.lit("declining"))
            .otherwise(F.lit("uncertain"))
            .alias("trend"),
        )
        .orderBy("event_type", "day_s")
    )


# ---------------------------------------------------------------------------
# Grid-density spatial clustering (GDBSCAN on cells) — arbitrary-SHAPE
# cluster discovery beside the fixed-window scan statistics
# ---------------------------------------------------------------------------

_DB_CELL_DEG = 5.0   # cell size (degrees); finer than the 15-deg scan grid
# density threshold: 2x the mean occupancy of OCCUPIED cells, floored at
# 5 points — data-derived in-plan (both engines compute it from the same
# grid), the classic grid-DBSCAN heuristic
_DB_THR = (
    "GREATEST(CAST(5 AS BIGINT),"
    " CAST(CEIL(2.0 * total_pts / n_cells) AS BIGINT))"
)


def _dbscan_oracle() -> str:
    return f"""
    WITH RECURSIVE pts AS (
      SELECT ((((c_custkey + 17) * {KNUTH}) % {KNUTH_MOD}) % 1200) / 10.0
               - 60.0 AS lat,
             ((((c_custkey + 31) * {KNUTH}) % {KNUTH_MOD}) % 3600) / 10.0
               - 180.0 AS lon
      FROM customer
    ), cells AS (
      SELECT CAST(FLOOR(lon / {_DB_CELL_DEG}) AS INTEGER) AS cx,
             CAST(FLOOR(lat / {_DB_CELL_DEG}) AS INTEGER) AS cy,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2
    ), thr AS (
      SELECT {_DB_THR} AS minpts
      FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS total_pts,
                   CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells)
    ), dense AS (
      SELECT cx, cy, cnt,
             (CAST(cx AS BIGINT) + 36) * 24 + (CAST(cy AS BIGINT) + 12)
               AS cid
      FROM cells, thr WHERE cnt >= thr.minpts
    ), e AS (
      SELECT a.cid AS src, b.cid AS dst
      FROM dense a JOIN dense b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
       AND a.cid <> b.cid
    ), walk(node, lab) AS (
      SELECT cid, cid FROM dense
      UNION
      SELECT e.dst, walk.lab FROM walk JOIN e ON e.src = walk.node
    ), comp AS (
      SELECT node, MIN(lab) AS cluster_id FROM walk GROUP BY node
    )
    SELECT c.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(d.cnt) AS BIGINT) AS n_points,
           MIN(d.cx) AS min_cx, MAX(d.cx) AS max_cx,
           MIN(d.cy) AS min_cy, MAX(d.cy) AS max_cy
    FROM comp c JOIN dense d ON d.cid = c.node
    GROUP BY c.cluster_id
    ORDER BY n_points DESC, c.cluster_id
    """


@register("query_spatial_dbscan", oracle=_dbscan_oracle(), section=_SEC)
def query_spatial_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density spatial clustering — GDBSCAN (Sander, Ester,
    Kriegel, Xu, DMKD 1998) with grid cells as the density unit: cells
    with >= minPts points are core, core cells within Chebyshev
    distance 1 connect, clusters are the connected components, and
    sparse-cell points are noise (dropped, DBSCAN semantics). The
    ARBITRARY-SHAPE discovery tool beside the fixed-geometry scans: the
    Kulldorff ladder scores circles-ish windows and the 3x3 hotspot a
    fixed square, but an outbreak along a river/highway is a RIBBON —
    exactly what density-connectivity finds and window scans smear.
    minPts is derived in-plan (2x mean occupied-cell occupancy, floor
    5); labels are the min reachable cell id, so cluster ids are
    deterministic.

    Plan: ONE data-scale pass (points -> 5-deg cells, partial-agg
    count); everything after runs on the dense-cell metadata frame,
    which the fixed 72x24 grid bounds at 1,728 rows at ANY data scale —
    so the component closure is driver-side union-find over the
    collected cells (the bounded-driver-state discipline of the k-means
    codebooks / EM pattern fit; the oracle replays the same closure as
    a recursive CTE), joined back as one broadcast. At 100 TB the cell
    rollup absorbs the data; everything downstream is O(grid) metadata
    with zero iterative jobs (r14: was a distributed min-label loop —
    ~20 tiny-frame jobs, 9.9 s quiet at sf0.1)."""
    c = table(spark, sf_dir, "customer")
    lat = (
        ((F.col("c_custkey") + 17) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 1200
    ) / 10.0 - 60.0
    lon = (
        ((F.col("c_custkey") + 31) * F.lit(KNUTH)) % F.lit(KNUTH_MOD) % 3600
    ) / 10.0 - 180.0
    cells = (
        c.select(
            F.floor(lon / _DB_CELL_DEG).cast("int").alias("cx"),
            F.floor(lat / _DB_CELL_DEG).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    thr = cells.agg(
        F.sum("cnt").cast("bigint").alias("total_pts"),
        F.count("*").cast("bigint").alias("n_cells"),
    ).select(F.expr(_DB_THR).alias("minpts"))
    dense = (
        cells.crossJoin(F.broadcast(thr))
        .filter(F.col("cnt") >= F.col("minpts"))
        .select(
            "cx",
            "cy",
            "cnt",
            (
                (F.col("cx").cast("bigint") + 36) * 24
                + (F.col("cy").cast("bigint") + 12)
            ).alias("cid"),
        )
        .localCheckpoint(eager=True)
    )
    # r14 optimization (guide §1.2 "the distributed algorithm" + §5 bounded
    # driver state): the dense-cell frame is CONSTANT-bounded by the fixed
    # 72x24 grid (<= 1,728 cells at ANY data scale — the data-scale pass is
    # the cell rollup above, already done). The previous distributed
    # min-label loop paid (join + union + groupBy + eager checkpoint +
    # collect) x diameter rounds — ~20 jobs of 32-partition exchanges over
    # <100 rows (measured 9.9 s quiet at sf0.1). Union-find over the
    # collected cells computes the IDENTICAL min-label closure in
    # microseconds on the driver (same bounded-metadata discipline as the
    # k-means codebooks and the EM pattern fit); the component map joins
    # back as one broadcast. Labels: each node's component label is the
    # MINIMUM cid reachable — exactly the old fixpoint and the oracle's
    # recursive-CTE closure.
    cells_local = dense.select("cx", "cy", "cid").collect()
    by_xy = {(r["cx"], r["cy"]): r["cid"] for r in cells_local}
    parent: dict[int, int] = {cid: cid for cid in by_xy.values()}

    def _find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (x, y), cid in by_xy.items():
        # 4 of the 8 Chebyshev neighbours suffice — adjacency is symmetric
        for dx, dy in ((1, -1), (1, 0), (1, 1), (0, 1)):
            ncid = by_xy.get((x + dx, y + dy))
            if ncid is not None:
                ra, rb = _find(cid), _find(ncid)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    lab: dict[int, int] = {}
    for cid in by_xy.values():
        r = _find(cid)
        lab[r] = min(lab.get(r, cid), cid)
    comp = spark.createDataFrame(
        [(cid, lab[_find(cid)]) for cid in sorted(by_xy.values())],
        "node bigint, comp bigint",
    )
    return (
        F.broadcast(comp).join(dense, comp.node == dense.cid)
        .groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum("cnt").cast("bigint").alias("n_points"),
            F.min("cx").alias("min_cx"),
            F.max("cx").alias("max_cx"),
            F.min("cy").alias("min_cy"),
            F.max("cy").alias("max_cy"),
        )
        .orderBy(F.col("n_points").desc(), "cluster_id")
    )


# ---------------------------------------------------------------------------
# Fixed-effects meta-analysis (inverse-variance pooling + Cochran's Q)
# ---------------------------------------------------------------------------

# Exposure/outcome frame: exposed = BUILDING-segment customers, outcome =
# an urgent-priority order; stratum = nation. The classic "does the
# association replicate across sites, and how heterogeneous is it?"
# epi question, answered with ONLY +-*/sqrt arithmetic (risk DIFFERENCES,
# not ratios, precisely so no ln/exp enters the chain).
_META_EXPOSED = "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END"
_META_OUTCOME = "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
# per-arm risk and variance share one expression text; DECIMAL(28,10)
# casts make every cross-stratum sum exact and order-free (the
# agg_indirect_standardization convention)
_META_DEC = "DECIMAL(28,10)"

# Shared CTE prefix (base 2x2 arms + per-stratum rd/v) for the fixed-
# and random-effects oracles.
_META_CORE_SQL = f"""base AS (
      SELECT c.c_nationkey AS nat, {_META_EXPOSED} AS exposed,
             {_META_OUTCOME} AS outcome
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), arms AS (
      SELECT nat,
             CAST(SUM(CASE WHEN exposed = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN exposed = 1 THEN outcome ELSE 0 END) AS BIGINT) AS x1,
             CAST(SUM(CASE WHEN exposed = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN exposed = 0 THEN outcome ELSE 0 END) AS BIGINT) AS x0
      FROM base GROUP BY nat
    ), strata AS (
      SELECT nat, n1, x1, n0, x0,
             (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0) AS rd,
             ((CAST(x1 AS DOUBLE) / n1) * (1.0 - CAST(x1 AS DOUBLE) / n1) / n1
              + (CAST(x0 AS DOUBLE) / n0) * (1.0 - CAST(x0 AS DOUBLE) / n0) / n0)
               AS v
      FROM arms
      WHERE x1 > 0 AND x1 < n1 AND x0 > 0 AND x0 < n0
    )"""


def _meta_oracle() -> str:
    return f"""
    WITH {_META_CORE_SQL}, pooled AS (
      SELECT CAST(SUM(CAST(1.0 / v AS {_META_DEC})) AS DOUBLE) AS w_sum,
             CAST(SUM(CAST(rd / v AS {_META_DEC})) AS DOUBLE) AS wrd_sum,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM strata
    ), q AS (
      SELECT CAST(SUM(CAST(
               (s.rd - p.wrd_sum / p.w_sum)
               * (s.rd - p.wrd_sum / p.w_sum) / s.v
             AS {_META_DEC})) AS DOUBLE) AS q_stat
      FROM strata s CROSS JOIN pooled p
    )
    SELECT s.nat, s.n1, s.x1, s.n0, s.x0,
           {sql_dround('s.rd', 6)} AS rd,
           {sql_dround('1.0 / s.v', 4)} AS w,
           {sql_dround('p.wrd_sum / p.w_sum', 6)} AS pooled_rd,
           {sql_dround('p.wrd_sum / p.w_sum - 1.96 / sqrt(p.w_sum)', 6)}
             AS pooled_low,
           {sql_dround('p.wrd_sum / p.w_sum + 1.96 / sqrt(p.w_sum)', 6)}
             AS pooled_high,
           {sql_dround('q.q_stat', 4)} AS q_stat,
           CAST(p.k - 1 AS BIGINT) AS q_df,
           {sql_dround(
               'CASE WHEN q.q_stat > CAST(p.k - 1 AS DOUBLE)'
               ' THEN (q.q_stat - (p.k - 1)) / q.q_stat ELSE 0.0 END', 4)}
             AS i2
    FROM strata s CROSS JOIN pooled p CROSS JOIN q
    ORDER BY s.nat
    """


def _meta_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum 2x2 arms with rd/v — the checkpointed 25-row frame
    both meta-analysis keys pool from (one orders-scale exchange)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nat"),
        F.expr(_META_EXPOSED).alias("exposed"),
        F.expr(_META_OUTCOME).alias("outcome"),
    )
    arms = base.groupBy("nat").agg(
        F.sum(F.when(F.col("exposed") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("exposed") == 1, F.col("outcome")).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.sum(F.when(F.col("exposed") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("exposed") == 0, F.col("outcome")).otherwise(0))
        .cast("bigint")
        .alias("x0"),
    )
    return (
        arms.filter(
            (F.col("x1") > 0)
            & (F.col("x1") < F.col("n1"))
            & (F.col("x0") > 0)
            & (F.col("x0") < F.col("n0"))
        )
        .withColumn(
            "rd",
            F.expr(
                "CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0"
            ),
        )
        .withColumn(
            "v",
            F.expr(
                "(CAST(x1 AS DOUBLE) / n1) * (1.0 - CAST(x1 AS DOUBLE) / n1)"
                " / n1 + (CAST(x0 AS DOUBLE) / n0)"
                " * (1.0 - CAST(x0 AS DOUBLE) / n0) / n0"
            ),
        )
        .localCheckpoint()
    )


@register("agg_meta_fixed_effects", oracle=_meta_oracle(), section=_SEC)
def agg_meta_fixed_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effects meta-analysis of a stratified 2x2 association — the
    forest-plot table every multi-site epi study ends with: per-stratum
    (nation) risk DIFFERENCE between exposed (BUILDING-segment
    customers) and unexposed arms for an urgent-order outcome,
    inverse-variance weights w = 1/v with v = r1(1-r1)/n1 + r0(1-r0)/n0,
    the pooled estimate Σw·rd / Σw with its 95% interval 1.96/sqrt(Σw),
    and the heterogeneity panel: Cochran's Q = Σ w·(rd - pooled)^2,
    df = k-1, and Higgins' I² = max(0, (Q - df)/Q) — 'is there ONE
    effect, or does it vary by site?' (DerSimonian-Laird would feed Q
    into a random-effects tau²; the fixed-effects half is the portable
    part and states so). Risk DIFFERENCES, not ratios, keep the whole
    chain inside +-*/sqrt — no ln/exp anywhere.

    Determinism: arms are exact BIGINT counts; per-stratum rd/v are one
    shared IEEE expression; every cross-stratum sum (Σw, Σw·rd, Q)
    casts its terms to DECIMAL(28,10) first, so the 25-stratum sums are
    exact and order-free (the agg_indirect_standardization convention);
    degenerate arms (x=0 or x=n, v undefined) are excluded by an exact
    integer predicate.

    Scale: ONE orders-scale join+rollup to 25 strata (map-side
    partials); the pooling and Q passes run on the 25-row metadata
    frame with broadcast scalars."""
    strata = _meta_strata(spark, sf_dir)
    pooled = strata.agg(
        F.sum(F.expr(f"CAST(1.0 / v AS {_META_DEC})"))
        .cast("double")
        .alias("w_sum"),
        F.sum(F.expr(f"CAST(rd / v AS {_META_DEC})"))
        .cast("double")
        .alias("wrd_sum"),
        F.count("*").cast("bigint").alias("k"),
    )
    q = (
        strata.crossJoin(F.broadcast(pooled))
        .agg(
            F.sum(
                F.expr(
                    "CAST((rd - wrd_sum / w_sum) * (rd - wrd_sum / w_sum)"
                    f" / v AS {_META_DEC})"
                )
            )
            .cast("double")
            .alias("q_stat")
        )
    )
    return (
        strata.crossJoin(F.broadcast(pooled))
        .crossJoin(F.broadcast(q))
        .select(
            "nat",
            "n1",
            "x1",
            "n0",
            "x0",
            dround(F.col("rd"), 6).alias("rd"),
            dround(F.expr("1.0 / v"), 4).alias("w"),
            dround(F.expr("wrd_sum / w_sum"), 6).alias("pooled_rd"),
            dround(
                F.expr("wrd_sum / w_sum - 1.96 / sqrt(w_sum)"), 6
            ).alias("pooled_low"),
            dround(
                F.expr("wrd_sum / w_sum + 1.96 / sqrt(w_sum)"), 6
            ).alias("pooled_high"),
            dround(F.col("q_stat"), 4).alias("q_stat"),
            (F.col("k") - 1).cast("bigint").alias("q_df"),
            dround(
                F.expr(
                    "CASE WHEN q_stat > CAST(k - 1 AS DOUBLE)"
                    " THEN (q_stat - (k - 1)) / q_stat ELSE 0.0 END"
                ),
                4,
            ).alias("i2"),
        )
        .orderBy("nat")
    )


def _meta_re_oracle() -> str:
    return f"""
    WITH {_META_CORE_SQL}, pooled AS (
      SELECT CAST(SUM(CAST(1.0 / v AS {_META_DEC})) AS DOUBLE) AS w_sum,
             CAST(SUM(CAST(1.0 / v / v AS {_META_DEC})) AS DOUBLE) AS w2_sum,
             CAST(SUM(CAST(rd / v AS {_META_DEC})) AS DOUBLE) AS wrd_sum,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM strata
    ), q AS (
      SELECT CAST(SUM(CAST(
               (s.rd - p.wrd_sum / p.w_sum)
               * (s.rd - p.wrd_sum / p.w_sum) / s.v
             AS {_META_DEC})) AS DOUBLE) AS q_stat
      FROM strata s CROSS JOIN pooled p
    ), tau AS (
      SELECT CASE WHEN q.q_stat > CAST(p.k - 1 AS DOUBLE)
                  THEN (q.q_stat - (p.k - 1))
                       / (p.w_sum - p.w2_sum / p.w_sum)
                  ELSE 0.0 END AS tau2
      FROM q CROSS JOIN pooled p
    ), re AS (
      SELECT CAST(SUM(CAST(1.0 / (s.v + t.tau2) AS {_META_DEC}))
               AS DOUBLE) AS ws_sum,
             CAST(SUM(CAST(s.rd / (s.v + t.tau2) AS {_META_DEC}))
               AS DOUBLE) AS wsrd_sum
      FROM strata s CROSS JOIN tau t
    )
    SELECT s.nat,
           {sql_dround('s.rd', 6)} AS rd,
           {sql_dround('1.0 / (s.v + t.tau2)', 4)} AS w_re,
           {sql_dround('t.tau2', 6)} AS tau2,
           {sql_dround('re.wsrd_sum / re.ws_sum', 6)} AS pooled_rd_re,
           {sql_dround('re.wsrd_sum / re.ws_sum - 1.96 / sqrt(re.ws_sum)', 6)}
             AS pooled_low_re,
           {sql_dround('re.wsrd_sum / re.ws_sum + 1.96 / sqrt(re.ws_sum)', 6)}
             AS pooled_high_re
    FROM strata s CROSS JOIN tau t CROSS JOIN re
    ORDER BY s.nat
    """


@register("agg_meta_random_effects", oracle=_meta_re_oracle(), section=_SEC)
def agg_meta_random_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-effects meta-analysis (DerSimonian & Laird, Controlled
    Clin Trials 1986) — the estimator a reviewer reaches for the moment
    `agg_meta_fixed_effects`' I² says the site effects are NOT one
    number: the between-site variance tau² = max(0, (Q - df) /
    (Σw - Σw²/Σw)) widens every weight to w* = 1/(v + tau²), which
    (a) pulls the pooled estimate toward the unweighted mean (small
    sites regain voice) and (b) widens the interval to own the
    heterogeneity. Same 2x2 arms, same risk-difference scale — the
    whole DL chain is +-*/sqrt arithmetic, no ln/exp.

    Determinism: every cross-stratum sum (Σw, Σw², Σw·rd, Q, Σw*,
    Σw*·rd) casts its terms to DECIMAL(28,10) first (exact, order-free);
    tau² is one shared scalar expression broadcast back to the strata.

    Scale: identical to the fixed-effects key — one orders-scale rollup
    to 25 strata, then three metadata passes over the 25-row frame."""
    strata = _meta_strata(spark, sf_dir)
    pooled = strata.agg(
        F.sum(F.expr(f"CAST(1.0 / v AS {_META_DEC})"))
        .cast("double")
        .alias("w_sum"),
        F.sum(F.expr(f"CAST(1.0 / v / v AS {_META_DEC})"))
        .cast("double")
        .alias("w2_sum"),
        F.sum(F.expr(f"CAST(rd / v AS {_META_DEC})"))
        .cast("double")
        .alias("wrd_sum"),
        F.count("*").cast("bigint").alias("k"),
    )
    q = (
        strata.crossJoin(F.broadcast(pooled))
        .agg(
            F.sum(
                F.expr(
                    "CAST((rd - wrd_sum / w_sum) * (rd - wrd_sum / w_sum)"
                    f" / v AS {_META_DEC})"
                )
            )
            .cast("double")
            .alias("q_stat")
        )
    )
    tau = (
        q.crossJoin(F.broadcast(pooled))
        .select(
            F.expr(
                "CASE WHEN q_stat > CAST(k - 1 AS DOUBLE)"
                " THEN (q_stat - (k - 1)) / (w_sum - w2_sum / w_sum)"
                " ELSE 0.0 END"
            ).alias("tau2")
        )
    )
    re = (
        strata.crossJoin(F.broadcast(tau))
        .agg(
            F.sum(F.expr(f"CAST(1.0 / (v + tau2) AS {_META_DEC})"))
            .cast("double")
            .alias("ws_sum"),
            F.sum(F.expr(f"CAST(rd / (v + tau2) AS {_META_DEC})"))
            .cast("double")
            .alias("wsrd_sum"),
        )
    )
    return (
        strata.crossJoin(F.broadcast(tau))
        .crossJoin(F.broadcast(re))
        .select(
            "nat",
            dround(F.col("rd"), 6).alias("rd"),
            dround(F.expr("1.0 / (v + tau2)"), 4).alias("w_re"),
            dround(F.col("tau2"), 6).alias("tau2"),
            dround(F.expr("wsrd_sum / ws_sum"), 6).alias("pooled_rd_re"),
            dround(
                F.expr("wsrd_sum / ws_sum - 1.96 / sqrt(ws_sum)"), 6
            ).alias("pooled_low_re"),
            dround(
                F.expr("wsrd_sum / ws_sum + 1.96 / sqrt(ws_sum)"), 6
            ).alias("pooled_high_re"),
        )
        .orderBy("nat")
    )


# ---------------------------------------------------------------------------
# SIR epidemic-model fitting by distributed grid search
# ---------------------------------------------------------------------------

_SIR_BETAS = [round(0.05 * k, 2) for k in range(1, 21)]   # 0.05 .. 1.00
_SIR_GAMMAS = [round(0.05 * k, 2) for k in range(1, 11)]  # 0.05 .. 0.50
_SIR_TOPK = 10


@register("ts_sir_fit", oracle=None, section=_SEC)
def ts_sir_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIR compartment-model fitting by DISTRIBUTED GRID SEARCH — the
    mechanistic companion to the phenomenological Rt estimators
    (`ts_rt_ratio` / `ts_rt_cori`): a 200-point (beta, gamma) grid,
    each candidate simulating the discrete-time SIR recursion
    S' = S - beta·S·I/N, I' = I + beta·S·I/N - gamma·I against the
    observed daily incidence curve and scoring SSE; the top-10 fits
    (with R0 = beta/gamma) are the answer an epi modeler reads off.
    Grid-search model fitting is the canonically Spark-shaped
    estimation strategy — candidates are embarrassingly parallel rows,
    the observed series is a broadcast array — and the per-candidate
    30-step simulation runs INSIDE Catalyst as a higher-order
    `aggregate` fold over a struct state (S, I, sse): no UDF, no
    Python, whole-stage codegen end to end.

    Determinism: the observed series is a gap-filled BIGINT array in
    day order; N = 2x total observed cases and I0 = max(first-day
    count, 1) are exact-arithmetic data-derived constants; every
    candidate's fold evaluates one shared IEEE expression chain; ties
    rank by (sse, beta, gamma) after a 6-dp snap. rows-only oracle
    (DuckDB lacks the lambda fold); the planted-curve pytest recovers
    known (beta, gamma) from synthetic SIR data and pins the null
    behavior on non-epidemic fixture data (fit exists, R0 finite).

    Scale: ONE event-scale rollup to daily counts; the grid is 200
    metadata rows — at production scale the grid widens (finer steps,
    more compartments) and the same plan rides: parameters partition,
    the series broadcasts, the fold stays codegen."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("ts").cast("timestamp").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid_days = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    obs = (
        grid_days.join(daily, "day", "left")
        .select("day", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(day, n))),"
                " x -> x.n)"
            ).alias("obs"),
            F.sum("n").cast("double").alias("total"),
        )
        .select(
            "obs",
            (F.lit(2.0) * F.col("total")).alias("big_n"),
            F.greatest(
                F.element_at("obs", 1).cast("double"), F.lit(1.0)
            ).alias("i0"),
        )
    )
    params = spark.createDataFrame(
        [(b, g) for b in _SIR_BETAS for g in _SIR_GAMMAS],
        "beta double, gamma double",
    )
    sim = params.crossJoin(F.broadcast(obs))
    # step k advances the state from day k-2 to day k-1 (0-based) and
    # predicts day k-1's NEW infections, so it scores against
    # element_at(obs, k) with k running 2..len — obs[1] is the seed day
    # that initialized i0, never a prediction target (an off-by-one
    # here compares every prediction to the PREVIOUS day and biases
    # the fit on any growing series)
    fold = F.expr(
        "aggregate(sequence(2, size(obs)),"
        " struct(big_n - i0 AS s, i0 AS i, CAST(0.0 AS DOUBLE) AS sse),"
        " (st, k) -> struct("
        "   st.s - beta * st.s * st.i / big_n AS s,"
        "   st.i + beta * st.s * st.i / big_n - gamma * st.i AS i,"
        "   st.sse + (beta * st.s * st.i / big_n"
        "             - CAST(element_at(obs, k) AS DOUBLE))"
        "          * (beta * st.s * st.i / big_n"
        "             - CAST(element_at(obs, k) AS DOUBLE)) AS sse),"
        " st -> st.sse)"
    )
    w = Window.orderBy(F.col("sse").asc(), F.col("beta"), F.col("gamma"))
    return (
        sim.select("beta", "gamma", dround(fold, 6).alias("sse"))
        .withColumn("r0", dround(F.col("beta") / F.col("gamma"), 4))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _SIR_TOPK)
        .select("rnk", "beta", "gamma", "r0", "sse")
        .orderBy("rnk")
    )
