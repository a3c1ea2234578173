"""Advanced analytics declared queries — the training-data-pipeline toolbox
beyond the reference's surface: relevance scoring (TF-IDF, BM25),
sessionization, deterministic sampling, distribution statistics, cube/pivot
shapes, and the parquet sink round-trip.

All oracle-checked. Scale notes inline; the common pattern is "explode to
(doc, term) → aggregate" which shuffles only small keyed rows, never texts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..functions.hashing import d_h64, h64
from ..sources import load_table
from .duck import d_words
from ..functions.money import money_sum, s_units
from ..operators import retrieval as R
from ..operators import selection as S
from .registry import query

_WORDS = d_words()


# --- deterministic sampling --------------------------------------------------

_SAMPLE_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE {d_h64("CAST(doc_id AS VARCHAR)")} % 100 < 10
"""


@query("q_sample_hash", oracle=_SAMPLE_ORACLE)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample by key hash — unlike TABLESAMPLE/rand(),
    reproducible across engines, runs, and retries (a requirement for
    training-data lineage: the same sample every time, no seed plumbing)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(h64(F.col("doc_id").cast("string")) % 100 < 10).select(
        "doc_id", "lang"
    )


# --- TF-IDF ------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_WORDS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (term), n
), ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
         ) AS INTEGER) AS term_rank
  FROM scored
)
SELECT doc_id, term, tfidf, term_rank
FROM ranked WHERE term_rank <= 3 AND doc_id < 100
"""


@query("q_tfidf", oracle=_TFIDF_ORACLE)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smooth idf). The reference gets
    keywords from KeyBERT (R15); TF-IDF is the classical engine-native
    scoring with the same output shape. Shuffles carry (doc, term, count)
    only; the df table is tiny (vocabulary) and broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    order = [F.col("tfidf").desc(), F.col("term").asc()]
    return (
        S.top_k_per(scored, ["doc_id"], order, 3, "term_rank")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "term", "tfidf", "term_rank")
    )


# --- BM25 --------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "vector")

_BM25_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_WORDS}) AS term FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id
), stats AS (
  SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM w
  WHERE term IN {_BM25_TERMS!r}
  GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM w
  WHERE term IN {_BM25_TERMS!r}
  GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
           (tf.tf * ({R.BM25_K1} + 1.0)) /
           (tf.tf + {R.BM25_K1} * (1.0 - {R.BM25_B} + {R.BM25_B} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf
  JOIN df USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS bm25
FROM scored
ORDER BY bm25 DESC, doc_id ASC
LIMIT 20
"""


@query("q_bm25", oracle=_BM25_ORACLE)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed term query — engine-native full-text
    relevance (operators.retrieval.bm25_weight: k1=1.2, b=0.75, Robertson
    idf). Per-term postings are tiny after the IN filter; doc lengths and
    corpus stats broadcast."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    dl = terms.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
    qterms = terms.filter(F.col("term").isin(*_BM25_TERMS))
    tf = qterms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = qterms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(R.bm25_weight()).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


# --- sessionization ----------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes

_SESSIONIZE_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
), gaps AS (
  SELECT user_id, ts_us, event_id,
         CASE WHEN ts_us - lag(ts_us) OVER (
                PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
              ) > {_SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM e
), sess AS (
  SELECT user_id,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM gaps
), per_session AS (
  SELECT user_id, session_id, count(*) AS session_events
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(max(session_events) AS BIGINT) AS max_session_events
FROM per_session GROUP BY user_id
"""


@query("q_sessionize", oracle=_SESSIONIZE_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → flag → running
    sum — one shuffle on user_id, windows stream in ts order. The batch
    form of what applyInPandasWithState does continuously."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts_us", "event_id")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    gaps = e.withColumn(
        "new_session",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > _SESSION_GAP_US, 1
        ).otherwise(0),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("session_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("session_events").alias("max_session_events"),
    )


# --- distribution statistics -------------------------------------------------

_PERCENTILE_ORACLE = """
WITH m AS (
  SELECT event_type,
         round(quantile_cont(value, 0.5), 6) AS median_value,
         round(quantile_cont(value, 0.95), 6) AS p95_value,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS q
  FROM events GROUP BY event_type
)
SELECT event_type, median_value, p95_value,
       round(sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 100, 6) AS sd_value
FROM m
"""


@query("q_percentiles", oracle=_PERCENTILE_ORACLE)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`). At 100 TB switch to approx_percentile —
    sketch-mergeable, no full sort; kept exact here for the value check.

    The stddev comes from exact integer-cent moment sums + one shared
    double formula, NOT stddev_samp: raw variance states accumulate in
    engine-specific order and can flip the 6th decimal at a rounding
    boundary — the exact failure mode that bit q_corr_stats in round 1
    (values are 2dp money-like, so cents are lossless)."""
    e = load_table(spark, sf_dir, "events")
    v100 = F.round(F.col("value") * 100).cast("bigint")
    m = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95_value"),
        F.count("*").alias("n"),
        F.sum(v100).alias("s"),
        F.sum(v100 * v100).alias("q"),
    )
    # identical expression TEXT on both engines (see _PERCENTILE_ORACLE)
    return m.selectExpr(
        "event_type", "median_value", "p95_value",
        "round(sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 100, 6) AS sd_value",
    )


# Raw sketch quantiles are engine-specific (Spark GK/KLL vs DuckDB t-digest),
# so — like q_approx_distinct — the compared output is (exact quantile,
# approx-within-5% boolean): each engine runs its OWN sketch and both must
# land inside the tolerance.
_APPROX_PCT_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS exact_median,
       abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
         <= 0.05 * quantile_cont(value, 0.5) AS approx_ok
FROM events
GROUP BY event_type
"""


@query("q_approx_percentile", oracle=_APPROX_PCT_ORACLE)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile next to the exact percentile — the sketch that
    replaces the full per-group sort at 100 TB (mergeable, single pass,
    bounded memory). The exact value anchors the check; the boolean proves
    this engine's sketch is within tolerance of it."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_median"),
            F.expr("percentile_approx(value, 0.5, 1000)").alias("__approx"),
        )
        .select(
            "event_type",
            "exact_median",
            (
                F.abs(F.col("__approx") - F.col("exact_median"))
                <= 0.05 * F.col("exact_median")
            ).alias("approx_ok"),
        )
    )


# corr()/covar_samp() accumulate doubles in engine-specific order, so their
# 6th decimal differs between Spark and DuckDB (round-1 hash-fail). Both
# sides therefore compute the statistics from EXACT decimal moment sums and
# the same IEEE-double scalar formula, so the rounded results match exactly
# (SURVEY §7 trap 5). DECIMAL(14,2) because (a) every column is an exact
# ≤2dp value, so the cast is lossless and order-independent, and (b) the
# scaled int64 products stay ~1e14 — DuckDB 1.0 multiplies decimal in int64
# and overflows at runtime past ~9.2e18 (scale 4+ casts blew up here).
# {tbl} parameterizes the source identifier only (Spark uses a namespaced
# temp view, DuckDB the pre-registered lineitem view) — the algebra text is
# shared verbatim.
_CORR_MOMENTS_SQL = """
SELECT l_returnflag,
       count(*) AS n,
       sum(CAST(l_quantity AS DECIMAL(14,2))) AS sx,
       sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS sy,
       sum(CAST(l_quantity AS DECIMAL(14,2))
           * CAST(l_quantity AS DECIMAL(14,2))) AS sxx,
       sum(CAST(l_extendedprice AS DECIMAL(14,2))
           * CAST(l_extendedprice AS DECIMAL(14,2))) AS syy,
       sum(CAST(l_quantity AS DECIMAL(14,2))
           * CAST(l_extendedprice AS DECIMAL(14,2))) AS sxy,
       sum(CAST(l_discount AS DECIMAL(14,2))) AS sd,
       sum(CAST(l_tax AS DECIMAL(14,2))) AS st,
       sum(CAST(l_discount AS DECIMAL(14,2))
           * CAST(l_tax AS DECIMAL(14,2))) AS sdt
FROM {tbl}
GROUP BY l_returnflag
"""

# identical double algebra on both sides: corr = (n·Sxy − Sx·Sy) /
# (sqrt(n·Sxx − Sx²)·sqrt(n·Syy − Sy²)), covar_samp = (n·Sdt − Sd·St)/(n·(n−1)).
# The trailing `+ 0.0` normalizes IEEE negative zero: round() lands on -0.0
# for tiny negative covariances and the engines would hash "-0.0" vs "0.0".
_CORR_FINAL_SQL = """
SELECT l_returnflag,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) + 0.0 AS qty_price_corr,
       round((CAST(n AS DOUBLE) * CAST(sdt AS DOUBLE)
              - CAST(sd AS DOUBLE) * CAST(st AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)),
             6) + 0.0 AS disc_tax_cov,
       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_qty
FROM {tbl}
"""

_CORR_ORACLE = (
    f"WITH moments AS ({_CORR_MOMENTS_SQL.format(tbl='lineitem')}) "
    f"{_CORR_FINAL_SQL.format(tbl='moments')}"
)


@query("q_corr_stats", oracle=_CORR_ORACLE)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance from exact decimal moment sums. Scale note:
    this is the one-pass parallel moments form — partial sums per partition,
    one final reduce; no second pass over the data like the naive
    mean-then-deviation formulation."""
    e = load_table(spark, sf_dir, "lineitem")
    e.createOrReplaceTempView("__corr_lineitem")
    moments = spark.sql(_CORR_MOMENTS_SQL.format(tbl="__corr_lineitem"))
    moments.createOrReplaceTempView("__corr_moments")
    return spark.sql(_CORR_FINAL_SQL.format(tbl="__corr_moments"))


# --- cube / pivot ------------------------------------------------------------

# money sums via exact DECIMAL accumulation — order-independent across
# engines/partitionings (the grand-total cell sums the whole table; a
# double sum there diverges in the last ulp at sf>=0.1)
_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS cnt,
       (CAST(floor(sum(CAST(o_totalprice AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) - floor(sum(CAST(o_totalprice AS DECIMAL(14,2)))) AS DOUBLE))
         AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("q_cube", oracle=_CUBE_ORACLE)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        money_sum(s_units("o_totalprice", 14, 2), 2).alias("total"),
    )


_PIVOT_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_O,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_F,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_P
FROM orders
GROUP BY 1
"""


@query("q_pivot", oracle=_PIVOT_ORACLE)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an EXPLICIT value list — the implicit-values form runs an
    extra distinct job and is nondeterministic in column order; never use it
    at scale."""
    o = load_table(spark, sf_dir, "orders")
    out = (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))  # count("*") is rejected inside Pivot
    )
    return out.select(
        "order_year",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


# --- bucketed co-located join ------------------------------------------------

_BUCKETED_ORACLE = """
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS order_cnt,
       (CAST(floor(sum(CAST(o.o_totalprice AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) - floor(sum(CAST(o.o_totalprice AS DECIMAL(14,2)))) AS DOUBLE))
         AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""


@query("q_bucketed_join", oracle=_BUCKETED_ORACLE)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables: both sides written bucketed on
    the join key (8 buckets, sorted), then joined WITHOUT a shuffle — the
    exchange disappears from the plan because bucket layout IS the
    partitioning. At 100 TB, bucketing the fact tables on their join keys
    once at write time removes the dominant shuffle from every subsequent
    join; this query demonstrates the full write→read→join path."""
    import os
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_buckets_{tag}_{os.getpid()}"
    )
    o_tbl, c_tbl = f"b_orders_{tag}", f"b_customer_{tag}"

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    for name, df, key in ((o_tbl, o, "o_custkey"), (c_tbl, c, "c_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .saveAsTable(name)
        )
    bo, bc = spark.table(o_tbl), spark.table(c_tbl)
    # hint MERGE so the demo exercises the bucket-aligned sort-merge path
    # (broadcast would also be shuffle-free but proves nothing about layout)
    joined = bo.join(bc.hint("merge"), bo.o_custkey == bc.c_custkey)
    return joined.groupBy("c_nationkey").agg(
        F.count("*").alias("order_cnt"),
        money_sum(s_units("o_totalprice", 14, 2), 2).alias("total"),
    )


# --- sink round-trip ---------------------------------------------------------

_SINK_ORACLE = """
SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
"""


@query("q_sink_roundtrip", oracle=_SINK_ORACLE)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write path (R14 / pickle-save analogue): write documents
    partitioned by lang to parquet, read the files back, aggregate. The
    oracle checks the round-trip lost nothing. Partitioning by a
    low-cardinality column = partition pruning for every downstream
    lang-filtered query."""
    import os
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_sink_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    d.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    return back.groupBy("lang").agg(
        F.count("*").alias("cnt"),
        F.sum("n_chars").alias("total_chars"),
    )


# --- closed-form OLS regression ----------------------------------------------

# Same shared-text discipline as q_corr_stats: the moment sums are exact
# decimals, the regression algebra is one identical IEEE-double formula on
# both engines. slope is bound once in a subquery so intercept/r² reuse
# the same computed value symbol-for-symbol.
_OLS_FINAL_SQL = """
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       round(slope, 6) + 0.0 AS slope,
       round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) + 0.0 AS intercept,
       round(slope * slope
             * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
             6) AS r2
FROM (
  SELECT *,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
  FROM {tbl}
)
"""

_OLS_ORACLE = (
    f"WITH moments AS ({_CORR_MOMENTS_SQL.format(tbl='lineitem')}) "
    f"{_OLS_FINAL_SQL.format(tbl='moments')}"
)


@query("q_ols", oracle=_OLS_ORACLE)
def q_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form linear regression (price ~ quantity per returnflag):
    slope, intercept, and r² from the normal equations over one-pass
    moment sums — distributed model fitting without an iterative solver.
    Scale shape: the ONLY data-sized work is the partial+final decimal
    moment aggregation (the q_corr_stats scan); the fit itself is O(1)
    per group. This is how a 100 TB feature-stats or calibration fit
    actually runs: sufficient statistics map-side, algebra at the end —
    never a per-iteration pass over the data."""
    e = load_table(spark, sf_dir, "lineitem")
    e.createOrReplaceTempView("__ols_lineitem")
    moments = spark.sql(_CORR_MOMENTS_SQL.format(tbl="__ols_lineitem"))
    moments.createOrReplaceTempView("__ols_moments")
    return spark.sql(_OLS_FINAL_SQL.format(tbl="__ols_moments"))


# --- contingency / independence analysis -------------------------------------

# Per-CELL output on purpose: a chi² *total* would sum 15 double
# contributions in engine-specific order (the exact failure mode that bit
# q_corr_stats in round 1). Every cell's expected count and contribution
# is computed from integer marginals with one identical double formula, so
# each value is independently bit-stable; a consumer sums contributions at
# whatever precision it wants.
_CONTINGENCY_SQL = """
WITH obs AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS c
  FROM {tbl} GROUP BY o_orderstatus, o_orderpriority
),
rt AS (SELECT s, sum(c) AS rc FROM obs GROUP BY s),
ct AS (SELECT p, sum(c) AS pc FROM obs GROUP BY p),
tot AS (SELECT sum(c) AS t FROM obs)
SELECT obs.s AS o_orderstatus, obs.p AS o_orderpriority,
       CAST(obs.c AS BIGINT) AS observed,
       round(CAST(rc AS DOUBLE) * CAST(pc AS DOUBLE) / CAST(t AS DOUBLE),
             6) AS expected,
       round(
         (CAST(obs.c AS DOUBLE)
          - CAST(rc AS DOUBLE) * CAST(pc AS DOUBLE) / CAST(t AS DOUBLE))
         * (CAST(obs.c AS DOUBLE)
            - CAST(rc AS DOUBLE) * CAST(pc AS DOUBLE) / CAST(t AS DOUBLE))
         / (CAST(rc AS DOUBLE) * CAST(pc AS DOUBLE) / CAST(t AS DOUBLE)),
         6) AS chi2_contrib
FROM obs
JOIN rt ON rt.s = obs.s
JOIN ct ON ct.p = obs.p
CROSS JOIN tot
"""


@query(
    "q_contingency",
    oracle=_CONTINGENCY_SQL.format(tbl="orders"),
)
def q_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency analysis (orderstatus × orderpriority): observed vs
    expected-under-independence counts and per-cell chi² contributions —
    the association test a feature-selection or drift-detection pass runs
    over categorical columns. One data-sized aggregation produces the
    |cells| table; marginals and expectations are algebra over that tiny
    result (broadcast joins). Shared SQL text on both engines; see the
    module comment on why the output is per-cell rather than a chi²
    total."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__cont_orders")
    return spark.sql(_CONTINGENCY_SQL.format(tbl="__cont_orders"))


# --- skyline (Pareto frontier) -----------------------------------------------

# Dominance: q dominates p iff q.price <= p.price AND q.size >= p.size,
# strictly better in at least one. The naive form is an n² self-anti-join;
# for 2 dimensions the frontier falls out of a strict-prefix running max:
#   1. per-price max size (one partial+final agg),
#   2. prefix max over the per-price rows ordered by price (deterministic —
#      one row per price — and |distinct prices|-sized, so the window is
#      ~free),
#   3. p survives iff no strictly-cheaper price reached its size
#      (prev_max >= size → dominated, price strictness given) and no
#      equal-price row strictly exceeds it (msize > size).
# Equal (price, size) duplicates don't dominate each other — both kept.
_SKYLINE_SQL = """
WITH g AS (
  SELECT p_retailprice AS price, max(p_size) AS msize
  FROM {tbl} GROUP BY p_retailprice
),
pfx AS (
  SELECT price, msize,
         max(msize) OVER (
           ORDER BY price
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_max
  FROM g
)
SELECT p.p_partkey, p.p_name, p.p_retailprice AS price,
       CAST(p.p_size AS INTEGER) AS size
FROM {tbl} p
JOIN pfx ON pfx.price = p.p_retailprice
WHERE (pfx.prev_max IS NULL OR pfx.prev_max < p.p_size)
  AND pfx.msize <= p.p_size
"""


@query("q_skyline", oracle=_SKYLINE_SQL.format(tbl="part"))
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier over parts (minimize retail price,
    maximize size) — the multi-criteria shortlist query. Two dimensions
    reduce dominance to a strict-prefix running max over a per-price
    pre-aggregate: the only data-sized op is one partial+final groupBy;
    the window runs over |distinct prices| rows; the verdict joins back
    broadcast. The n² dominance self-join a naive plan would emit (and
    which no cluster survives at 100 TB) never appears. Shared SQL text on
    both engines."""
    p = load_table(spark, sf_dir, "part")
    p.createOrReplaceTempView("__sky_part")
    return spark.sql(_SKYLINE_SQL.format(tbl="__sky_part"))
