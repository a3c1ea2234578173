"""Scale-technique declared queries: the mechanics you reach for when a
plan that works at sf0.1 meets 100 TB — key salting for skew, stratified
deterministic sampling, embedding quantization, streaming-friendly
histograms. Each oracle-checked; each docstring says when to use it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import d_h64, h64
from ..functions import vectors as V
from ..functions.money import money_double, money_sum, s_units
from ..operators import selection as S
from ..sources import load_table
from .duck import dd
from .registry import query


_SALTED_ORACLE = """
WITH skewed AS (
  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 'HOT' ELSE l_returnflag END AS k,
         l_quantity
  FROM lineitem
)
SELECT k,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(l_quantity), 6) AS sum_qty
FROM skewed GROUP BY k
"""


@query("q_salted_agg", oracle=_SALTED_ORACLE)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a deliberately skewed key (70% of
    rows share one key): phase 1 aggregates on (key, salt) — the hot key
    splits across 16 reducers — phase 2 merges the 16 partials. Identical
    result to a direct groupBy; at 100 TB this is the difference between
    one straggler reducer holding 70% of the data and none. (For built-in
    aggregates partial aggregation already does this map-side; salting is
    the pattern for when it can't — high-cardinality intermediate state,
    collect-type aggregates, or skewed JOIN keys.)"""
    li = load_table(spark, sf_dir, "lineitem")
    skewed = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, "HOT")
        .otherwise(F.col("l_returnflag"))
        .alias("k"),
        "l_quantity",
    )
    # salt from a hash of row values (any roughly-uniform value works;
    # salt only needs to spread rows, not be meaningful). Quantities are
    # integer-valued doubles, so the two-phase sum is EXACT and matches
    # the oracle's one-phase sum bit-for-bit — the salted structure never
    # shows up in the result.
    salted = skewed.withColumn(
        "salt", h64(F.col("l_quantity").cast("string")) % 16
    )
    partial = salted.groupBy("k", "salt").agg(
        F.count("*").alias("c"),
        F.sum("l_quantity").alias("sq"),
    )
    return partial.groupBy("k").agg(
        F.sum("c").alias("cnt"),
        F.sum("sq").alias("sum_qty"),
    )


_STRATIFIED_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE {d_h64("CAST(doc_id AS VARCHAR)")} % 100 <
      CASE WHEN lang = 'en' THEN 5 ELSE 20 END
"""


@query("q_stratified_sample", oracle=_STRATIFIED_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: 5% of the over-represented
    stratum (en), 20% of everything else — hash-based, so reproducible
    across runs/engines/retries with no seed plumbing. The shape of
    training-mixture rebalancing at corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 5).otherwise(20)
    return d.filter(h64(F.col("doc_id").cast("string")) % 100 < rate).select(
        "doc_id", "lang"
    )


_QUANTIZE_ORACLE = f"""
WITH base AS (
  SELECT vec_id, {dd("embedding")} AS v FROM embeddings WHERE vec_id < 100
), stats AS (
  SELECT vec_id, v,
         list_min(v) AS lo,
         list_max(v) AS hi
  FROM base
)
SELECT vec_id,
       CAST(unnest(range(0, len(v))) AS INTEGER) AS dim,
       CAST(unnest(list_transform(v,
         x -> CASE WHEN hi = lo THEN 0
                   ELSE CAST(floor((x - lo) / (hi - lo) * 255.0) AS INTEGER) END
       )) AS INTEGER) AS q
FROM stats
"""


@query("q_quantize_embedding", oracle=_QUANTIZE_ORACLE)
def q_quantize_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector scalar quantization to uint8 range (min-max, 256 levels):
    4x smaller vectors for the ANN candidate pass, exact re-rank on the
    survivors — the standard memory/recall trade at billion-vector scale.
    Pure column math; exploded for value-exact checking."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = V.as_double_array("embedding")
    base = e.select("vec_id", v.alias("v"))
    stats = base.select(
        "vec_id", "v",
        F.array_min("v").alias("lo"),
        F.array_max("v").alias("hi"),
    )
    q = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.floor((x - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255.0)
            .cast("int")
        ),
    )
    return stats.select("vec_id", F.posexplode(q).alias("dim", "q"))


_HISTOGRAM_ORACLE = """
WITH b AS (
  SELECT event_type,
         CAST(floor(value / 25.0) AS INTEGER) AS bucket
  FROM events
)
SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM b GROUP BY event_type, bucket
"""


@query("q_histogram", oracle=_HISTOGRAM_ORACLE)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per group — the distribution profile that at
    100 TB replaces "look at the values": one partial+final count
    aggregation regardless of data size."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.floor(F.col("value") / 25.0).cast("int").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


_PART_SINK_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       (CAST(floor(sum(CAST(value AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(value AS DECIMAL(14,2))) - floor(sum(CAST(value AS DECIMAL(14,2)))) AS DOUBLE))
         AS total_value
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
"""


@query("q_partitioned_sink", oracle=_PART_SINK_ORACLE)
def q_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-pruned read-back: write
    events partitioned by event_type, read back only two partitions. The
    table-layout half of the scale story — at 100 TB the reader's filter
    never touches the other partitions' files at all (.explain shows
    PartitionFilters, and only matching directories are listed). The
    oracle computes the same aggregate from the unpartitioned source,
    proving the round-trip loses nothing."""
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_sink_{os.getpid()}",
        os.path.basename(sf_dir.rstrip("/")),
        "events_by_type",
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        money_sum(s_units("value", 14, 2), 2).alias("total_value"),
    )


# --- incremental re-aggregation ---------------------------------------------

_INCR_AGG_ORACLE = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
       CAST(count(*) AS BIGINT) AS order_cnt,
       (CAST(floor(sum(CAST(o_totalprice AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) - floor(sum(CAST(o_totalprice AS DECIMAL(14,2)))) AS DOUBLE))
         AS month_total
FROM orders
GROUP BY 1
"""


@query("q_incremental_agg", oracle=_INCR_AGG_ORACLE)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for an additive aggregate: the
    pattern that never recomputes 100 TB. "Yesterday's" materialized
    state (orders before 2000-01-01, pre-aggregated to per-month
    partials) is merged with "today's" delta (orders on/after the
    cutoff, aggregated alone) by RE-AGGREGATING THE PARTIALS — count and
    decimal-sum are associative, so state ⊎ delta equals the full
    recomputation, which is exactly what the oracle computes from
    scratch. At scale the state side is |months| rows regardless of
    history size; each increment touches only the delta partition.
    (Non-additive aggregates need sketch state instead: see
    q_approx_distinct / q_approx_percentile.)"""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_format(
        F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd"
    ).alias("order_month")
    dprice = F.col("o_totalprice").cast("decimal(14,2)")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count("*").alias("cnt"),
            F.sum(dprice).alias("total"),
        )

    state = partials(o.filter(F.col("o_orderdate") < "2000-01-01"))
    delta = partials(o.filter(F.col("o_orderdate") >= "2000-01-01"))
    merged = state.unionByName(delta)
    return merged.groupBy("order_month").agg(
        F.sum("cnt").alias("order_cnt"),
        money_double(F.sum("total")).alias("month_total"),
    )


# --- Bloom-filter runtime join filter ----------------------------------------

_BLOOM_WORDS = 64   # bitmap = 64 BIGINT words
_BLOOM_BPW = 63     # low 63 bits per word — the sign bit stays clear so
                    # shifts/ORs behave identically in Spark and DuckDB
_BLOOM_M = _BLOOM_WORDS * _BLOOM_BPW
_BLOOM_K = 3        # hash functions
_BLOOM_HEX = 12     # 48-bit position hashes


def _bloom_pos_sql(key_sql: str, j: int) -> str:
    return f"({d_h64(f'CAST({key_sql} AS VARCHAR)', seed=f'bf{j}', nchars=_BLOOM_HEX)} % {_BLOOM_M})"


_BLOOM_ORACLE = f"""
WITH keys AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
), pos AS (
  SELECT unnest([{", ".join(_bloom_pos_sql("c_custkey", j) for j in range(_BLOOM_K))}]) AS pos
  FROM keys
), bm AS (
  SELECT word, bit_or(bits) AS bits FROM (
    SELECT pos // {_BLOOM_BPW} AS word,
           CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_BPW} AS INT) AS bits
    FROM pos
    UNION ALL
    SELECT r AS word, CAST(0 AS BIGINT) AS bits FROM range({_BLOOM_WORDS}) t(r)
  ) GROUP BY word
), bloom AS (
  SELECT list(bits ORDER BY word) AS arr FROM bm
), flags AS (
  SELECT
    ({" AND ".join(
        f"((arr[CAST(p{j} // {_BLOOM_BPW} AS INT) + 1]"
        f" >> CAST(p{j} % {_BLOOM_BPW} AS INT)) & 1) = 1"
        for j in range(_BLOOM_K))}) AS candidate,
    o_custkey IN (SELECT c_custkey FROM keys) AS hit
  FROM (
    SELECT o_custkey,
           {", ".join(_bloom_pos_sql("o_custkey", j) + f" AS p{j}" for j in range(_BLOOM_K))}
    FROM orders
  ), bloom
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN candidate THEN 1 ELSE 0 END) AS BIGINT)
         AS n_candidates,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_matches,
       CAST(sum(CASE WHEN candidate AND NOT hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positives
FROM flags
"""


@query("q_bloom_join", oracle=_BLOOM_ORACLE)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join filter, built explicitly: hash the dim
    side's join keys (customers in one segment) into a 64-word/63-bit
    bitmap, broadcast the ~512-byte bitmap, and pre-filter the fact scan
    (orders) before any join or shuffle. The output audits the filter:
    candidate count vs true semi-join matches vs false positives — and
    because a Bloom filter has no false NEGATIVES, n_candidates >=
    n_true_matches always holds (both engines compute all three).

    This is the pattern behind Spark's own runtime row-level filtering /
    dynamic partition pruning, spelled out for when the dim side is too
    big to broadcast as a hash table but its FINGERPRINT isn't: at 100 TB
    the bitmap (scaled up: a few MB for 10^8 keys at 10 bits/key) drops
    ~all non-matching fact rows at the scan, before the shuffle the real
    join would need. Positions derive from the portable md5 hash, low 63
    bits per word, so Spark and DuckDB build bit-identical bitmaps."""
    keys = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )

    def positions(key_col: str) -> list:
        k = F.col(key_col).cast("string")
        return [
            h64(k, seed=f"bf{j}", nchars=_BLOOM_HEX) % _BLOOM_M
            for j in range(_BLOOM_K)
        ]

    pos = keys.select(
        F.explode(F.array(*positions("c_custkey"))).alias("pos")
    )
    spark_range = spark.range(_BLOOM_WORDS).select(
        F.col("id").alias("word"), F.lit(0).cast("long").alias("bits")
    )
    bm = (
        pos.select(
            F.expr(f"pos div {_BLOOM_BPW}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_BPW} AS INT))"
            ).alias("bits"),
        )
        .unionByName(spark_range)
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    bloom = bm.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(word, bits))),"
            " s -> s.bits)"
        ).alias("arr")
    )

    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    for j, p in enumerate(positions("o_custkey")):
        o = o.withColumn(f"p{j}", p)
    flagged = (
        o.crossJoin(F.broadcast(bloom))
        .withColumn(
            "candidate",
            F.expr(
                " AND ".join(
                    f"((element_at(arr, CAST(p{j} div {_BLOOM_BPW} AS INT) + 1)"
                    f" >> CAST(p{j} % {_BLOOM_BPW} AS INT)) & 1) = 1"
                    for j in range(_BLOOM_K)
                )
            ),
        )
        .join(
            F.broadcast(keys.withColumn("hit", F.lit(True))),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .withColumn("hit", F.coalesce("hit", F.lit(False)))
    )
    return flagged.agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("candidate").cast("long")).alias("n_candidates"),
        F.sum(F.col("hit").cast("long")).alias("n_true_matches"),
        F.sum((F.col("candidate") & ~F.col("hit")).cast("long")).alias(
            "n_false_positives"
        ),
    )


# --- count-min sketch heavy hitters -----------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 64  # deliberately small so collisions (over-estimates) occur
_CMS_TOPK = 20


# Hash family: ONE 60-bit md5-prefix integer per key (functions.hashing
# h64 — a single base-16 parse per row), then depth d's bucket is the d-th
# disjoint 6-bit slice: (raw >> 6d) & (width-1). Base-16 string parsing
# (`conv`) measured 4× the cost of the rest of the sketch build when done
# per (row, depth); integer shifts are ~free on both engines, and md5 bits
# are uniform and independent across positions.
_CMS_BITS = 6  # width = 2^6


def _d_cms_bucket(raw_sql: str) -> str:
    """DuckDB mirror of the depth-d bucket: d-th 6-bit slice of the 60-bit
    md5-prefix integer (depth index from the joined ``d.d`` column)."""
    return f"(({raw_sql} >> ({_CMS_BITS} * d.d)) & {_CMS_WIDTH - 1})"


_CMS_ORACLE = f"""
WITH depths AS (SELECT unnest(range(0, {_CMS_DEPTH})) AS d),
keyed AS (
  SELECT {d_h64("CAST(l_partkey AS VARCHAR)")} AS raw FROM lineitem
),
cms AS (
  SELECT d.d AS d, {_d_cms_bucket('raw')} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM keyed CROSS JOIN depths d
  GROUP BY 1, 2
),
exact AS (
  SELECT l_partkey, {d_h64("CAST(l_partkey AS VARCHAR)")} AS raw,
         CAST(count(*) AS BIGINT) AS exact_cnt
  FROM lineitem GROUP BY 1, 2
  ORDER BY exact_cnt DESC, l_partkey ASC LIMIT {_CMS_TOPK}
),
est AS (
  SELECT e.l_partkey, e.exact_cnt, min(c.cnt) AS cms_est
  FROM exact e
  CROSS JOIN depths d
  JOIN cms c ON c.d = d.d
  WHERE c.bucket = {_d_cms_bucket("e.raw")}
  GROUP BY 1, 2
)
SELECT l_partkey, exact_cnt, cms_est,
       cms_est >= exact_cnt AS is_sound,
       cms_est - exact_cnt AS overest,
       round(CAST(cms_est - exact_cnt AS DOUBLE)
             / CAST(exact_cnt AS DOUBLE) * 100, 6) AS overest_pct
FROM est
"""


@query("q_cms_heavy", oracle=_CMS_ORACLE)
def q_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, checked against exact counts
    for the top-20 keys. The sketch is depth×width = 4×64 counters — a
    fixed-size summary that replaces the per-key distinct shuffle when the
    key universe is huge: updates are partial-aggregated map-side into at
    most 256 rows per partition regardless of input size, and the merged
    sketch broadcasts for lookups. Hash functions are md5-derived
    (functions.hashing) so Spark and DuckDB build bit-identical sketches;
    the width is deliberately small so over-estimates actually occur and
    the CMS soundness invariant (estimate ≥ true count, never under) is
    exercised rather than vacuous. Integer-only output → hash-exact.

    The d bucket hashes per row are disjoint 6-bit slices of ONE 60-bit
    md5-prefix integer, and the base-16 parse is materialized *below* the
    explode so the plan runs it once per row — Catalyst's project-collapse
    would otherwise inline it d times (the round-1 multi-derivation
    lesson), and the parse measured 4× the rest of the sketch build."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    k = F.col("l_partkey").cast("string")

    def bucket_of(raw, d: int):
        return F.shiftright(raw, _CMS_BITS * d).bitwiseAND(_CMS_WIDTH - 1)

    cms = (
        li.select(h64(k).alias("raw"))
        # explode AFTER hashing: Generate blocks project-collapse, so the
        # base-16 parse runs once per input row, not once per (row, depth)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias("d"),
            "raw",
        )
        .select(
            "d",
            F.expr(
                f"(raw >> ({_CMS_BITS} * d)) & {_CMS_WIDTH - 1}"
            ).alias("bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("l_partkey").asc())
        .limit(_CMS_TOPK)
    )
    raw = h64(k)
    cand = exact.select(
        "l_partkey",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), bucket_of(raw, d).alias("bucket")
                    )
                    for d in range(_CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("l_partkey", "exact_cnt", "p.d", "p.bucket")
    return (
        cand.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "l_partkey",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("is_sound"),
            # the measured error bar for THIS 4x64 config — exact in both
            # engines because the sketches are bit-identical (md5 family)
            (F.col("cms_est") - F.col("exact_cnt")).alias("overest"),
            F.round(
                (F.col("cms_est") - F.col("exact_cnt")).cast("double")
                / F.col("exact_cnt").cast("double")
                * 100,
                6,
            ).alias("overest_pct"),
        )
    )


# --- HLL sketch merge (partition-wise distinct counting) ---------------------

# The q_approx_distinct oracle pattern: raw HLL estimates are
# engine-specific, so the HLL arm of the check is (exact count, own
# estimate within tolerance) — deterministic on both sides. The KMV arm
# (k-minimum-values sketch over the md5 hash family) IS bit-identical
# cross-engine, so its estimate and measured error columns are
# hash-exact: the error bar for the merged-sketch config is a verified
# number, not a tolerance boolean (VERDICT r2 item 6).
_KMV_K = 64  # every quarter has >= 67 distinct parts even at sf0.001
# KMV estimator numerator: (k-1) * 2^60 (h64's range), folded to the one
# double both engines parse/compute identically (exact: 63 * 2^60 has a
# 6-bit mantissa)
_KMV_NUM = float((_KMV_K - 1) << 60)

_HLL_MERGE_ORACLE = f"""
WITH q AS (
  SELECT strftime(date_trunc('quarter', l_shipdate), '%Y-%m') AS quarter,
         date_trunc('month', l_shipdate) AS month,
         l_partkey
  FROM lineitem
), mh AS (
  SELECT DISTINCT quarter, month,
         {d_h64("CAST(l_partkey AS VARCHAR)")} AS h
  FROM q
), mrk AS (
  SELECT quarter, month, h,
         row_number() OVER (PARTITION BY quarter, month ORDER BY h) AS rn
  FROM mh
), msk AS (
  SELECT DISTINCT quarter, h FROM mrk WHERE rn <= {_KMV_K}
), qrk AS (
  SELECT quarter, h,
         row_number() OVER (PARTITION BY quarter ORDER BY h) AS rn
  FROM msk
), kmv AS (
  SELECT quarter,
         CAST(count(*) AS BIGINT) AS n_mins,
         max(CASE WHEN rn = {_KMV_K} THEN h END) AS hk
  FROM qrk WHERE rn <= {_KMV_K} GROUP BY quarter
), ex AS (
  SELECT quarter,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
         abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
           / CAST(count(DISTINCT l_partkey) AS DOUBLE) <= 0.05 AS merged_ok
  FROM q GROUP BY quarter
)
SELECT ex.quarter, ex.exact_parts, ex.merged_ok,
       round(CASE WHEN kmv.n_mins < {_KMV_K}
                  THEN CAST(kmv.n_mins AS DOUBLE)
                  ELSE {_KMV_NUM!r} / CAST(kmv.hk AS DOUBLE) END,
             6) AS kmv_est,
       round(abs(CASE WHEN kmv.n_mins < {_KMV_K}
                      THEN CAST(kmv.n_mins AS DOUBLE)
                      ELSE {_KMV_NUM!r} / CAST(kmv.hk AS DOUBLE) END
                 - exact_parts) / CAST(exact_parts AS DOUBLE) * 100,
             6) AS kmv_err_pct
FROM ex JOIN kmv ON ex.quarter = kmv.quarter
"""


@query("q_hll_merge", oracle=_HLL_MERGE_ORACLE)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct sketches, two families side by side. (1) HLL:
    per-MONTH sketches built once (hll_sketch_agg), unioned to QUARTER
    estimates (hll_union_agg) — the pattern that makes distinct counting
    incremental at 100 TB: a materialized rollup stores a ~1.5 KB sketch
    per partition instead of the key set, and any coarser rollup merges
    sketches without touching the raw data again. HLL bytes are
    engine-specific, so that arm is checked as estimate-within-5%.
    (2) KMV (k-minimum-values, k=64) over the md5 hash family: the
    per-month k smallest distinct hashes merge losslessly to the quarter
    k-minima (any quarter-level minimum is a minimum of its month), and
    the estimator (k-1)*2^60/h_(k) is bit-identical cross-engine — so
    kmv_est and kmv_err_pct are HASH-EXACT measured error bars for the
    merged-sketch config, not tolerance booleans.

    Scale notes: the KMV build is distinct (partial-agg shuffle) →
    per-month window top-k (bounded to k rows per month immediately) →
    per-quarter re-rank of ≤ k×months rows. Spark has no bounded k-min
    UDAF built in; at 100 TB the month stage would be an Arrow UDAF
    maintaining a k-heap per partition — the plan shape downstream of the
    month sketches is identical."""
    li = load_table(spark, sf_dir, "lineitem")
    quarter = F.date_format(
        F.date_trunc("quarter", "l_shipdate"), "yyyy-MM"
    ).alias("quarter")
    monthly = (
        li.select(
            quarter,
            F.date_trunc("month", "l_shipdate").alias("month"),
            "l_partkey",
        )
        .groupBy("quarter", "month")
        .agg(F.hll_sketch_agg("l_partkey").alias("sk"))
    )
    merged = monthly.groupBy("quarter").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    # KMV arm: month k-minima over distinct hashes, merged to quarter
    mh = li.select(
        quarter,
        F.date_trunc("month", "l_shipdate").alias("month"),
        h64(F.col("l_partkey").cast("string")).alias("h"),
    ).distinct()
    msk = (
        S.top_k_per(mh, ["quarter", "month"], ["h"], _KMV_K, "rn")
        .select("quarter", "h")
        .distinct()
    )
    kmv = (
        S.top_k_per(msk, ["quarter"], ["h"], _KMV_K, "rn")
        .groupBy("quarter")
        .agg(
            F.count("*").alias("n_mins"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
        )
    )
    exact = li.select(quarter, "l_partkey").groupBy("quarter").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    kmv_est = F.when(
        F.col("n_mins") < _KMV_K, F.col("n_mins").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("hk").cast("double"))
    return (
        exact.join(merged, "quarter")
        .join(kmv, "quarter")
        .select(
            "quarter",
            "exact_parts",
            (
                F.abs(F.col("est") - F.col("exact_parts"))
                / F.col("exact_parts").cast("double")
                <= 0.05
            ).alias("merged_ok"),
            F.round(kmv_est, 6).alias("kmv_est"),
            F.round(
                F.abs(kmv_est - F.col("exact_parts"))
                / F.col("exact_parts").cast("double")
                * 100,
                6,
            ).alias("kmv_err_pct"),
        )
    )
