"""Selection operators: ranked top-k and DSIR-style importance scoring.

``top_k`` / ``top_k_per`` are the one way this engine takes the first k
rows by a total order and numbers them 1..k — the reference search's
"k nearest chunks, 1-based display rank" (``app.py:178-189``) and its
grouped generalization.

DSIR's public recipe: Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" — score each document by its target/background
unigram importance ratio. The paper's sum of log-ratios becomes a mean of
floor-scaled integer ratios: monotone the same way for a fixed document
length, EXACT on both engines (integer `div`, no libm log — same rule as
q_trigram_typicality), and length-normalized so a long off-target doc
can't outscore a short on-target one.

Kept separate from plans/selection_queries.py so the scoring semantics
can be unit-tested on a constructed corpus with a real vocabulary split —
the driver's synthetic documents share one 31-term vocabulary across all
languages, so lexical preference is untestable on that fixture.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens

SCALE = 1_000_000


def top_k(
    df: DataFrame, order: Sequence[Column | str], k: int, rank_col: str = "rank"
) -> DataFrame:
    """The first ``k`` rows of ``df`` by ``order``, numbered 1..k in
    ``rank_col``.

    ``order`` must be a total order (end it on a unique id) so the cut and
    the numbering are deterministic. ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject: each partition keeps a k-row heap and the driver
    merges P*k candidates — no full sort, no shuffle of the input. The rank
    window then runs over those k rows in one partition."""
    w = Window.orderBy(*order)
    return df.orderBy(*order).limit(int(k)).withColumn(
        rank_col, F.row_number().over(w)
    )


def top_k_per(
    df: DataFrame,
    keys: Sequence[Column | str],
    order: Sequence[Column | str],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """The first ``k`` rows of each ``keys`` group by ``order``, numbered
    1..k in ``rank_col``; a group smaller than ``k`` keeps all its rows.

    ``order`` must be a total order within a group. Catalyst compiles the
    ``rank_col <= k`` filter to WindowGroupLimit, so each map task keeps at
    most k rows per group before the shuffle on ``keys``."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def dsir_scores(docs: DataFrame, is_target: Column) -> DataFrame:
    """Per-document integer importance score.

    ``docs`` needs (doc_id, text); ``is_target`` is a boolean Column over
    ``docs``'s columns marking the target-domain rows. Returns
    (doc_id, dsir_score) where dsir_score is the integer mean over the
    doc's tokens of ``((tcnt+1)*SCALE) div (bcnt+1)`` — the
    Laplace-smoothed target/background count ratio, floor-scaled. All
    arithmetic is int64 `div` (floor), so both engines agree bit-for-bit.

    Shuffle profile: one token explode feeds both the vocabulary stats
    and the scoring join; the join key is the term (vocab-sized, stop-term
    skew handled by AQE), and the final aggregate returns |docs| rows. At
    int64's edge (petabyte vocab × SCALE) the sums move to DECIMAL(38,0)
    — same algebra, so that cast is a config change, not a redesign.
    """
    toks = docs.select(
        "doc_id", is_target.alias("_t"), F.explode(tokens("text")).alias("term")
    )
    stats = toks.groupBy("term").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("tcnt"),
        F.sum(F.when(~F.col("_t"), 1).otherwise(0)).alias("bcnt"),
    )
    return (
        toks.join(stats, "term")
        .withColumn("w", F.expr(f"((tcnt + 1) * {SCALE}) div (bcnt + 1)"))
        .groupBy("doc_id")
        .agg(F.expr("sum(w) div count(*)").cast("bigint").alias("dsir_score"))
    )
