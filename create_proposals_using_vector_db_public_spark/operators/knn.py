"""Exact and approximate nearest-neighbor search over an embedding column.

Reference semantics (``app.py:178-186``, ``app_callapi.py:201-207``):
- rank strictly by ascending L2 distance (FAISS ``IndexFlatL2`` is exact
  brute force — Spark brute force is semantically identical, not an
  approximation),
- clamp k to the table size (``app.py:179``),
- report cosine similarity per hit but NEVER reorder by it (vectors are
  mean-pooled and unnormalized, so L2 order != cosine order in general —
  SURVEY §7 trap 1),
- assign a 1-based display rank (``app.py:183,189``).

Scale notes (100 TB):
- ``orderBy(dist).limit(k)`` compiles to ``TakeOrderedAndProject`` — each
  partition keeps a k-sized heap, the driver merges P*k candidates. No full
  sort, no shuffle of vectors. This is the right plan at any scale.
- For many simultaneous queries use :func:`knn_join` (broadcast the query
  side), and for sub-linear search :func:`ivf_search` / the LSH bucketing in
  ``operators.dedup`` — both prune the scanned fraction instead of scanning
  everything.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vectors as V


def ensure_parallelism(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition ``df`` up to the session's shuffle parallelism when its
    plan has fewer partitions — round-robin by default, hash-partitioned
    on ``key`` when given.

    ``key`` must be near-unique (a row id): hash partitioning puts every
    row of one key value in one partition, so a skewed or low-cardinality
    key concentrates the rows this guard exists to spread. Pass it when
    the caller's next wide operator groups by ``key`` (or a superset of
    it): hash partitioning on a grouping-key subset satisfies the
    aggregate's required distribution, so the groupBy reuses THIS
    exchange instead of adding its own (guide §2.4 — one exchange
    where round-robin forced two). ``ivf_assign`` keys by the vector id
    (its argmin groupBy is on the id) and ``pq_subvectors`` likewise (the
    codeword argmin groups by (id, s), and the downstream ADC aggregate by
    id — all satisfied by hash(id), so the whole PQ encode pipeline runs
    in the one guard exchange). A unique id hashes uniformly, so the
    keyed form keeps round-robin's balance without its per-task
    sort-before-repartition pass.

    Vector operators are compute-dense but byte-light (k interpreted
    array distances per row over a few-hundred-byte row), so their map
    parallelism must not be inherited from the scan's byte-based split
    count: a single-row-group parquet file — the fixture layout, and a
    real layout for dimension-scale vector tables — plans as ONE input
    task, measured at the sf10 proof as a multi-minute single-core
    straggler. The guard only fires in that degenerate case (a 100 TB
    corpus already has more splits than cores) and the shuffle it adds
    moves each row once.

    The guard has no size floor: bytes are the wrong proxy for
    compute-dense work. A small vector table (the sf0.1 bench corpus is
    under 4 MB) still gets spread — measured q_semdedup 3.28 s -> 2.94 s —
    while the added exchange on genuinely tiny inputs costs ~0.05 s. No
    optimizer-statistics probe runs, so the guard adds no driver-side
    optimization pass on the guarded subtree. Loops must not re-pay the
    exchange per iteration: they guard once outside and pass
    ``ensure=False`` inside (:func:`kmeans_codebook`; guarding per Lloyd
    round measured 1.7x slower on q_ann_ivf_kmeans).

    The partition count comes from the plan's physical RDD
    (``queryExecution().toRdd()``). On an exchange-free input (a scan or
    a projection of one) that plans lazily and runs no job. On an input
    that already holds an exchange it runs every stage upstream of it,
    at build time, as Spark jobs: such an input is already spread by its
    exchange, so its caller passes ``ensure=False`` instead.
    """
    shuffle_n = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    # partition count from the plan's own physical RDD: df.rdd would wrap
    # the plan in a DeserializeToObject projection and re-run analysis per
    # guarded query just to ask a partition count
    n_part = int(df._jdf.queryExecution().toRdd().getNumPartitions())
    if n_part < shuffle_n:
        if key is not None:
            return df.repartition(shuffle_n, key)
        return df.repartition(shuffle_n)
    return df


def knn(
    df: DataFrame,
    query_vec: Sequence[float] | str,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ensure: bool = True,
) -> DataFrame:
    """Exact top-k by L2 distance, with cosine reported (not ranked by).

    Returns the input columns (minus the raw vector) plus ``dist``,
    ``cosine`` and 1-based ``rank``. Ties broken by ``id_col`` so results
    are deterministic for the oracle; ``dist`` and ``cosine`` are rounded
    to 6 decimals. ``query_vec`` is a list of floats or a SQL fragment of
    the query vector. The corpus goes through :func:`ensure_parallelism` —
    the per-row distance expressions are interpreted array work that must
    not serialize onto one scan split. Pass ``ensure=False`` when the
    input is known-small (a rerank candidate set) and the repartition
    would be pure overhead, and when the input already holds an exchange
    (a join or aggregate output): the guard's partition probe would run
    that input's upstream stages as jobs while the plan is built.
    """
    if ensure:
        df = ensure_parallelism(df)
    q = query_vec if isinstance(query_vec, str) else V.s_vec_lit(query_vec)
    emb = V.s_as_double_array(vec_col)
    dist = F.round(V.l2_dist(emb, q), 6)
    # + 0.0 folds IEEE -0.0 (a tiny-negative cosine rounded to zero) into
    # +0.0 — the engines disagree on which zero round() emits, and an
    # exact value-hash distinguishes their reprs
    cos = F.round(V.cosine_sim(emb, q), 6) + 0.0
    out = (
        df.withColumn("dist", dist)
        .withColumn("cosine", cos)
        .orderBy(F.col("dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(int(k))
    )
    # rank over the k collected rows — cheap (k rows), single partition is fine
    w = Window.orderBy(F.col("dist").asc_nulls_last(), F.col(id_col).asc())
    return out.withColumn("rank", F.row_number().over(w)).drop(vec_col)


def knn_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    query_vec_col: str = "query_vec",
    query_id_col: str = "query_id",
    corpus_vec_col: str = "embedding",
    corpus_id_col: str = "vec_id",
) -> DataFrame:
    """Top-k per query for a (small) batch of queries: broadcast the query
    side, one pass over the corpus, window top-k per query.

    At scale the corpus is the 100 TB side and stays partitioned in place;
    the queries are broadcast (they are user requests — tiny). The only
    shuffle is on ``query_id`` for the per-query top-k, with k rows per
    (partition, query) surviving the map side.
    """
    q = F.broadcast(
        queries_df.select(
            F.col(query_id_col),
            V.as_double_array(query_vec_col).alias("__qv"),
        )
    )
    c = ensure_parallelism(
        corpus_df.select(corpus_id_col, corpus_vec_col)
    ).select(
        F.col(corpus_id_col), V.as_double_array(corpus_vec_col).alias("__cv")
    )
    joined = c.crossJoin(q).withColumn(
        "dist", F.round(V.l2_dist("__cv", "__qv"), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc_nulls_last(), F.col(corpus_id_col).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, corpus_id_col, "dist", "rank")
    )


def ivf_assign(
    corpus_df: DataFrame,
    centroids_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_vec_col: str = "centroid_vec",
    centroid_id_col: str = "centroid_id",
    ensure: bool = True,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid.

    Centroids are broadcast (there are hundreds-to-thousands of them even at
    100 TB); assignment is a broadcast cross join + per-vector argmin via a
    ``min_by`` aggregation. The aggregate gets map-side partial combine, so
    the corpus×centroids blowup collapses back to one row per vector BEFORE
    the shuffle — only n rows (not n×k) ever cross the wire, and there is
    no per-group sort (a window argmin would shuffle and sort all n×k).
    Ties broken by ``centroid_id`` via lexicographic struct comparison, so
    assignment is deterministic (SURVEY §7 trap 5).

    Re-assignment safe: a corpus that already carries assignment columns
    (this function's own output, fed back after a codebook update) has
    them dropped first — otherwise the cross join would raise
    AMBIGUOUS_REFERENCE on ``centroid_id``.

    Parallelism: assignment is compute-dense (k interpreted array-L2s
    per row) but byte-light, so the corpus goes through
    :func:`ensure_parallelism` — without it a single-row-group parquet
    scan runs all n x k distances in ONE task (the sf10 proof's
    multi-minute straggler). Pass ``ensure=False`` when the caller
    already guarded the corpus (:func:`kmeans_codebook` does it once
    outside its Lloyd loop instead of once per iteration).
    """
    stale = [
        c for c in (centroid_id_col, "centroid_dist")
        if c in corpus_df.columns
    ]
    if stale:
        corpus_df = corpus_df.drop(*stale)
    if ensure:
        # keyed by the id: the argmin groupBy below clusters on id_col, so
        # the guard's exchange doubles as the aggregate's distribution —
        # one shuffle of the corpus instead of round-robin + groupBy(id)
        corpus_df = ensure_parallelism(corpus_df, key=id_col)
    cents = F.broadcast(
        centroids_df.select(
            F.col(centroid_id_col),
            V.as_double_array(centroid_vec_col).alias("__cent"),
        )
    )
    emb = V.as_double_array(vec_col)
    rest = [c for c in corpus_df.columns if c != id_col]
    scored = (
        corpus_df.withColumn("__v", emb)
        .crossJoin(cents)
        .withColumn("__cdist", F.round(V.l2_dist("__v", "__cent"), 6))
    )
    best = scored.groupBy(id_col).agg(
        F.min_by(
            F.struct(F.col("__cdist"), F.col(centroid_id_col), *rest),
            F.struct(F.col("__cdist"), F.col(centroid_id_col)),
        ).alias("__best")
    )
    return best.select(
        id_col,
        *[F.col(f"__best.{c}") for c in rest],
        F.col(f"__best.{centroid_id_col}").alias(centroid_id_col),
        F.col("__best.__cdist").alias("centroid_dist"),
    )


def lsh_search(
    corpus_df: DataFrame,
    query_vec: Sequence[float] | str,
    k: int,
    n_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 1,
) -> DataFrame:
    """Hyperplane-LSH ANN: bucket every vector by the sign pattern of
    ``n_planes`` deterministic projections (operators.dedup.
    random_hyperplane_block — the same blocks the embedding near-dup
    family uses), then exact-search only the query's bucket.

    The other scale path next to :func:`ivf_search`: no codebook to train,
    2^n_planes buckets, and with the corpus partitioned by block the scan
    prunes to ~n_probe/2^n_planes of the data. Candidates from the bucket
    go through :func:`knn`, so ranking semantics (L2 order, cosine
    reported, 1-based rank) are identical to the exact path.

    ``n_probe`` > 1 is multi-probe LSH: also search the buckets whose sign
    pattern differs from the query's in exactly one plane (a near-boundary
    neighbor most likely lands there). Up to ``1 + n_planes`` buckets.
    """
    from . import dedup as D

    q = query_vec if isinstance(query_vec, str) else V.s_vec_lit(query_vec)
    blocked = corpus_df.withColumn(
        "__blk",
        D.random_hyperplane_block(V.s_as_double_array(vec_col), n_planes),
    )
    qblk = D.random_hyperplane_block(q, n_planes)
    if n_probe <= 1:
        cond = F.col("__blk") == qblk
    else:
        # flip one sign at a time: substring surgery on the block string,
        # deterministic probe order = plane order
        probes = [qblk]
        for p in range(min(n_probe - 1, n_planes)):
            bit = F.substring(qblk, p + 1, 1)
            flipped = F.when(bit == "1", F.lit("0")).otherwise(F.lit("1"))
            probes.append(
                F.concat(
                    F.substring(qblk, 1, p),
                    flipped,
                    F.substring(qblk, p + 2, n_planes - p - 1),
                )
            )
        # isin() needs literals; the probe blocks are Column expressions
        cond = F.array_contains(F.array(*probes), F.col("__blk"))
    cell = blocked.filter(cond).drop("__blk")
    return knn(cell, q, k, vec_col=vec_col, id_col=id_col)


def ivf_search_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    centroids_df: DataFrame,
    k: int,
    n_probe: int = 1,
    query_vec_col: str = "query_vec",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_vec_col: str = "centroid_vec",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Batch IVF ANN: top-k per query for a (small) query set, each query
    probing only its ``n_probe`` nearest cells.

    The multi-query generalization of :func:`ivf_search`, mirroring
    :func:`knn_join`'s broadcast shape: the corpus is assigned to cells
    once (query-independent), the (query × centroid) probe table is tiny
    and broadcast, and each query scans only its probed cells. At 100 TB
    with the corpus partitioned by ``centroid_id`` this is the ANN serving
    plan: per-query work is ``n_probe / n_centroids`` of the data, and the
    only shuffle is the per-query top-k on ``query_id``.
    """
    q = queries_df.select(
        F.col(query_id_col), V.as_double_array(query_vec_col).alias("__qv")
    )
    cents = centroids_df.select(
        F.col(centroid_id_col),
        V.as_double_array(centroid_vec_col).alias("__cent"),
    )
    # probe set: n_probe nearest centroids per query (both sides tiny)
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "__qd", V.l2_dist("__qv", "__cent")
    )
    wp = Window.partitionBy(query_id_col).orderBy(
        F.col("__qd").asc_nulls_last(), F.col(centroid_id_col).asc()
    )
    probes = (
        qc.withColumn("__pn", F.row_number().over(wp))
        .filter(F.col("__pn") <= n_probe)
        .select(query_id_col, centroid_id_col, "__qv")
    )
    assigned = ivf_assign(
        corpus_df.select(id_col, vec_col),
        centroids_df,
        vec_col,
        id_col,
        centroid_vec_col,
        centroid_id_col,
    )
    cell = assigned.join(F.broadcast(probes), on=centroid_id_col, how="inner")
    scored = cell.withColumn(
        "dist",
        F.round(V.l2_dist(V.s_as_double_array(vec_col), "__qv"), 6),
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "dist", "rank")
    )


def kmeans_update(
    assigned_df: DataFrame,
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """One Lloyd update step: component-wise mean of the vectors assigned to
    each centroid → (centroid_id, centroid_vec).

    Shape: posexplode to (centroid, pos, value) → decimal-sum aggregate →
    rebuild the array. One shuffle keyed by (centroid_id, pos) — dim×k
    groups, trivially parallel, no vector ever crosses the wire whole.
    Means are computed from DECIMAL(27,10) sums so the result is
    order-independent (bit-identical across runs, partitionings, and
    engines — SURVEY §7 trap 5), then rounded to 6 decimals.
    """
    parts = assigned_df.select(
        F.col(centroid_id_col),
        F.posexplode(V.as_double_array(vec_col)).alias("__pos", "__val"),
    )
    comp = parts.groupBy(centroid_id_col, "__pos").agg(
        (
            F.sum(F.col("__val").cast("decimal(27,10)")).cast("double")
            / F.count("*")
        ).alias("__mean")
    )
    return (
        comp.groupBy(centroid_id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__mean")))
            ).alias("__pairs")
        )
        .select(
            centroid_id_col,
            F.transform(
                F.col("__pairs"), lambda p: F.round(p["__mean"], 6)
            ).alias("centroid_vec"),
        )
    )


def kmeans_codebook(
    corpus_df: DataFrame,
    seeds_df: DataFrame,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_vec_col: str = "centroid_vec",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Lloyd's k-means codebook training: alternate :func:`ivf_assign` and
    :func:`kmeans_update` for a fixed number of iterations, starting from
    deterministic seeds. Returns (centroid_id, centroid_vec).

    Each iteration materializes only the centroids (k × dim doubles — a
    parameter, not data), so the lineage stays flat: localCheckpoint per
    iteration truncates the plan the way every iterative Spark algorithm
    must, and the corpus is re-scanned once per iteration — exactly the
    k-means I/O lower bound. Empty clusters keep their previous centroid.
    The checkpoint is lazy only in name: each one runs the stages upstream
    of it as Spark jobs when it is called, so the Lloyd iterations execute
    while this function builds the plan, not when the result is read.
    """
    cents = seeds_df.select(
        F.col(centroid_id_col),
        V.as_double_array(centroid_vec_col).alias(centroid_vec_col),
    )
    # Guard the corpus ONCE outside the loop (the per-iteration form
    # re-paid the plan probe and exchange every Lloyd round — measured
    # 1.7x on q_ann_ivf_kmeans at sf0.1). Keyed by the id so every
    # iteration's assignment groupBy(id) rides the guard exchange instead
    # of adding its own n-row shuffle per Lloyd round.
    corpus = ensure_parallelism(corpus_df.select(id_col, vec_col), key=id_col)
    for _ in range(iters):
        assigned = ivf_assign(
            corpus, cents, vec_col, id_col, centroid_vec_col,
            centroid_id_col, ensure=False,
        )
        updated = kmeans_update(assigned, vec_col, centroid_id_col).select(
            centroid_id_col, F.col("centroid_vec").alias(centroid_vec_col)
        )
        # empty clusters: fall back to the previous centroid so k is stable
        cents = (
            cents.alias("prev")
            .join(updated.alias("upd"), on=centroid_id_col, how="left")
            .select(
                F.col(centroid_id_col),
                F.coalesce(
                    F.col(f"upd.{centroid_vec_col}"),
                    F.col(f"prev.{centroid_vec_col}"),
                ).alias(centroid_vec_col),
            )
            .localCheckpoint(eager=False)
        )
    return cents


def probe_cells(
    centroids_df: DataFrame,
    q: str,
    n_probe: int,
    centroid_vec_col: str = "centroid_vec",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """The ``n_probe`` centroid ids nearest a single query vector — the
    probe-selection step every single-query IVF variant shares (plain IVF
    and IVFPQ use this helper; the batch form in :func:`ivf_search_join`
    is the per-query-window generalization). ``q`` is the query vector's
    SQL fragment. Deterministic tie-break on centroid id; NULL distances
    (malformed centroid vectors) sort last."""
    qd = V.l2_dist(V.s_as_double_array(centroid_vec_col), q)
    return (
        centroids_df.select(
            F.col(centroid_id_col),
            qd.alias("__qd"),
        )
        .orderBy(F.col("__qd").asc_nulls_last(), F.col(centroid_id_col).asc())
        .limit(n_probe)
        .select(centroid_id_col)
    )


def ivf_search(
    corpus_df: DataFrame,
    centroids_df: DataFrame,
    query_vec: Sequence[float] | str,
    k: int,
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_vec_col: str = "centroid_vec",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF-style ANN: probe only the ``n_probe`` centroids nearest the query,
    brute-force search within their cells. At 100 TB with the corpus
    pre-assigned and partitioned by ``centroid_id`` (see :func:`ivf_assign`),
    partition pruning makes this scan ``n_probe / n_centroids`` of the data.
    """
    q = query_vec if isinstance(query_vec, str) else V.s_vec_lit(query_vec)
    assigned = ivf_assign(
        corpus_df, centroids_df, vec_col, id_col, centroid_vec_col, centroid_id_col
    )
    probe = probe_cells(centroids_df, q, n_probe, centroid_vec_col, centroid_id_col)
    cell = assigned.join(F.broadcast(probe), on=centroid_id_col, how="inner")
    # ensure=False: the probed cells inherit the assignment's partitions
    # (guarded inside ivf_assign when the corpus is big), and the
    # broadcast-join size ESTIMATE is inflated enough to misfire the
    # guard on fixture-scale inputs.
    return knn(cell, q, k, vec_col=vec_col, id_col=id_col, ensure=False)


# --- product quantization ----------------------------------------------------

def pq_subvectors(
    df: DataFrame,
    n_sub: int,
    sub_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ensure: bool = True,
) -> DataFrame:
    """Slice each vector into ``n_sub`` contiguous ``sub_dim``-wide
    subvectors → (id, s, sv) rows. Scan-side explode (no shuffle in the
    general case); the subspace index ``s`` becomes the join/grouping
    key for all later PQ stages, so every per-subspace step parallelizes
    across s. The input goes through :func:`ensure_parallelism` first —
    every downstream PQ stage (codeword assignment is n x n_sub x k
    interpreted sub-distances) pipelines into these output partitions,
    so a single-split scan would otherwise serialize all of it.
    ``ensure=False`` when the input already inherits guarded partitions
    (the IVF-probed cell subset in :func:`ivfpq_search`).
    """
    if ensure:
        # keyed by the id: pq_assign groups by (id, s) and the ADC score
        # aggregate by id — hash(id) satisfies both, so the whole encode+
        # score pipeline reuses this one exchange (guide §2.4)
        df = ensure_parallelism(df, key=id_col)
    v = V.as_double_array(vec_col)
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda s: F.struct(
            s.cast("int").alias("s"),
            F.slice(F.col("__v"), s * sub_dim + 1, sub_dim).alias("sv"),
        ),
    )
    return (
        df.withColumn("__v", v)
        .select(F.col(id_col), F.inline(subs))
    )


def pq_assign(
    subs_df: DataFrame,
    codebook_df: DataFrame,
    id_col: str = "vec_id",
    keep_sv: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment per (vector, subspace): broadcast the
    codebook (n_sub × k tiny subvectors — a parameter, not data), join on
    the subspace key, and argmin via ``min_by`` with the same rounded-L2 +
    centroid-id tie-break discipline as :func:`ivf_assign` — one partial+
    final aggregate, only one row per (vector, subspace) crosses the wire."""
    cents = F.broadcast(
        codebook_df.select("s", "centroid_id", F.col("cv").alias("__cent"))
    )
    scored = subs_df.join(cents, "s").withColumn(
        "__cdist", F.round(V.l2_dist("sv", "__cent"), 6)
    )
    carried = [F.col("sv").alias("sv")] if keep_sv else []
    best = scored.groupBy(id_col, "s").agg(
        F.min_by(
            F.struct(F.col("centroid_id"), *carried),
            F.struct(F.col("__cdist"), F.col("centroid_id")),
        ).alias("__best")
    )
    cols = [F.col(id_col), F.col("s"), F.col("__best.centroid_id").alias("code")]
    if keep_sv:
        cols.append(F.col("__best.sv").alias("sv"))
    return best.select(*cols)


def pq_train(
    corpus_df: DataFrame,
    n_sub: int,
    sub_dim: int,
    n_cent: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train per-subspace PQ codebooks: deterministic seeds (the ``n_cent``
    smallest ids' subvectors — any orderable id domain works, no
    dense-from-0 assumption) + one Lloyd update with decimal-exact
    component means (same order-independence discipline as
    :func:`kmeans_update`, here keyed by (s, centroid, pos)). Returns
    (s, centroid_id, cv). More Lloyd rounds = repeat assign/update."""
    subs = pq_subvectors(corpus_df, n_sub, sub_dim, vec_col, id_col)
    seed_ids = (
        corpus_df.select(id_col).distinct().orderBy(id_col).limit(n_cent)
    )
    seeds = subs.join(F.broadcast(seed_ids), on=id_col).select(
        "s", F.col(id_col).alias("centroid_id"), F.col("sv").alias("cv")
    )
    assigned = pq_assign(subs, seeds, id_col, keep_sv=True)
    parts = assigned.select(
        "s", F.col("code").alias("centroid_id"),
        F.posexplode("sv").alias("pos", "val"),
    )
    comp = parts.groupBy("s", "centroid_id", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(27,10)")).cast("double")
            / F.count("*")
        ).alias("mean")
    )
    return (
        comp.groupBy("s", "centroid_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mean"))
            ).alias("__pairs")
        )
        .select(
            "s", "centroid_id",
            F.transform(
                F.col("__pairs"), lambda p: F.round(p["mean"], 6)
            ).alias("cv"),
        )
    )


def pq_adc_search(
    corpus_df: DataFrame,
    codebook_df: DataFrame,
    query_vec: Sequence[float],
    n_sub: int,
    sub_dim: int,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ensure: bool = True,
) -> DataFrame:
    """Asymmetric-distance PQ search: encode the corpus to (vector,
    subspace) → code, build the query's per-(subspace, centroid) squared-
    distance lookup table (n_sub × k rows — broadcast), and score each
    vector as sqrt(Σ_s table[s][code_s]). Distance-table entries are
    rounded then summed as DECIMAL so the Σ is order-independent; top-k
    by (adist, id) is a TakeOrderedAndProject heap merge.

    This is the memory story FAISS IVFPQ tells at 100 TB: after encoding,
    search touches n_sub bytes per vector (codes) + a table the size of
    the codebook — the full float vectors never participate. Here the
    encode pass is recomputed from the scan; a real deployment persists
    the code columns once and scans only those thereafter."""
    subs = pq_subvectors(corpus_df, n_sub, sub_dim, vec_col, id_col, ensure)
    codes = pq_assign(subs, codebook_df, id_col)

    q_s = V.s_vec_lit(list(query_vec))
    dt = F.broadcast(
        codebook_df.select(
            "s", "centroid_id",
            F.round(
                V.l2_dist_sq(
                    "cv",
                    f"slice({q_s}, s * {int(sub_dim)} + 1, {int(sub_dim)})",
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("d2"),
        )
    )
    adist = (
        codes.join(dt, (codes.s == dt.s) & (codes.code == dt.centroid_id))
        .groupBy(id_col)
        .agg(F.round(F.sqrt(F.sum("d2").cast("double")), 6).alias("adist"))
    )
    ranked = adist.orderBy(F.col("adist").asc_nulls_last(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("adist").asc_nulls_last(), F.col(id_col).asc())
    return ranked.withColumn("rank", F.row_number().over(w).cast("int"))


def ivfpq_search(
    corpus_df: DataFrame,
    centroids_df: DataFrame,
    codebook_df: DataFrame,
    query_vec: Sequence[float],
    n_sub: int,
    sub_dim: int,
    k: int,
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_vec_col: str = "centroid_vec",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF + PQ composed: coarse-quantize to prune WHICH vectors are
    scored (n_probe/n_centroids of the corpus, partition-prunable), then
    PQ asymmetric distance to prune WHAT is read per vector (codes +
    lookup table, no floats). The two compressions are orthogonal —
    IVF cuts scan volume, PQ cuts bytes per scanned row — which is
    exactly FAISS's IVFPQ layout. Simplification vs FAISS: codes here
    quantize raw vectors, not cell residuals; residual encoding is the
    same pipeline with (vector − centroid) fed to pq_train/pq_assign."""
    q = V.s_vec_lit(list(query_vec))
    assigned = ivf_assign(
        corpus_df, centroids_df, vec_col, id_col, centroid_vec_col,
        centroid_id_col,
    )
    probe = probe_cells(
        centroids_df, q, n_probe, centroid_vec_col, centroid_id_col
    )
    cell = assigned.join(F.broadcast(probe), centroid_id_col).select(
        id_col, vec_col
    )
    # ensure=False: the probed cell subset inherits the assignment's
    # partitions (guarded in ivf_assign when the corpus is big); the
    # join-output size estimate would misfire the guard at fixture scale.
    return pq_adc_search(
        cell, codebook_df, query_vec, n_sub, sub_dim, k, vec_col, id_col,
        ensure=False,
    )
