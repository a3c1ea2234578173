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
- the top-k (``selection.top_k``: ``orderBy(dist).limit(k)``) compiles to
  ``TakeOrderedAndProject`` — each partition keeps a k-sized heap, the
  driver merges P*k candidates. No full sort, no shuffle of vectors. This
  is the right plan at any scale.
- For many simultaneous queries use :func:`knn_join` (broadcast the query
  side), and for sub-linear search :func:`ivf_search` / the LSH bucketing in
  ``operators.dedup`` — both prune the scanned fraction instead of scanning
  everything.

Every score here is built by :func:`score_side`. A query vector enters
a plan as a frame whose one row holds it, never as a literal fetched
while the plan is built.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V
from . import selection as S


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
    optimization pass on the guarded subtree.

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


QUERY_ABSENT = "score_side: no query vector (query row absent or NULL)"


def score_side(
    corpus: DataFrame,
    vec: str,
    side: DataFrame,
    side_vec: str,
    on: list[str],
    how: str,
    scores: dict[str, Callable[[str, str], str]],
) -> DataFrame:
    """Score every ``corpus`` row against the broadcast ``side`` rows it
    meets — one query, a query batch, the IVF centroids or a PQ codebook.

    The corpus's ``vec`` becomes the array<double> ``__v``, the side's
    ``side_vec`` becomes ``__q``; the side joins on the ``on`` keys
    (``[]``: every side row). Each ``scores`` entry is an output column
    and its distance fragment (``{"dist": V.s_l2_dist}``), built by
    ``V.s_score`` over ``__v`` and ``__q``. ``how="left"`` is for the
    query, which every corpus row must meet: an absent query row fails
    the plan when it runs (``QUERY_ABSENT``) instead of ranking nothing.
    ``how="inner"`` keeps the pairs that meet. Call
    :func:`ensure_parallelism` on the corpus first, so its partition
    probe sees the corpus plan alone."""
    v = corpus.withColumn("__v", V.as_double_array(vec))
    q = side.withColumn("__q", V.as_double_array(side_vec)).drop(side_vec)
    joined = v.join(F.broadcast(q), on=on or None, how=how)
    if how == "left":
        joined = joined.withColumn(
            "__q", F.coalesce("__q", F.raise_error(F.lit(QUERY_ABSENT)))
        )
    return joined.withColumns(
        {c: F.expr(V.s_score(d, "__v", "__q")) for c, d in scores.items()}
    )


def score_query(
    corpus: DataFrame,
    query: DataFrame,
    vec: str,
    scores: dict[str, Callable[[str, str], str]],
) -> DataFrame:
    """:func:`score_side` for one query: every ``corpus`` row scored
    against the one row of ``query``, both vectors in column ``vec``."""
    return score_side(corpus, vec, query.select(vec), vec, [], "left", scores)


def nearest_first(score: str, id_col: str) -> list[Column]:
    """The order of every nearest-neighbour cut: ``score`` ascending with
    NULL scores (a NULL vector) last, ties broken by ``id_col``, so the
    cut is the same on every run and partitioning."""
    return [F.col(score).asc_nulls_last(), F.col(id_col).asc()]


_KNN_SCORES = {"dist": V.s_l2_dist, "cosine": V.s_cosine_sim}


def _nearest(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """The top-k of a :func:`score_side` output by ``dist``, without the
    vectors."""
    return S.top_k(scored, nearest_first("dist", id_col), k).drop(
        "embedding", "__v", "__q"
    )


def knn(
    df: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    ensure: bool = True,
) -> DataFrame:
    """Exact top-k by L2 distance over ``embedding``, with cosine reported
    (not ranked by).

    ``query`` is a frame whose one row holds the query vector in
    ``embedding`` (a stored row: ``emb.filter(F.col("vec_id") == 0)``).
    Returns the input columns (minus the raw vector) plus ``dist``,
    ``cosine`` and 1-based ``rank``. Ties broken by ``id_col`` so results
    are deterministic for the oracle; ``dist`` and ``cosine`` are rounded
    to 6 decimals. The corpus goes through :func:`ensure_parallelism` —
    the per-row distance expressions are interpreted array work that must
    not serialize onto one scan split. Pass ``ensure=False`` when the
    input is known-small (a rerank candidate set) and the repartition
    would be pure overhead, and when the input already holds an exchange
    (a join or aggregate output): the guard's partition probe would run
    that input's upstream stages as jobs while the plan is built.
    """
    if ensure:
        df = ensure_parallelism(df)
    return _nearest(score_query(df, query, "embedding", _KNN_SCORES), id_col, k)


def knn_join(queries_df: DataFrame, corpus_df: DataFrame, k: int) -> DataFrame:
    """Top-k per query for a (small) batch of ``(query_id, query_vec)``
    queries over a ``(vec_id, embedding)`` corpus: broadcast the query
    side, one pass over the corpus, window top-k per query.

    At scale the corpus is the 100 TB side and stays partitioned in place;
    the queries are broadcast (they are user requests — tiny). The only
    shuffle is on ``query_id`` for the per-query top-k, with k rows per
    (partition, query) surviving the map side.
    """
    corpus = ensure_parallelism(corpus_df.select("vec_id", "embedding"))
    scored = score_side(
        corpus, "embedding", queries_df, "query_vec", [], "inner",
        {"dist": V.s_l2_dist},
    )
    return S.top_k_per(
        scored, ["query_id"], nearest_first("dist", "vec_id"), k
    ).select("query_id", "vec_id", "dist", "rank")


def _nearest_centroid() -> Column:
    """The ``min_by`` key of a centroid argmin, in :func:`nearest_first`'s
    order: a NULL ``__cdist`` (a NULL vector on either side) last, ties
    broken by ``centroid_id``. A struct whose first field is NULL sorts
    before every non-NULL one, hence the leading ``IS NULL`` flag."""
    return F.struct(
        F.col("__cdist").isNull(), F.col("__cdist"), F.col("centroid_id")
    )


def ivf_assign(corpus_df: DataFrame, centroids_df: DataFrame) -> DataFrame:
    """IVF coarse quantization: assign every ``(vec_id, embedding, ...)``
    corpus vector to its nearest ``(centroid_id, centroid_vec)`` centroid.

    Centroids are broadcast (there are hundreds-to-thousands of them even at
    100 TB); assignment is a broadcast cross join + per-vector argmin via a
    ``min_by`` aggregation. The aggregate gets map-side partial combine, so
    the corpus×centroids blowup collapses back to one row per vector BEFORE
    the shuffle — only n rows (not n×k) ever cross the wire, and there is
    no per-group sort (a window argmin would shuffle and sort all n×k).
    Ties broken by ``centroid_id`` via lexicographic struct comparison, so
    assignment is deterministic (SURVEY §7 trap 5).

    Parallelism: assignment is compute-dense (k interpreted array-L2s
    per row) but byte-light, so the corpus goes through
    :func:`ensure_parallelism` — without it a single-row-group parquet
    scan runs all n x k distances in ONE task (the sf10 proof's
    multi-minute straggler).
    """
    # keyed by the id: the argmin groupBy below clusters on vec_id, so the
    # guard's exchange doubles as the aggregate's distribution — one
    # shuffle of the corpus instead of round-robin + groupBy(id)
    corpus_df = ensure_parallelism(corpus_df, key="vec_id")
    rest = [c for c in corpus_df.columns if c != "vec_id"]
    scored = score_side(
        corpus_df, "embedding", centroids_df.select("centroid_id", "centroid_vec"),
        "centroid_vec", [], "inner", {"__cdist": V.s_l2_dist},
    )
    best = scored.groupBy("vec_id").agg(
        F.min_by(
            F.struct(F.col("__cdist"), F.col("centroid_id"), *rest),
            _nearest_centroid(),
        ).alias("__best")
    )
    return best.select(
        "vec_id",
        *[F.col(f"__best.{c}") for c in rest],
        F.col("__best.centroid_id").alias("centroid_id"),
        F.col("__best.__cdist").alias("centroid_dist"),
    )


def lsh_search(
    corpus_df: DataFrame,
    query: DataFrame,
    k: int,
    n_planes: int = 4,
) -> DataFrame:
    """Hyperplane-LSH ANN over a ``(vec_id, embedding, ...)`` corpus:
    bucket every vector by the sign pattern of ``n_planes`` deterministic
    projections (operators.dedup.random_hyperplane_block — the same
    blocks the embedding near-dup family uses), then exact-search only the
    query's bucket.

    The other scale path next to :func:`ivf_search`: no codebook to train,
    2^n_planes buckets, and with the corpus partitioned by block the scan
    prunes to ~1/2^n_planes of the data. Candidates from the bucket
    are scored and ranked as :func:`knn` does (L2 order, cosine
    reported, 1-based rank). ``query`` is a frame whose one row holds the
    query vector in ``embedding``; each row compares its block with the
    query's, and only the query's bucket is scored.
    """
    from . import dedup as D

    scored = score_query(
        ensure_parallelism(corpus_df), query, "embedding", _KNN_SCORES
    )
    cell = scored.filter(
        D.random_hyperplane_block("__v", n_planes)
        == D.random_hyperplane_block("__q", n_planes)
    )
    return _nearest(cell, "vec_id", k)


def ivf_search_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    centroids_df: DataFrame,
    k: int,
    n_probe: int = 1,
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
    # probe set: n_probe nearest centroids per query (both sides tiny),
    # ordered by the unrounded distance, as the oracle's probe is
    qc = score_side(
        queries_df.select("query_id", "query_vec"), "query_vec",
        centroids_df.select("centroid_id", "centroid_vec"), "centroid_vec",
        [], "inner", {},
    ).withColumn("__qd", V.l2_dist("__v", "__q"))
    probes = S.top_k_per(
        qc, ["query_id"], nearest_first("__qd", "centroid_id"), n_probe, "__pn"
    ).select("query_id", "centroid_id", F.col("__v").alias("__qv"))
    assigned = ivf_assign(corpus_df.select("vec_id", "embedding"), centroids_df)
    scored = score_side(
        assigned, "embedding", probes, "__qv", ["centroid_id"], "inner",
        {"dist": V.s_l2_dist},
    )
    return S.top_k_per(
        scored, ["query_id"], nearest_first("dist", "vec_id"), k
    ).select("query_id", "vec_id", "dist", "rank")


def kmeans_update(assigned_df: DataFrame) -> DataFrame:
    """One Lloyd update step: component-wise mean of the ``embedding``
    vectors assigned to each ``centroid_id`` → (centroid_id, centroid_vec).

    Shape: posexplode to (centroid, pos, value) → decimal-sum aggregate →
    rebuild the array. One shuffle keyed by (centroid_id, pos) — dim×k
    groups, trivially parallel, no vector ever crosses the wire whole.
    Means are computed from DECIMAL(27,10) sums so the result is
    order-independent (bit-identical across runs, partitionings, and
    engines — SURVEY §7 trap 5), then rounded to 6 decimals.
    """
    parts = assigned_df.select(
        F.col("centroid_id"),
        F.posexplode(V.as_double_array("embedding")).alias("__pos", "__val"),
    )
    comp = parts.groupBy("centroid_id", "__pos").agg(
        (
            F.sum(F.col("__val").cast("decimal(27,10)")).cast("double")
            / F.count("*")
        ).alias("__mean")
    )
    return (
        comp.groupBy("centroid_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__mean")))
            ).alias("__pairs")
        )
        .select(
            "centroid_id",
            F.transform(
                F.col("__pairs"), lambda p: F.round(p["__mean"], 6)
            ).alias("centroid_vec"),
        )
    )


def probe_cells(
    centroids_df: DataFrame, query: DataFrame, n_probe: int
) -> DataFrame:
    """The ``n_probe`` centroid ids nearest a single query vector — the
    probe-selection step every single-query IVF variant shares (plain IVF
    and IVFPQ use this helper; the batch form in :func:`ivf_search_join`
    is the per-query-window generalization). ``query`` is a frame whose
    one row holds the query vector in ``embedding``. The order is the
    unrounded distance, as the oracles' probes order; ties break by
    centroid id, and NULL distances (malformed centroid vectors) sort
    last."""
    qd = score_side(
        centroids_df.select("centroid_id", "centroid_vec"), "centroid_vec",
        query.select("embedding"), "embedding", [], "left", {},
    ).select("centroid_id", V.l2_dist("__v", "__q").alias("__qd"))
    return (
        qd.orderBy(*nearest_first("__qd", "centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )


def ivf_search(
    corpus_df: DataFrame,
    centroids_df: DataFrame,
    query: DataFrame,
    k: int,
    n_probe: int = 1,
) -> DataFrame:
    """IVF-style ANN: probe only the ``n_probe`` centroids nearest the query,
    brute-force search within their cells. ``query`` is a frame whose one
    row holds the query vector in ``embedding``. At 100 TB with the corpus
    pre-assigned and partitioned by ``centroid_id`` (see :func:`ivf_assign`),
    partition pruning makes this scan ``n_probe / n_centroids`` of the data.
    """
    assigned = ivf_assign(corpus_df, centroids_df)
    probe = probe_cells(centroids_df, query, n_probe)
    cell = assigned.join(F.broadcast(probe), on="centroid_id", how="inner")
    # ensure=False: the probed cell holds the assignment's exchange, which
    # already spreads it, and ensure_parallelism's partition-count probe
    # would run every stage upstream of that exchange at build time.
    return knn(cell, query, k, ensure=False)


# --- product quantization ----------------------------------------------------

def pq_subvectors(
    df: DataFrame,
    n_sub: int,
    sub_dim: int,
    ensure: bool = True,
) -> DataFrame:
    """Slice each ``embedding`` into ``n_sub`` contiguous ``sub_dim``-wide
    subvectors → (vec_id, s, sv) rows. Scan-side explode (no shuffle in the
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
        df = ensure_parallelism(df, key="vec_id")
    return df.withColumn("__v", V.as_double_array("embedding")).select(
        F.col("vec_id"), _subspaces(n_sub, sub_dim)
    )


def _subspaces(n_sub: int, sub_dim: int) -> Column:
    """``__v`` as ``n_sub`` ``(s, sv)`` rows of ``sub_dim`` elements."""
    return F.inline(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda s: F.struct(
                s.cast("int").alias("s"),
                F.slice(F.col("__v"), s * sub_dim + 1, sub_dim).alias("sv"),
            ),
        )
    )


def pq_assign(
    subs_df: DataFrame,
    codebook_df: DataFrame,
    keep_sv: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment per (vector, subspace): broadcast the
    codebook (n_sub × k tiny subvectors — a parameter, not data), join on
    the subspace key, and argmin via ``min_by`` with the same rounded-L2 +
    centroid-id tie-break discipline as :func:`ivf_assign` — one partial+
    final aggregate, only one row per (vector, subspace) crosses the wire."""
    scored = score_side(
        subs_df, "sv", codebook_df.select("s", "centroid_id", "cv"), "cv",
        ["s"], "inner", {"__cdist": V.s_l2_dist},
    )
    carried = [F.col("sv").alias("sv")] if keep_sv else []
    best = scored.groupBy("vec_id", "s").agg(
        F.min_by(
            F.struct(F.col("centroid_id"), *carried), _nearest_centroid()
        ).alias("__best")
    )
    cols = [F.col("vec_id"), F.col("s"), F.col("__best.centroid_id").alias("code")]
    if keep_sv:
        cols.append(F.col("__best.sv").alias("sv"))
    return best.select(*cols)


def pq_train(
    corpus_df: DataFrame,
    n_sub: int,
    sub_dim: int,
    n_cent: int,
) -> DataFrame:
    """Train per-subspace PQ codebooks: deterministic seeds (the ``n_cent``
    smallest ids' subvectors — any orderable id domain works, no
    dense-from-0 assumption) + one Lloyd update with decimal-exact
    component means (same order-independence discipline as
    :func:`kmeans_update`, here keyed by (s, centroid, pos)). Returns
    (s, centroid_id, cv). More Lloyd rounds = repeat assign/update."""
    subs = pq_subvectors(corpus_df, n_sub, sub_dim)
    seed_ids = (
        corpus_df.select("vec_id").distinct().orderBy("vec_id").limit(n_cent)
    )
    seeds = subs.join(F.broadcast(seed_ids), on="vec_id").select(
        "s", F.col("vec_id").alias("centroid_id"), F.col("sv").alias("cv")
    )
    assigned = pq_assign(subs, seeds, keep_sv=True)
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
    query: DataFrame,
    n_sub: int,
    sub_dim: int,
    k: int,
    ensure: bool = True,
) -> DataFrame:
    """Asymmetric-distance PQ search: encode the corpus to (vector,
    subspace) → code, build the query's per-(subspace, centroid) squared-
    distance lookup table (n_sub × k rows — broadcast), and score each
    vector as sqrt(Σ_s table[s][code_s]). Distance-table entries are
    rounded then summed as DECIMAL so the Σ is order-independent; top-k
    by (adist, id) is a TakeOrderedAndProject heap merge. ``query`` is a
    frame whose one row holds the query vector in ``embedding``; its
    ``n_sub`` slices meet the codewords of their subspace.

    This is the memory story FAISS IVFPQ tells at 100 TB: after encoding,
    search touches n_sub bytes per vector (codes) + a table the size of
    the codebook — the full float vectors never participate. Here the
    encode pass is recomputed from the scan; a real deployment persists
    the code columns once and scans only those thereafter."""
    subs = pq_subvectors(corpus_df, n_sub, sub_dim, ensure)
    codes = pq_assign(subs, codebook_df)
    q_subs = query.select(V.as_double_array("embedding").alias("__v")).select(
        _subspaces(n_sub, sub_dim)
    )
    dt = F.broadcast(
        score_side(
            codebook_df.select("s", "centroid_id", "cv"), "cv", q_subs, "sv",
            ["s"], "left", {"d2": V.s_l2_dist_sq},
        ).select("s", "centroid_id", F.col("d2").cast("decimal(18,6)"))
    )
    adist = (
        codes.join(dt, (codes.s == dt.s) & (codes.code == dt.centroid_id))
        .groupBy("vec_id")
        .agg(F.round(F.sqrt(F.sum("d2").cast("double")), 6).alias("adist"))
    )
    return S.top_k(adist, nearest_first("adist", "vec_id"), k)


def ivfpq_search(
    corpus_df: DataFrame,
    centroids_df: DataFrame,
    codebook_df: DataFrame,
    query: DataFrame,
    n_sub: int,
    sub_dim: int,
    k: int,
    n_probe: int = 1,
) -> DataFrame:
    """IVF + PQ composed: coarse-quantize to prune WHICH vectors are
    scored (n_probe/n_centroids of the corpus, partition-prunable), then
    PQ asymmetric distance to prune WHAT is read per vector (codes +
    lookup table, no floats). The two compressions are orthogonal —
    IVF cuts scan volume, PQ cuts bytes per scanned row — which is
    exactly FAISS's IVFPQ layout. Simplification vs FAISS: codes here
    quantize raw vectors, not cell residuals; residual encoding is the
    same pipeline with (vector − centroid) fed to pq_train/pq_assign."""
    assigned = ivf_assign(corpus_df, centroids_df)
    probe = probe_cells(centroids_df, query, n_probe)
    cell = assigned.join(F.broadcast(probe), "centroid_id").select(
        "vec_id", "embedding"
    )
    # ensure=False: the probed cell holds the assignment's exchange, which
    # already spreads it, and ensure_parallelism's partition-count probe
    # would run every stage upstream of that exchange at build time.
    return pq_adc_search(
        cell, codebook_df, query, n_sub, sub_dim, k, ensure=False
    )
