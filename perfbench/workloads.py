"""The benchmark's workloads: which registered queries run, on data of
which scale factor, and why. Inputs are generated from the run's seed by
``tools/gen_sf.generate``; the engine only ever sees the directory."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="construct",
            sf=0.01,
            queries=(
                "q_join_broadcast", "q_vec_math", "q_knn", "q_stream_tumbling",
                "q_bucketed_join",
            ),
            why="sf0.01 registry slice: vector queries, a streaming query and a "
                "bucketed-table write; building plans (table opens, writes, "
                "micro-batches) is most of it, so sources/functions/plans gains show",
        ),
        Workload(
            name="execute",
            sf=0.1,
            queries=(
                "q_knn_join", "q_topk_per_group", "q_json_props", "q_tfidf",
                "q_agg_basic",
            ),
            why="sf0.1 headline queries (vector kNN join, per-group top-k, JSON, "
                "TF-IDF, wide aggregate) whose time is mostly Spark jobs; "
                "execution gains show here, plan-construction gains should not",
        ),
    )
}
