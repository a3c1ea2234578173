"""Registry-wide physical-plan audit: compile EVERY declared query and
flag scale-killer shapes, with an explicit allowlist for the queries
whose "suspicious" operator is the intended design (documented per
entry). Complements tests/test_plans.py (which pins a handful of
load-bearing plans in depth) with breadth: a new query that silently
compiles to a cartesian product fails this audit before it ever meets
100 TB.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001 — plans,
not data, are under audit, so the smallest SF keeps it fast)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from create_proposals_using_vector_db_public_spark.plans import QUERIES
from create_proposals_using_vector_db_public_spark.session import get_spark

# A query vector enters its plan as a one-row broadcast frame, attached to
# the corpus by operators.knn.score_side's left join (which fails the plan
# when the row is absent): a nested loop over one build row.
_QUERY_ROW = {"nested_loop": "1-row query vector broadcast (score_side)"}

# query -> {flag: reason} for intentional uses of a flagged operator.
# Each entry names a query whose pinned plan signature
# (tools/plans/SIGNATURES.json) holds the flagged node;
# tests/test_plans.py checks both directions.
ALLOW: dict[str, dict[str, str]] = {
    "q_knn": _QUERY_ROW,
    "q_knn_cosine": _QUERY_ROW,
    "q_rank_l2": _QUERY_ROW,
    "q_vec_math": _QUERY_ROW,
    "q_cosine_topk": _QUERY_ROW,
    "q_pq_recall": _QUERY_ROW,
    "q_ann_lsh": _QUERY_ROW,
    "q_udf_embed_knn": _QUERY_ROW,
    # brute-force batch kNN IS a broadcast cross product of the tiny
    # query set by design; IVF/LSH/PQ are the plans that avoid it
    "q_knn_join": {"nested_loop": "broadcast query-set cross product"},
    "q_ann_recall": {"nested_loop": "exact side is knn_join by design"},
    "q_stub_knn": {"nested_loop": "single query vector vs corpus"},
    # 1-row broadcast parameter / stats tables crossJoined on purpose
    # (threshold, grid, codebook, global totals) — bounded by construction
    "q_ann_ivf": {
        "nested_loop": "broadcast centroid assignment (ivf_assign) + 1-row "
        "query vector"
    },
    "q_semdedup": {
        "nested_loop": "broadcast centroid-assignment cross join "
        "(ivf_assign, ncent = max(32, n//625) scales with the corpus); "
        "the within-cluster pair stage is a SortMergeJoin on the "
        "cluster key"
    },
    # same plan body as q_semdedup: the keep stage has no checkpoint, so
    # the assignment subtree with its bounded broadcast cross join shows
    # in all three configs' plans; exchange reuse runs it once
    "q_semdedup_capped": {
        "nested_loop": "broadcast centroid-assignment cross join "
        "(ivf_assign; same plan body as q_semdedup, capped ncent)"
    },
    "q_semdedup_sqrt": {
        "nested_loop": "broadcast centroid-assignment cross join "
        "(ivf_assign; same plan body as q_semdedup, sqrt ncent)"
    },
    "q_ann_ivf_kmeans": {
        "nested_loop": "broadcast centroid assignment (ivf_assign) + 1-row "
        "query vector"
    },
    "q_rrf_fusion": {
        "nested_loop": "1-row stub query vector + 1-row corpus stats "
        "broadcast cross joins"
    },
    "q_e2e_rag": {
        "nested_loop": "1-row BM25 corpus stats (avgdl, n_docs) + 1-row "
        "stub query vector broadcast cross joins"
    },
    "q_mmr_rerank": {"nested_loop": "1-row query vector"},
    "q_query_expansion": {
        "nested_loop": "1-row corpus-stats broadcast cross joins in both "
        "BM25 passes"
    },
    "q_bpe_encode": {
        "nested_loop": "1-row pivoted merge-table broadcast cross join"
    },
    "q_ann_rerank": {
        "nested_loop": "1-row SQ grid, query-codes and query vector "
        "broadcasts"
    },
    "q_minhash_eval": {
        "nested_loop": "two 1-row metric aggregates cross joined"
    },
    "q_minhash_wide_eval": {
        "nested_loop": "two 1-row metric aggregates cross joined"
    },
    "q_simhash_eval": {
        "nested_loop": "two 1-row metric aggregates cross joined"
    },
    "q_winnow_eval": {
        "nested_loop": "two 1-row metric aggregates cross joined"
    },
    "q_dataset_card": {
        "nested_loop": "two 1-row summary aggregates cross joined"
    },
    "q_ann_ivfpq": {"nested_loop": "1-row query + codebook broadcast"},
    "q_sq_recall": {"nested_loop": "1-row grid/query broadcasts"},
    "q_cust_no_orders": {"nested_loop": "1-row scalar-average threshold"},
    "q_important_parts": {"nested_loop": "1-row global value threshold"},
    "q_dsir_select": {"nested_loop": "1-row above-mean threshold"},
    "q_negative_sample": {"nested_loop": "1-row id-space size parameter"},
    "q_collocations": {"nested_loop": "1-row vocabulary-map broadcast"},
    "q_zonemap_prune": {"nested_loop": "1-row zone-count aggregates"},
    "q_domain_mix": {"nested_loop": "1-row mix-weight table"},
    "q_contingency": {"nested_loop": "1-row chi-square totals"},
    "q_bloom_join": {"nested_loop": "1-row bitmap broadcast"},
    "q_tfidf": {"nested_loop": "1-row corpus-size (N) for idf"},
    "q_bm25": {"nested_loop": "1-row (N, avgdl) stats"},
    "q_rare_terms": {"nested_loop": "1-row corpus-total for rarity"},
    "q_gap_fill": {"nested_loop": "bounded days x event-types densify grid"},
    "q_triangle_count": {"nested_loop": "two 1-row count aggregates"},
}
# query -> reason for its unpartitioned windows: each runs in ONE task, so
# it is fine only over a bounded input. A window whose child is
# TakeOrderedAndProject ranks the k rows of a top-k and needs no entry.
_WINDOW_OK: dict[str, str] = {
    "q_yoy_growth": "lag over the |months|-row calendar aggregate",
    "q_top_revenue": "max over the |suppliers|-row revenue aggregate",
    "q_collocations": "pair total over the aggregated pair table "
    "(bounded by |vocab|^2, never the corpus)",
    "q_share_of_parent": "parent totals over the |nations|-row "
    "(region, nation) aggregate",
    "q_skyline": "running max over the |distinct prices|-row aggregate",
    "q_ntile": "global quartiles need one total order over customer, a "
    "dimension table; ntile has no per-partition form",
    "q_udf_embed_knn": "lag/row_number invariant checks over the 5 rows "
    "the kNN top-k ranked",
}

FLAGS = {
    "cartesian": re.compile(r"CartesianProduct"),
    "nested_loop": re.compile(r"BroadcastNestedLoopJoin"),
}

# tree line `+- Window (N)` and the node on the line below it, its child
_WINDOW_CHILD = re.compile(r"\bWindow \((\d+)\)\n.*?(\w[\w ]*?) \(\d+\)")
_WINDOW_ARGS = re.compile(r"^\((\d+)\) Window\n(?:.*\n)*?Arguments: (.*)$", re.M)


def _first_spec_item(args: str) -> str:
    """The first top-level item of the first ``windowspecdefinition(``
    in a Window node's arguments."""
    start = args.index("windowspecdefinition(") + len("windowspecdefinition(")
    depth = 0
    for end in range(start, len(args)):
        c = args[end]
        if c in "([":
            depth += 1
        elif c in ")]":
            if depth == 0:
                break
            depth -= 1
        elif c == "," and depth == 0:
            break
    return args[start:end]


def unpartitioned_windows(plan: str) -> list[str]:
    """Node ids of the Window nodes in an ``explain("formatted")`` text
    that have no partition key, leaving out those over a
    TakeOrderedAndProject. A window spec lists its partition keys first,
    so an unpartitioned one starts with an order key (`` ASC``/``
    DESC``) or with its frame."""
    child = dict(_WINDOW_CHILD.findall(plan))
    found = []
    for node, args in _WINDOW_ARGS.findall(plan):
        item = _first_spec_item(args)
        unpartitioned = (
            " ASC" in item or " DESC" in item
            or item.startswith("specifiedwindowframe")
        )
        if unpartitioned and child.get(node) != "TakeOrderedAndProject":
            found.append(node)
    return found


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit", shuffle_partitions=8)
    problems: list[str] = []
    for name, fn in QUERIES.items():
        try:
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001 - report, don't abort the audit
            problems.append(f"{name}: explain failed: {e}")
            continue
        for flag, rx in FLAGS.items():
            if rx.search(plan) and flag not in ALLOW.get(name, {}):
                problems.append(f"{name}: unexpected {flag}")
        windows = unpartitioned_windows(plan)
        if windows and name not in _WINDOW_OK:
            problems.append(f"{name}: single-partition window(s) {windows}")
    spark.stop()
    if problems:
        print("PLAN AUDIT FINDINGS:")
        for p in problems:
            print("  " + p)
        print(f"{len(problems)} finding(s)")
        return 1
    print(f"plan audit clean: {len(QUERIES)} queries, 0 findings")
    return 0


if __name__ == "__main__":
    sys.exit(main())
